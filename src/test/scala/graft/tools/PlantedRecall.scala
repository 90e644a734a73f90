package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Planted, Pq, Similarity, Sq8}

/** Dev tool (not library surface): ANN recall measured AT SCALE on
  * the planted-neighborhood fixture — the honest version of the
  * q137/q144 recall numbers. On the driver's near-random embeddings
  * recall@10 is data-bounded at 0.26-0.36 for ANY quantizer
  * (NOTES_r7), so those runs price the IVF restriction but say
  * nothing about codebook quality; on [[Planted.vectors]] the true
  * top-10 is provably each vector's cluster mates, so the number
  * reported here moves when quantization quality moves
  * (`AnnRecallSpec` proves the same at fixture scale by mutation).
  *
  * Pipeline is the q144 composed IVF-PQ shape at dim 64: seed
  * codebook from the id prefix (the planted layout puts one member
  * of cluster c at id c, so k=64 seeds cover every axis and all four
  * sub-spaces), one Lloyd refine, encode, centroid routing to
  * nprobe=2 of the `nClusters` label cells, in-cell ADC ranking,
  * recall@10 vs the exact global top-10 for `nQueries` sampled
  * queries.
  *
  * The routed SQ8 form (q179's int8 × IVF composition,
  * [[graft.operators.Sq8.searchTopKInCells]]) runs over the same
  * probes and ground truth, so its at-scale recall/latency land in
  * the same artifact line.
  *
  * Usage: Test/runMain graft.PlantedRecall [nClusters] [perCluster] [nQueries]
  * (defaults 1000 x 1000 = 1M vectors, 50 queries)
  */
object PlantedRecall {
  def main(args: Array[String]): Unit = {
    val nClusters = args.lift(0).map(_.toInt).getOrElse(1000)
    val perCluster = args.lift(1).map(_.toInt).getOrElse(1000)
    val nQueries = args.lift(2).map(_.toInt).getOrElse(50)
    val dim = 64
    // codebook size is the quality dial: the planted structure packs
    // (dim/subDim axes x nClusters/dim scales) distinct sub-vector
    // patterns per sub-space, so recall should RISE with k — the
    // at-scale demonstration that the metric tracks quantizer quality
    val k = args.lift(3).map(_.toInt).getOrElse(64)
    // SQ8 oversample m (the recall/bandwidth dial of the int8 leg)
    val sq8m = args.lift(4).map(_.toInt).getOrElse(30)
    val (subs, subDim) = (4, 16)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val t0 = System.nanoTime()
    val e = Planted.vectors(spark, nClusters, perCluster, dim)
      .localCheckpoint(true)
    val tGen = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    val cb0 = Pq.codebook(e, "vec_id", "embedding",
      subs = subs, subDim = subDim, k = k)
    val cb = Pq.refine(e, "vec_id", "embedding", cb0, subDim = subDim)
      .localCheckpoint(true)
    val enc = Pq.encode(e, "vec_id", "embedding", cb, subDim = subDim)
      .join(e.select(col("vec_id"), col("label")), Seq("vec_id"))
      .localCheckpoint(true)
    val tIndex = (System.nanoTime() - t1) / 1e9

    // queries: one member of every ~(nClusters/nQueries)-th cluster,
    // NOT a seed row (seeds quantize to themselves)
    val stride = math.max(nClusters / nQueries, 1)
    val q = e.filter(col("vec_id") >= nClusters &&
        col("vec_id") < 2L * nClusters &&
        (col("label") % stride) === 0)
      .limit(nQueries).localCheckpoint(true)

    val t2 = System.nanoTime()
    val cent = Similarity.centroids(e, "label", "embedding", dim)
    val wCent = Window.partitionBy(col("q_id"))
      .orderBy(col("c_cos").desc, col("part"))
    val probes = q
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .crossJoin(broadcast(cent))
      .select(col("q_id"), col("part"),
        Similarity.cosine(col("q_emb"), col("centroid")).as("c_cos"))
      .withColumn("rn", row_number().over(wCent))
      .filter(col("rn") <= 2)
      .select(col("q_id").as("vec_id"), col("part").as("label"))
    val est = Pq.adcTopKInCells(q, "vec_id", "embedding",
        enc, "vec_id", "label", probes, cb, subDim = subDim, k = 10)
      .localCheckpoint(true)
    val tAnn = (System.nanoTime() - t2) / 1e9

    val t3 = System.nanoTime()
    val exact = Pq.exactTopK(q, "vec_id", "embedding",
        e, "vec_id", "embedding", k = 10)
      .localCheckpoint(true)
    val tExact = (System.nanoTime() - t3) / 1e9

    def recall10(est: org.apache.spark.sql.DataFrame): (Double, Long) = {
      val (hitSum, nq) = est.join(
          exact.select(col("q_id"), col("n_id"), lit(1L).as("hit")),
          Seq("q_id", "n_id"), "left")
        .groupBy(col("q_id"))
        .agg((sum(coalesce(col("hit"), lit(0L))) / lit(10.0)).as("r"))
        .agg(sum(col("r")), count(lit(1)))
        .as[(Double, Long)].collect().head
      (hitSum / nq, nq)
    }
    val (recall, nq) = recall10(est)

    // routed SQ8 over the SAME probes and ground truth (q179's
    // composition at corpus scale): int8 scan confined to the probed
    // cells, exact-cosine re-rank of the top 3k nominations — the
    // planted structure makes the L2 and cosine top-10 coincide
    // (cluster mates), so one exact baseline serves both indexes
    val t4 = System.nanoTime()
    val sq8 = Sq8.searchTopKInCells(q, e, "vec_id", "embedding",
        "label", probes, m = sq8m, k = 10)
      .localCheckpoint(true)
    val tSq8 = (System.nanoTime() - t4) / 1e9
    val (recallSq8, _) = recall10(sq8)

    def r4(v: Double) = math.round(v * 10000) / 10000.0
    println(s"""{"metric":"planted_recall10","n":${nClusters.toLong *
      perCluster},"dim":$dim,"clusters":$nClusters,"queries":$nq,""" +
      s""""recall10":${r4(recall)},"sq8_m":$sq8m,""" +
      s""""sq8_recall10":${r4(recallSq8)},""" +
      s""""gen_sec":${r4(tGen)},""" +
      s""""index_sec":${r4(tIndex)},"ann_sec":${r4(tAnn)},""" +
      s""""sq8_sec":${r4(tSq8)},"exact_sec":${r4(tExact)}}""")
    spark.stop()
  }
}
