package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Exact
import graft.operators.{Graph, Pq}

/** Dev-only probe (r16): decide the VERDICT item-3 "prove or revert"
  * questions with same-JVM A/B measurements at two scale factors.
  *
  *  - q237 edge build: collect_set+pair-explode (r15 form) vs the
  *    declarative lineitem self-join (pre-r15 form), each feeding
  *    the identical recursive CTE.
  *  - q216 pair frame: Ckpt.cut the co-occurrence pairs (r15 form)
  *    vs recompute-per-reference (pre-r15 form).
  *  - Pq.refine's (j, code, pos) mean aggregate at q137's shape (one
  *    partition of exploded sub-vector elements, materialized once):
  *    the decimal(27,7) sum it replaced vs [[graft.functions.Exact]].
  *
  * Variants run alternately, rep by rep, after one warm-up run each.
  *
  * Usage: Test/runMain graft.ProbeRevert <sfDir> <reps> [variants]
  *   variants ⊆ {e237agg, e237join, q216ckpt, q216lazy, refineDec,
  *   refineExact}
  */
object ProbeRevert {

  private def cte(s: SparkSession, d: String): DataFrame = {
    Model.registerViews(s, d, "part")
    s.sql(s"""
      WITH RECURSIVE reach(id, hop) AS (
        SELECT p_partkey AS id, 0 AS hop
        FROM part WHERE p_partkey % 199 = 3
        UNION ALL
        SELECT DISTINCT e.dst AS id, r.hop + 1 AS hop
        FROM reach r JOIN q237_edges e ON e.src = r.id
        WHERE r.hop < 3)
      SELECT id, MIN(hop) AS hop
      FROM reach GROUP BY id ORDER BY id""")
  }

  def q237agg(s: SparkSession, d: String): DataFrame = {
    Model.registerViews(s, d, "part")
    Graph.coOccurrenceEdges(Tables.lineitem(s, d),
        "l_orderkey", "l_partkey")
      .select(col("src"), col("dst")).distinct()
      .localCheckpoint(true)
      .createOrReplaceTempView("q237_edges")
    cte(s, d)
  }

  def q237join(s: SparkSession, d: String): DataFrame = {
    Model.registerViews(s, d, "lineitem", "part")
    s.sql("""
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey <> b.l_partkey""")
      .localCheckpoint(true)
      .createOrReplaceTempView("q237_edges")
    cte(s, d)
  }

  private def q216body(pairs: DataFrame): DataFrame = {
    val deg = pairs
      .select(explode(array(col("src"), col("dst"))).as("x"))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
    val m = pairs
      .join(deg.select(col("x").as("src"), col("d").as("dx")),
        Seq("src"))
      .join(deg.select(col("x").as("dst"), col("d").as("dy")),
        Seq("dst"))
    val sym = m.select(explode(array(
        struct(col("dx").as("x"), col("dy").as("y")),
        struct(col("dy").as("x"), col("dx").as("y")))).as("e"))
      .select(col("e.x").as("x"), col("e.y").as("y"))
    sym.agg(count(lit(1)).as("n_dir"),
        sum(col("x") * col("y")).as("s_xy"),
        sum(col("x")).as("s_x"),
        sum(col("x") * col("x")).as("s_x2"))
      .withColumn("assort_nonneg",
        col("n_dir").cast("decimal(38,0)") *
          col("s_xy").cast("decimal(38,0)") >=
        col("s_x").cast("decimal(38,0)") *
          col("s_x").cast("decimal(38,0)"))
  }

  def q216ckpt(s: SparkSession, d: String): DataFrame =
    q216body(Graph.coOccurrencePairs(
        Tables.lineitem(s, d), "l_orderkey", "l_partkey")
      .distinct()
      .transform(graft.operators.Ckpt.cut))

  def q216lazy(s: SparkSession, d: String): DataFrame =
    q216body(Graph.coOccurrencePairs(
        Tables.lineitem(s, d), "l_orderkey", "l_partkey")
      .distinct())

  private val refineInput =
    scala.collection.concurrent.TrieMap[String, DataFrame]()

  /** q137's refine input: (j, code, pos, v) for every element of every
    * sub-vector, coded under the seed codebook, in one partition. */
  private def refineRows(s: SparkSession, d: String): DataFrame =
    refineInput.getOrElseUpdate(d, {
      val e = Tables.embeddings(s, d)
      val cb0 = Pq.codebook(e, "vec_id", "embedding", subs = 4,
        subDim = 16, k = 16)
      Pq.encode(e, "vec_id", "embedding", cb0, subDim = 16)
        .join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
        .select(col("j"), col("code"), posexplode(slice(col("embedding"),
          col("j") * 16 + 1, lit(16))).as(Seq("pos", "v")))
        .coalesce(1)
        .transform(graft.operators.Ckpt.cut)
    })

  private def refineMeans(s: SparkSession, d: String,
      mean: org.apache.spark.sql.Column): DataFrame =
    refineRows(s, d).groupBy(col("j"), col("code"), col("pos"))
      .agg(mean.as("m"))

  def refineDec(s: SparkSession, d: String): DataFrame =
    refineMeans(s, d, sum(round(col("v").cast("double"), 7)
      .cast("decimal(27,7)")).cast("double") /
      count(lit(1)).cast("double"))

  def refineExact(s: SparkSession, d: String): DataFrame =
    refineMeans(s, d, Exact.mean(col("v").cast("double"), 7, 27))

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val which = args.lift(2).map(_.split(",").toSeq)
      .getOrElse(Seq("e237agg", "e237join", "q216ckpt", "q216lazy"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    val variants: Map[String, (SparkSession, String) => DataFrame] =
      Map("e237agg" -> q237agg, "e237join" -> q237join,
        "q216ckpt" -> q216ckpt, "q216lazy" -> q216lazy,
        "refineDec" -> refineDec, "refineExact" -> refineExact)
    def run(name: String): Double = {
      val t0 = System.nanoTime()
      variants(name)(spark, sfDir).write.format("noop")
        .mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    which.foreach(run)
    (1 to reps).foreach { i =>
      which.foreach { name =>
        val wall = run(name)
        println(f"""{"variant":"$name","sf":"$sfDir","rep":$i,"wall":$wall%.3f}""")
      }
    }
    if (Set("refineDec", "refineExact").subsetOf(which.toSet)) {
      def means(name: String) = variants(name)(spark, sfDir)
        .orderBy(col("j"), col("code"), col("pos")).collect().toSeq
      val same = means("refineDec") == means("refineExact")
      println(s"""{"refine_means_identical":$same}""")
    }
    spark.stop()
  }
}
