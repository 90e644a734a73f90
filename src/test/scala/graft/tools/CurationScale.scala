package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Importance

/** Dev tool (not library surface): the q166 hashed-ngram importance
  * featurization measured unbounded at corpus scale — the oracle
  * fixture is the 5k-doc driver table, so the one-wide-shuffle claim
  * (work bounded by docs × buckets after the map-side gram pass)
  * needs its own probe over ScaleUp-replicated corpora
  * (token-shuffled replicas: vocabulary and gram diversity grow with
  * size, the documents rule every corpus probe follows).
  *
  * Usage: Test/runMain graft.CurationScale [docsDir] [reps] [label]
  * Prints one JSON line per rep plus a summary min.
  */
object CurationScale {

  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val label = args.lift(2).getOrElse(dir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.documents(spark, dir)
      .withColumn("tgt", col("lang") === "en")
    val nDocs = docs.count()

    def run(): (Long, Long) = {
      val w = Importance.hashedNgramWeights(docs, "doc_id", "text",
        "tgt").localCheckpoint(true)
      (w.count(),
        w.agg(sum(col("n_feats"))).head().getLong(0))
    }
    // warmup compiles the identical codegen on a tiny slice
    Importance.hashedNgramWeights(docs.limit(50), "doc_id", "text",
      "tgt").count()

    val times = (1 to reps).map { r =>
      val t0 = System.nanoTime()
      val (scored, feats) = run()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"""{"metric":"importance_e2e","rep":$r,""" +
        f""""label":"$label","docs":$nDocs,"scored":$scored,""" +
        f""""features":$feats,"value":$dt%.4f,"unit":"sec"}""")
      dt
    }
    println(f"""{"metric":"importance_e2e_min","label":"$label",""" +
      f""""docs":$nDocs,"value":${times.min}%.4f,"unit":"sec"}""")
    spark.stop()
  }
}
