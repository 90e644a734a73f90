package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Dev-only stage dissection for the q203 PPJoin pipeline (not part
  * of the driver contract): times candidate generation and full
  * pairs separately and prints candidate/match counts, so prefix
  * filter changes can be attributed to enumeration vs verification.
  *
  * Usage: Test/runMain graft.ProbeSetSim [sfDir] [reps] [maxCandidates]
  *          [stages]
  * `maxCandidates` (optional) is an IN-RUN tripwire: the probe
  * FAILS if the candidate frame exceeds it — wired to the committed
  * sf1 artifact so a change that silently blows the prefix filter's
  * candidate bound past the measured regime (26.0M at sf1) breaks
  * the probe instead of just slowing it.
  * `stages` (optional, default `all`): `candidates` stops after the
  * candidate count, `pairs` adds the full join, `all` adds the
  * write-terminal dissection — so a fixture-density attribution run
  * (candidate counts across scale dirs) doesn't pay the ~14 min/rep
  * full-pairs stage it isn't measuring.
  */
object ProbeSetSim {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val maxCandidates = args.lift(2).map(_.toLong)
    val stages = args.lift(3).getOrElse("all")
    require(Set("candidates", "pairs", "all")(stages),
      s"ProbeSetSim: unknown stages '$stages' (candidates | pairs | all)")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()

    val docs = Tables.documents(spark, sfDir)
    def time(label: String)(f: => Long): Unit =
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        val n = f
        println(f"[q203] $label rep $i: " +
          f"${(System.nanoTime() - t0) / 1e9}%.3f s (rows=$n)")
      }

    val sh = docs.select(col("doc_id").as("id"),
        Dedup.shingleSet(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .localCheckpoint(true)
    time("candidates") {
      val cand = Dedup.prefixFilterCandidates(sh, 600000L).count()
      maxCandidates.foreach(mx => require(cand <= mx,
        s"candidate blow-up: $cand > bound $mx at $sfDir"))
      cand
    }
    if (stages != "candidates") {
    time("full pairs")(
      Dedup.prefixFilterPairs(docs, "doc_id", "text", 3, 600000L)
        .count())
    }
    if (stages == "all") {
    // Harness-delta dissection (r14 VERDICT ask 3): the bench entry
    // is pairs + orderBy + a noop write — time each terminal form so
    // a pooled-min vs probe gap decomposes into measured components
    // (count() lets Catalyst prune the output projection; the noop
    // write materializes every column; orderBy adds a range
    // exchange over the tiny result).
    time("pairs orderBy count")(
      Dedup.prefixFilterPairs(docs, "doc_id", "text", 3, 600000L)
        .orderBy(col("a"), col("b")).count())
    time("pairs noop write") {
      Dedup.prefixFilterPairs(docs, "doc_id", "text", 3, 600000L)
        .write.format("noop").mode("overwrite").save(); 0L
    }
    time("pairs orderBy noop write (bench form)") {
      Dedup.prefixFilterPairs(docs, "doc_id", "text", 3, 600000L)
        .orderBy(col("a"), col("b"))
        .write.format("noop").mode("overwrite").save(); 0L
    }
    time("pairs repartition(1)+sortWithinPartitions noop write") {
      Dedup.prefixFilterPairs(docs, "doc_id", "text", 3, 600000L)
        .repartition(1).sortWithinPartitions(col("a"), col("b"))
        .write.format("noop").mode("overwrite").save(); 0L
    }
    }
    if (sys.env.contains("SPARK_GRAFT_EXPLAIN")) {
      val df = Dedup.prefixFilterPairs(docs, "doc_id", "text", 3,
        600000L)
      df.count()
      // scalastyle:off println
      println(df.queryExecution.executedPlan.toString)
      // scalastyle:on println
    }
    spark.stop()
  }
}
