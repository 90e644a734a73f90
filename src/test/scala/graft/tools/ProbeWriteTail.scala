package graft

import org.apache.spark.sql.SparkSession

/** Dev-only write-path dissection for the bench's heavy tail (r14):
  * times each named registry query under BOTH terminals —
  * `count()` (AQE-wrapped; Catalyst may prune the output
  * projection and drop the final sort) and the bench's
  * `write.format("noop")` (full materialization of every output
  * column, as the harness contract requires) — so a pooled-min vs
  * clean-probe gap decomposes into "query cost" vs "terminal-form
  * cost". The q203 finding this generalizes: a trailing global
  * `orderBy` feeding a v2 write pays the RangePartitioning sampling
  * pass over the UN-materialized child — a re-execution of the
  * expensive part of the query — which `repartition(1) +
  * sortWithinPartitions` (same deterministic output for small
  * results) avoids entirely.
  *
  * Usage: Test/runMain graft.ProbeWriteTail <sfDir> <reps> <q1,q2,...>
  */
object ProbeWriteTail {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val names = args.lift(2)
      .map(_.split(",").map(_.trim).toSeq)
      .getOrElse(Seq("q203_setsim_join"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // one warm pass (JIT/codegen) that times nothing
      try fn(spark, sfDir).count()
      catch { case e: Throwable =>
        System.err.println(s"[writetail] warm $name: ${e.getMessage}")
      }
      def t(label: String)(f: => Unit): Unit =
        (1 to reps).foreach { i =>
          val t0 = System.nanoTime()
          f
          println(f"[writetail] $name $label rep $i: " +
            f"${(System.nanoTime() - t0) / 1e9}%.3f s")
        }
      t("count")(fn(spark, sfDir).count(): Unit)
      t("noop_write")(fn(spark, sfDir)
        .write.format("noop").mode("overwrite").save())
    }
    spark.stop()
  }
}
