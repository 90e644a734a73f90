package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Cdc

/** Dev tool (not library surface): the q197 IVM kernel measured
  * against from-scratch recomputation at parametric base size with a
  * FIXED-size change batch — the claim under test is that view
  * maintenance cost is bounded by the DELTA (plus the keyed
  * old-image probe), not by the base, which is the property that
  * makes a 100 TB materialized view maintainable under a trickle of
  * changes.
  *
  * The base is written once as parquet RANGE-CLUSTERED by row key
  * (repartitionByRange + sortWithinPartitions), the layout any
  * key-addressed table store provides. Two delta patterns:
  *
  *  - `tail`: changes hit the most recent key range (the realistic
  *    CDC locality). The probe narrows the base with the batch's
  *    [min,max] key envelope — metadata the maintainer has on hand —
  *    so parquet min/max row-group pruning does the keyed lookup and
  *    the base is barely read.
  *  - `scatter`: changes spread uniformly over the whole key space —
  *    the worst case, where the old-image probe degenerates to one
  *    full scan (still no shuffle of base rows; compare recompute's
  *    scan + aggregate).
  *
  * Every maintained result is checksum-compared to the recompute —
  * a probe that got faster by being wrong would fail loudly.
  *
  * Usage: Test/runMain graft.IvmScale [nCsv] [deltaN] [reps]
  * e.g. Test/runMain graft.IvmScale 2000000,20000000 20000 3
  */
object IvmScale {

  def main(args: Array[String]): Unit = {
    val ns = args.lift(0).getOrElse("2000000,20000000")
      .split(",").map(_.trim.toLong).toSeq
    val deltaN = args.lift(1).map(_.toLong).getOrElse(20000L)
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def loadAvg: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage

    for (n <- ns) {
      val dir = Files.createTempDirectory(s"ivm_base_$n").toString
      // base: key-clustered parquet, 100k groups, 2-decimal values
      spark.range(n).selectExpr(
          "id AS k", "id % 100000 AS g",
          "CAST(id * 37 % 100000 AS DOUBLE) / 100 AS v")
        .repartitionByRange(32, col("k"))
        .sortWithinPartitions(col("k"))
        .write.mode("overwrite").parquet(dir)
      val base = spark.read.parquet(dir)
      // the maintained view exists ahead of time in production —
      // materialize it once outside the timed region
      val viewDir = s"$dir.view"
      Cdc.aggOf(base, "g", "v", 2)
        .write.mode("overwrite").parquet(viewDir)
      val view = spark.read.parquet(viewDir)

      // fixed-size change batch: 50% updates, 25% deletes on
      // existing keys, 25% inserts on fresh keys
      def delta(tail: Boolean): DataFrame = {
        val existing = if (tail) // last deltaN·2 keys of the base
          spark.range(deltaN * 3 / 4).selectExpr(
            s"$n - 1 - id * 2 AS k", "id AS i")
        else                      // spread over the whole key space
          spark.range(deltaN * 3 / 4).selectExpr(
            s"(id * ($n div ${deltaN * 3 / 4})) AS k", "id AS i")
        existing.selectExpr("k",
            "CASE WHEN i % 3 < 2 THEN 'u' ELSE 'd' END AS op",
            "k % 100000 AS g",
            "CAST(k * 53 % 100000 AS DOUBLE) / 100 AS v")
          .unionByName(spark.range(deltaN / 4).selectExpr(
            s"$n + id AS k", "'i' AS op", s"($n + id) % 100000 AS g",
            "CAST(id * 11 % 100000 AS DOUBLE) / 100 AS v"))
      }

      def checksum(df: DataFrame): (Long, Long, Double) = {
        val r = df.agg(count(lit(1)), sum(col("cnt")),
          sum(col("s")).cast("double")).head()
        (r.getLong(0), r.getLong(1), r.getDouble(2))
      }

      def timed(tag: String, run: () => (Long, Long, Double))
          : ((Long, Long, Double), Double) = {
        var out: (Long, Long, Double) = null
        val times = (1 to reps).map { r =>
          val t0 = System.nanoTime()
          out = run()
          val dt = (System.nanoTime() - t0) / 1e9
          println(f"""{"metric":"$tag","rep":$r,"n":$n,""" +
            f""""delta":$deltaN,"value":$dt%.4f,"unit":"sec",""" +
            f""""load":$loadAvg%.2f}""")
          dt
        }
        (out, times.min)
      }

      def applied(d: DataFrame): DataFrame = {
        val touched = d.filter(col("op").isin("u", "d")).select("k")
        base.join(broadcast(touched), Seq("k"), "left_anti")
          .select("k", "g", "v")
          .unionByName(d.filter(col("op").isin("u", "i"))
            .select("k", "g", "v"))
      }

      for (pattern <- Seq("tail", "scatter")) {
        val d = delta(pattern == "tail").localCheckpoint(true)
        // key envelope of the batch — the maintainer's own metadata
        val env = d.filter(col("op").isin("u", "d"))
          .agg(min(col("k")), max(col("k"))).head()
        val (lo, hi) = (env.getLong(0), env.getLong(1))
        val probeBase = base.filter(col("k").between(lo, hi))
        val (mOut, mMin) = timed(s"ivm_maintain_$pattern", () =>
          checksum(Cdc.maintainAgg(view, probeBase, d, "k", "op",
            "g", "v", 2)))
        val (rOut, rMin) = timed(s"ivm_recompute_$pattern", () =>
          checksum(Cdc.aggOf(applied(d), "g", "v", 2)))
        require(mOut == rOut,
          s"maintain != recompute at n=$n/$pattern: $mOut vs $rOut")
        println(f"""{"metric":"ivm_scale_min","n":$n,""" +
          f""""delta":$deltaN,"pattern":"$pattern",""" +
          f""""maintain_sec":$mMin%.4f,"recompute_sec":$rMin%.4f,""" +
          f""""checksum_match":true}""")
      }
    }
    spark.stop()
  }
}
