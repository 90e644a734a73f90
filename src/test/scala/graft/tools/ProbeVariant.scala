package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only exponent attribution for q124 (r13 VERDICT ask 4): the
  * VARIANT demo read 0.76 s at sf0.1 but 12.1 s at sf1 in the bench
  * pool — 15.9× for 10× rows on a pipeline that is per-row linear by
  * construction (JSON assemble → parse_json → 3× variant_get → agg).
  * Decomposes the query into cumulative stages so the ladder ratio
  * can be attributed to a specific operator or to single-rep
  * contention (the sf1 pool rep ran inside a heavy back-to-back
  * 255-query pass; this probe is a clean process):
  *
  *  1. `scan_agg`  — events scan + groupBy(event_type) count/sum:
  *                   the non-JSON floor every later stage pays.
  *  2. `gjo`       — + get_json_object($.k) extraction (string parse
  *                   of the source `props` JSON).
  *  3. `tojson`    — + assembling the nested doc text with
  *                   to_json(struct(...)) (aggregates its length so
  *                   the projection cannot be pruned away).
  *  4. `parse`     — + parse_json to VARIANT (is_variant_null forces
  *                   the parse; no typed extraction yet).
  *  5. `full_q124` — the registry query verbatim (3 variant_get
  *                   paths + group/order).
  *
  * Per-stage deltas at both scales give the per-operator cost; if
  * every stage's sf1/sf0.1 ratio sits near 10× (row ratio) the r13
  * pool reading was contention, not an engine exponent.
  *
  * Usage: Test/runMain graft.ProbeVariant [sfDir] [reps]
  */
object ProbeVariant {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()

    val ev = Tables.events(spark, sfDir)
    val n = ev.count()
    println(s"""{"metric":"rows","sf":"$sfDir","value":$n}""")

    def time(label: String)(f: => Long): Unit =
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        val out = f
        println(f"""{"metric":"$label","rep":$i,"sf":"$sfDir",""" +
          f""""out":$out,"value":${(System.nanoTime() - t0) / 1e9}%.3f,""" +
          f""""unit":"sec"}""")
      }

    val k = get_json_object(col("props"), "$.k").cast("long")
    val js = to_json(struct(
      struct(col("event_type").as("type"),
        col("user_id").as("uid")).as("meta"),
      array(k, k + 1).as("ks")))

    time("scan_agg")(
      ev.groupBy(col("event_type"))
        .agg(count(lit(1)), sum(col("user_id"))).count())
    time("gjo")(
      ev.withColumn("k", k).groupBy(col("event_type"))
        .agg(count(lit(1)), sum(col("user_id")), sum(col("k"))).count())
    time("tojson")(
      ev.withColumn("js", js).groupBy(col("event_type"))
        .agg(count(lit(1)), sum(length(col("js")))).count())
    time("parse")(
      ev.withColumn("v", parse_json(js))
        .groupBy(col("event_type"))
        .agg(count(lit(1)),
          sum(when(expr("is_variant_null(v)"), 1L).otherwise(0L)))
        .count())
    def full(): DataFrame = queries.SemiStructured.q124.fn(spark, sfDir)
    time("full_q124")(full().count())
    spark.stop()
  }
}
