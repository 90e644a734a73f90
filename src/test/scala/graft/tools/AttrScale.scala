package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Attribution, Journeys}

/** Dev tool (not library surface): the q163/q139 event-pipeline
  * kernels measured at parametric corpus size with SCALE-SHAPED
  * density — the honest probe the ScaleUp-amplified tables cannot
  * be. ScaleUp replicates events with user_id UNCHANGED (fixed user
  * catalog), so at 100× each user's lookback window holds 100×
  * touches × 100× conversions and the attribution pairing grows
  * 10,000× per user — the documented hot-user pathology by
  * construction, not a plan property. Here USERS scale with n and
  * per-user density stays constant (20 events each: 16 touches over
  * three channels, 4 conversions, 10-minute spacing, all inside one
  * 3-day lookback), so credit rows grow linearly and the probe
  * answers the question that matters: is the operator linear when
  * the data is?
  *
  * Usage: Test/runMain graft.AttrScale [n] [reps]
  * Prints one JSON line per rep per kernel plus summary minima.
  */
object AttrScale {

  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toInt).getOrElse(2000000)
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // 20 events per user in time order: j<4 signup, j<12 click,
    // j<16 view (16 touches), j>=16 purchase (4 conversions) —
    // signup precedes click precedes purchase, so the funnel kernel
    // has stages to find; 10-min spacing keeps a user's whole
    // history inside one 3-day lookback, so attribution pairs per
    // user are a CONSTANT ~64 and total work scales with users
    def events(m: Long) = spark.range(m).selectExpr(
      "id div 20 AS user_id",
      "id AS event_id",
      """timestamp_micros(CAST(1700000000000000
         + (id div 20) % 1000 * 86400000000
         + (id % 20) * 600000000 AS BIGINT)) AS ts""",
      """CASE WHEN id % 20 < 4 THEN 'signup'
              WHEN id % 20 < 12 THEN 'click'
              WHEN id % 20 < 16 THEN 'view'
              ELSE 'purchase' END AS event_type""",
      "CAST(id % 97 AS DOUBLE) / 10 AS value")

    def attrRun(m: Long): Long =
      Attribution.credits(events(m), "user_id", "event_id", "ts",
          "event_type", "value", convType = "purchase",
          touchTypes = Seq("click", "view", "signup"),
          lookbackMicros = 3L * 86400 * 1000000)
        .agg(count(lit(1)), sum(col("linear_millis"))).head().getLong(0)

    def funnelRun(m: Long): Long =
      Journeys.funnelTimes(events(m), "user_id", "event_type", "ts",
          Seq("signup", "click", "purchase"), windowSec = 259200L)
        .groupBy(col("stage")).agg(count(lit(1)).as("n"))
        .agg(sum(col("n"))).head().getLong(0)

    attrRun(math.max(n / 10L, 10000L)) // warm codegen at 1/10
    funnelRun(math.max(n / 10L, 10000L))

    def timed(tag: String, run: () => Long): Double = {
      val times = (1 to reps).map { r =>
        val t0 = System.nanoTime()
        val out = run()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"""{"metric":"$tag","rep":$r,"n":$n,"out":$out,""" +
          f""""value":$dt%.4f,"unit":"sec"}""")
        dt
      }
      times.min
    }
    val a = timed("attribution_e2e", () => attrRun(n.toLong))
    val f = timed("funnel_e2e", () => funnelRun(n.toLong))
    println(f"""{"metric":"attr_scale_min","n":$n,""" +
      f""""attr_sec":$a%.4f,"funnel_sec":$f%.4f,"unit":"sec"}""")
    spark.stop()
  }
}
