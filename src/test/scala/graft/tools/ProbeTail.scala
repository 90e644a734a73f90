package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Geo, Quality}

/** Dev-only exponent attribution for the two unexplained sf1 movers
  * (r12 VERDICT ask 5): q122 table profile and q168 geo proximity.
  * For each, measures the data-intrinsic driver alongside the wall
  * time so the sf-ladder ratio can be decomposed into
  * fixture-growth × engine-efficiency:
  *
  *  - q168: the event points live in a FIXED 10000×10000 plane, so
  *    10× points = 10× density = ~100× qualifying pairs (closed
  *    form n²·πr²/2A). Prints expected vs actual pair counts — if
  *    actual tracks the closed form and wall grows SLOWER than
  *    pairs, the exponent is the fixture's, not the engine's (the
  *    constant-density engine ladder is LinkageScale's geo leg).
  *  - q122: the exact-distinct verification legs carry the full key
  *    cardinality (l_orderkey distincts grow 10× with replicas) —
  *    prints the per-column distinct counts and times the profile
  *    with and without the exact legs (`exact = false` is the
  *    documented 100 TB form).
  *
  * Usage: Test/runMain graft.ProbeTail [sfDir] [reps]
  */
object ProbeTail {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()

    def time(label: String)(f: => Long): Unit =
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        val out = f
        println(f"""{"metric":"$label","rep":$i,"sf":"$sfDir",""" +
          f""""out":$out,"value":${(System.nanoTime() - t0) / 1e9}%.3f,""" +
          f""""unit":"sec"}""")
      }

    // ---- q168 ----
    val pts = Tables.events(spark, sfDir).selectExpr(
      "event_id AS id",
      "CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 4)," +
        " 16, 10) AS BIGINT) % 10000 AS x",
      "CAST(conv(substring(md5(CAST(event_id AS STRING)), 5, 4)," +
        " 16, 10) AS BIGINT) % 10000 AS y")
    val nPts = pts.count()
    val expected = nPts.toDouble * (nPts - 1) / 2 *
      (math.Pi * 3600.0 / 1e8)
    println(f"""{"metric":"geo_expected_pairs","n":$nPts,""" +
      f""""value":${expected}%.0f}""")
    time("geo_pairs")(
      Geo.proximityPairs(pts, "id", "x", "y", 64L, 3600L).count())

    // ---- q122 ----
    val li = Tables.lineitem(spark, sfDir)
    val dist = li.agg(
      countDistinct(col("l_orderkey")).as("ok"),
      countDistinct(col("l_quantity")).as("qt"),
      countDistinct(col("l_discount")).as("di")).head()
    println(s"""{"metric":"profile_distincts","l_orderkey":""" +
      s"""${dist.getLong(0)},"l_quantity":${dist.getLong(1)},""" +
      s""""l_discount":${dist.getLong(2)}}""")
    def profile(exact: Boolean): Long =
      Quality.profile(li,
        numericCols = Seq("l_orderkey", "l_quantity", "l_discount"),
        otherCols = Seq("l_returnflag"), exact = exact).count()
    time("profile_exact")(profile(true))
    time("profile_sketch_only")(profile(false))
    spark.stop()
  }
}
