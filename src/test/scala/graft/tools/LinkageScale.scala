package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{EntityRes, Geo}

/** Dev tool (not library surface): the q165/q168 linkage operators
  * measured unbounded at parametric corpus size — the oracle
  * fixtures are bounded by the driver tables, so blocking/cell
  * SCALING (linear candidate growth, constant bucket sizes) needs
  * its own probe, like MediaScale/CorpusScale for their families.
  *
  * Both generators hold DENSITY constant as n grows — the scale-
  * shaped structure a real workload has:
  *  - geo: the plane side grows with √n, so points-per-cell (and
  *    pairs-per-point) stay O(1) and total pairs grow linearly;
  *  - ER: the blocking-key space grows with n (fixed-width first
  *    token, ~10 distinct names per block), so in-block quadratic
  *    work per block is O(1) and total comparisons grow linearly.
  *  A fixed key space would manufacture quadratic blowup the way
  *  the media fixtures' fixed 50 groups would (MediaScale's rule).
  *
  * Usage: Test/runMain graft.LinkageScale [n] [reps]
  * Prints one JSON line per rep per operator plus summary minima.
  */
object LinkageScale {

  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toInt).getOrElse(100000)
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    // shuffle-partition override (the Bench.scala knob): at 2M+
    // items the default (= cores) puts millions of candidate-pair
    // rows in every join partition — size it to the data when
    // probing the top scales
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ---- geo: n md5-avalanche points on a √n-proportional plane
    val side = math.max(1000L, math.round(math.sqrt(n.toDouble)) * 100L)
    def geoPoints(m: Long) = spark.range(m).selectExpr(
      "id",
      s"CAST(conv(substring(md5(CAST(id AS STRING)), 1, 8), 16, 10)" +
        s" AS BIGINT) % $side AS x",
      s"CAST(conv(substring(md5(CAST(id AS STRING)), 9, 8), 16, 10)" +
        s" AS BIGINT) % $side AS y")
    def geoRun(m: Long): Long =
      Geo.proximityPairs(geoPoints(m), "id", "x", "y",
        cellSize = 64L, r2 = 3600L).count()

    // ---- ER: n/3 entities, ~10 distinct names per 8-char block
    def erRecords(m: Long) = {
      val ents = m / 3
      val blocks = math.max(ents / 10L, 10L)
      val base = spark.range(ents).selectExpr(
        "id AS rec_id",
        // fixed-width first token IS the block key; two trailing
        // words add in-block name diversity
        // fixed-width 4-digit trailing words keep random in-block
        // name pairs above the edit threshold (short words chance-
        // merge half the blocks)
        s"""concat('t', lpad(CAST(pmod(hash(id, 1), $blocks) AS STRING), 7, '0'),
             ' k', lpad(CAST(pmod(hash(id, 2), 10000) AS STRING), 4, '0'),
             ' m', lpad(CAST(pmod(hash(id, 3), 10000) AS STRING), 4, '0')) AS name""")
      base
        .unionByName(base.selectExpr("rec_id + 1000000000 AS rec_id",
          """concat(substring(name, 1, 9 + pmod(rec_id, length(name) - 9)),
             'x',
             substring(name, 11 + pmod(rec_id, length(name) - 9)))
             AS name"""))
        .unionByName(base.selectExpr("rec_id + 2000000000 AS rec_id",
          "concat(name, 's') AS name"))
    }
    def erRun(m: Long): Long =
      EntityRes.resolve(erRecords(m), "rec_id", "name",
          blockPrefix = 8, maxDist = 2)
        .select(col("entity_id")).distinct().count()

    // optional per-stage breakdown of the ER pipeline (names /
    // fuzzy edges / closure): SPARK_GRAFT_ER_STAGES=1 — stages are
    // forced independently, so their sum exceeds the fused e2e wall;
    // the point is the RATIO, to aim optimization where time goes
    def erStages(m: Long): Unit = {
      import graft.operators.Components
      val recs = erRecords(m)
      val t0 = System.nanoTime()
      val names = recs.groupBy(col("name").as("name"))
        .agg(min(col("rec_id")).as("name_id"),
          count(lit(1)).as("n_recs"))
        .localCheckpoint(true)
      val nNames = names.count()
      val tNames = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val blocked = names
        .withColumn("blk", substring(col("name"), 1, 8))
      val edges = blocked.select(col("blk"),
          col("name_id").as("a"), col("name").as("na"))
        .join(blocked.select(col("blk"), col("name_id").as("b"),
          col("name").as("nb")), Seq("blk"))
        .filter(col("a") < col("b") &&
          levenshtein(col("na"), col("nb")) <= 2)
        .select(col("a"), col("b"))
        .localCheckpoint(true)
      val nEdges = edges.count()
      val tEdges = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val nComp = Components.connectedComponents(
          names.select(col("name_id")), "name_id", edges, "a", "b")
        .select(col("component")).distinct().count()
      val tComp = (System.nanoTime() - t2) / 1e9
      println(f"""{"metric":"er_stages","n":$m,"names":$nNames,""" +
        f""""edges":$nEdges,"components":$nComp,""" +
        f""""names_sec":$tNames%.4f,"edges_sec":$tEdges%.4f,""" +
        f""""components_sec":$tComp%.4f,"unit":"sec"}""")
    }
    if (sys.env.get("SPARK_GRAFT_ER_STAGES").contains("1")) {
      erStages(math.max(n / 10L, 1000L)) // warm codegen at 1/10
      erStages(n.toLong)
      spark.stop(); return
    }

    // ---- SNM: n md5 keys through the distributed global rank —
    // probes the range-repartition + offset ranking machinery of
    // q214 at parametric size; the pair count (w−1)·n − w(w−1)/2 is
    // exact by construction, so the probe doubles as an at-scale
    // correctness check of the rank/bucket algebra
    def snmRun(m: Long): Long = {
      val got = EntityRes.sortedNeighborhoodPairs(
        spark.range(m).selectExpr("id", "md5(CAST(id AS STRING)) AS k"),
        "id", "k", w = 5).count()
      val want = 4L * m - 10L
      require(got == want, s"SNM pair count $got != $want at n=$m")
      got
    }

    // warmup compiles the identical generated code at 1/10 size
    geoRun(math.max(n / 10L, 1000L))
    erRun(math.max(n / 10L, 1000L))
    snmRun(math.max(n / 10L, 1000L))

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
    val g = timed("geo_proximity_e2e", () => geoRun(n.toLong))
    val e = timed("entity_resolution_e2e", () => erRun(n.toLong))
    val sn = timed("snm_e2e", () => snmRun(n.toLong))
    println(f"""{"metric":"linkage_scale_min","n":$n,""" +
      f""""geo_sec":$g%.4f,"er_sec":$e%.4f,""" +
      f""""snm_sec":$sn%.4f,"unit":"sec"}""")
    spark.stop()
  }
}
