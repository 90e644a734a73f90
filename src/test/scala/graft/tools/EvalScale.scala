package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Evals

/** Dev tool (not library surface): the r11 eval/preference family at
  * parametric row counts — Bradley-Terry over a synthetic preference
  * log and the slice-partitioned exact AUC. The 100 TB claims under
  * test, asserted IN-RUN (the JoinScale precedent — a violation
  * fails loudly instead of reading as a slow rep):
  *
  *  - Bradley-Terry: ONE shuffle aggregates the raw log to pair
  *    counts; the MM fixpoint only touches items²-sized frames, so
  *    wall time must scale with the log aggregation, not with
  *    rounds × log. Statistical recovery is asserted too: with true
  *    strengths planted 1..64, the recovered top and bottom deciles
  *    must be disjoint in the true order (mean true id of the top
  *    strength-decile ≫ bottom's).
  *  - Sliced AUC: the planted ¼-range separation puts EVERY slice's
  *    analytic AUC at 718750 ppm; at probe sizes each slice must
  *    land within ±20000 ppm (binomial noise at n/slices rows), and
  *    the cumulative window stays partitioned per slice (bounded
  *    histogram state, slices in parallel).
  *
  * Usage: Test/runMain graft.EvalScale [n] [reps] [ops-csv]
  * (ops-csv ⊆ bt,auc,kendall; default all)
  */
object EvalScale {

  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toLong).getOrElse(1000000L)
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val ops = args.lift(2).map(_.split(",").map(_.trim).toSet)
      .getOrElse(Set("bt", "auc", "kendall"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val Models = 64

    // preference log: models a = h%64, b = h2%64 (md5-mixed so every
    // pair is populated), winner by true Bradley-Terry odds with
    // planted strengths 1..64
    def cmp(m: Long) = spark.range(m).selectExpr(
        s"CAST(conv(substring(md5(CAST(id AS STRING)), 1, 4), 16, 10)" +
          s" AS BIGINT) % $Models AS a",
        s"CAST(conv(substring(md5(CAST(id AS STRING)), 5, 4), 16, 10)" +
          s" AS BIGINT) % $Models AS b",
        "CAST(conv(substring(md5(CAST(id AS STRING)), 9, 4), 16, 10)" +
          " AS BIGINT) AS r")
      .where("a <> b")
      .selectExpr("a", "b", s"r * (a + b + 2) < 65536 * (a + 1) AS wa")

    def btRun(m: Long): Long = {
      val s = Evals.bradleyTerry(
        Evals.orientedPairs(cmp(m), "a", "b", "wa"), iters = 3)
      val rows = s.select($"item", $"strength_micro")
        .as[(Long, Long)].collect().sortBy(-_._2)
      require(rows.length == Models, s"lost items: ${rows.length}")
      val topTrue = rows.take(Models / 10).map(_._1.toDouble)
      val botTrue = rows.takeRight(Models / 10).map(_._1.toDouble)
      require(topTrue.sum / topTrue.length >
          botTrue.sum / botTrue.length + Models / 2.0,
        "planted order not recovered: top decile true ids " +
          s"${topTrue.mkString(",")} vs bottom ${botTrue.mkString(",")}")
      val total = rows.map(_._2).sum
      require(total <= Models * 1000000L &&
          total > Models * 1000000L - Models.toLong * 4,
        s"renormalization drifted: $total")
      rows.length.toLong
    }

    def aucRun(m: Long): Long = {
      val Slices = 16
      val scored = spark.range(m).selectExpr(
        s"id % $Slices AS slice",
        "CAST(conv(substring(md5(CAST(id AS STRING)), 1, 4), 16, 10)" +
          " AS BIGINT) AS h",
        "CAST(conv(substring(md5(CAST(id AS STRING)), 5, 1), 16, 10)" +
          " AS BIGINT) % 2 = 0 AS pos")
        .selectExpr("slice",
          "h + IF(pos, 16384, 0) AS c", "pos")
      val r = Evals.exactAucBy(scored, col("slice"), col("c"),
          col("pos"))
        .select($"slice", $"auc_ppm").as[(Long, Long)].collect()
      require(r.length == Slices, s"lost slices: ${r.length}")
      r.foreach { case (sl, ppm) =>
        require(math.abs(ppm - 718750L) <= 20000L,
          s"slice $sl AUC $ppm off the analytic 718750") }
      r.length.toLong
    }

    def kendallRun(m: Long): Long = {
      val scored = spark.range(m).selectExpr(
        "CAST(conv(substring(md5(CAST(id AS STRING)), 1, 4), 16, 10)" +
          " AS BIGINT) AS h1",
        "CAST(conv(substring(md5(CAST(id AS STRING)), 5, 4), 16, 10)" +
          " AS BIGINT) AS h2")
        .selectExpr("h1 div 1024 AS x",
          "GREATEST(LEAST((h1 + 2 * (h2 - 32768)) div 1024, 63L)," +
            " 0L) AS y")
      val r = Evals.kendallGrid(scored, col("x"), col("y"))
        .as[(Long, Long, Long, Long, Long, Long, Long, Double)]
        .collect().head
      val (nn, c, d, tx, ty, txy) = (r._1, r._2, r._3, r._4, r._5,
        r._6)
      // pairs are never enumerated, but they must all be accounted
      require(c + d + tx + ty + txy == nn * (nn - 1) / 2,
        s"pair identity broken at n=$m: $r")
      // the planted y = x + noise correlation is scale-free
      require(r._8 > 0.20 && r._8 < 0.35,
        s"tau_b ${r._8} outside the planted band at n=$m")
      nn
    }

    // warmup at 1/10 size compiles the identical generated code
    if (ops("bt")) btRun(math.max(n / 10L, 100000L))
    if (ops("auc")) aucRun(math.max(n / 10L, 100000L))
    if (ops("kendall")) kendallRun(math.max(n / 10L, 100000L))

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
    val bt = if (ops("bt"))
      timed("bradley_terry_e2e", () => btRun(n)) else -1d
    val auc = if (ops("auc"))
      timed("sliced_auc_e2e", () => aucRun(n)) else -1d
    val kt = if (ops("kendall"))
      timed("kendall_grid_e2e", () => kendallRun(n)) else -1d
    println(f"""{"metric":"eval_scale_min","n":$n,""" +
      f""""bt_sec":$bt%.4f,"auc_sec":$auc%.4f,""" +
      f""""kendall_sec":$kt%.4f,"unit":"sec"}""")
    spark.stop()
  }
}
