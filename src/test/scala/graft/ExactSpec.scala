package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, LongType,
  StructField, StructType}

import graft.functions.Exact

/** [[Exact]] against the decimal form it replaces: each term's limbs
  * recombine to the unscaled `round(x, s).cast(decimal(p,s))` (null
  * or an error exactly where that is), and group, window and partial
  * sums equal the decimal plan's doubles bit for bit. */
class ExactSpec extends SparkSpec {
  import spark.implicits._

  private val scales = Seq(0, 2, 4, 7, 9, 12)

  private def decimalForm(x: Column, s: Int, p: Int = 18): Column =
    round(x, s).cast(s"decimal($p,$s)")

  private def decimalSum(x: Column, s: Int): Column =
    sum(decimalForm(x, s)).cast("double")

  /** Doubles that stress the term: random magnitudes, decimal
    * half-ties at each scale (not exact in binary), dyadic ties
    * ±k·2^-m (exact in binary), signed zeros, subnormals and the
    * edges of the long path and of the decimal(18,s) range. */
  private val doubles: Seq[Double] = {
    val r = new scala.util.Random(20261020L)
    val random = Seq.fill(1500)(r.nextGaussian() *
      math.pow(10, r.nextInt(14) - 6))
    val decTies = for (s <- scales; _ <- 0 until 60) yield {
      val k = r.nextLong(2000000000L)
      BigDecimal(2 * k + 1, s + 1).toDouble * (if (r.nextBoolean()) 1 else -1)
    }
    val dyadic = for (m <- 1 to 30; _ <- 0 until 8) yield {
      val k = 2 * r.nextInt(1 << 20) + 1
      (if (r.nextBoolean()) k else -k) * math.pow(2, -m)
    }
    val edges = scales.flatMap { s =>
      val cap = math.pow(10, 18 - s)
      Seq(4.5e15 / math.pow(10, s), math.nextDown(4.5e15 / math.pow(10, s)),
        math.nextDown(cap), -math.nextDown(cap))
    }
    random ++ decTies ++ dyadic ++ edges ++
      Seq(0.0, -0.0, Double.MinPositiveValue, 0.5, -0.5, 1.5, 2.5)
  }

  private val specials =
    Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)

  private def frame(xs: Seq[Double], float: Boolean): DataFrame = {
    val t = if (float) FloatType else DoubleType
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        xs.map(x => Row(if (float) x.toFloat else x)), 3),
      StructType(Seq(StructField("x", t))))
  }

  /** The term [[Exact.limbs]] recombine to, as a BigInt, or null. */
  private def recombined(r: Row, from: Int, n: Int): Any =
    if (r.isNullAt(from)) null
    else (0 until n).map(i => BigInt(r.getLong(from + i)) << (21 * i)).sum

  /** (term, unscaled decimal form) per row; nulls where either is. */
  private def pairs(df: DataFrame, s: Int, p: Int): Seq[(Any, Any)] = {
    val ls = Exact.limbs(col("x"), s, p)
    df.select(ls :+ decimalForm(col("x"), s, p): _*)
      .collect().toSeq.map { r =>
        (recombined(r, 0, ls.size), Option(r.getDecimal(ls.size))
          .map(d => BigInt(d.unscaledValue)).orNull)
      }
  }

  for (float <- Seq(true, false); s <- scales; p <- Seq(18, 27, 28)) {
    val kind = if (float) "float" else "double"
    test(s"term equals the unscaled decimal form: $kind, scale $s, " +
        s"decimal($p,$s)") {
      // the ANSI-off session turns each decimal error into a null, so
      // every value (specials and out-of-range ones too) runs in one job
      withConf("spark.sql.ansi.enabled", "false") {
        val edges = Seq(18, p).flatMap { q =>
          val cap = math.pow(10, q - s)
          Seq(cap, math.nextDown(cap), -math.nextDown(cap), cap * 0.93)
        }
        val bad = pairs(frame(doubles ++ specials ++ edges ++
            Seq(1e30, -1e30), float), s, p)
          .filter { case (t, d) => t != d }
        assert(bad.isEmpty, s"(term, decimal) mismatches: ${bad.take(10)}")
      }
    }
  }

  test("term is null or raises exactly where the decimal form is (ANSI)") {
    def outcome(cs: Seq[Column], df: DataFrame): Either[Class[_], Seq[Any]] =
      try Right(df.select(cs: _*).collect().toSeq.map(r =>
        if (cs.size == 1) Option(r.getDecimal(0))
          .map(d => BigInt(d.unscaledValue)).orNull
        else recombined(r, 0, cs.size)))
      catch { case e: Exception => Left(e.getClass) }
    withConf("spark.sql.ansi.enabled", "true") {
      for (p <- Seq(18, 28);
           x <- specials ++ Seq(1e12, -1e12, math.nextDown(1e11), 1e21,
             -1e21, math.nextDown(1e21));
           float <- Seq(true, false)) {
        val df = frame(Seq(1.0, x), float)
        val want = outcome(Seq(decimalForm(col("x"), 7, p)), df)
        assert(outcome(Exact.limbs(col("x"), 7, p), df) == want,
          s"$x $float decimal($p,7)")
      }
    }
  }

  test("integral and decimal inputs keep the decimal form's value") {
    val df = Seq((123456789L, BigDecimal("1.23456785")),
        (-987654321L, BigDecimal("-0.00000005")),
        (Long.MaxValue, BigDecimal("99.999999949"))).toDF("l", "d")
    for (c <- Seq("l", "d"); s <- Seq(0, 7); p <- Seq(18, 28)) {
      val ls = Exact.limbs(col(c), s, p)
      val got = withConf("spark.sql.ansi.enabled", "false")(
        df.select(ls :+ decimalForm(col(c), s, p): _*).collect().toSeq)
      got.foreach { r =>
        val want = Option(r.getDecimal(ls.size))
          .map(d => BigInt(d.unscaledValue)).orNull
        assert(recombined(r, 0, ls.size) == want, s"$c scale $s: $r")
      }
    }
  }

  test("the aggregate sums longs only: 3 limbs, or 5 for a wide term") {
    val emb = Tables.embeddings(spark, sf())
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
    for ((p, n) <- Seq(18 -> 3, 27 -> 5)) {
      val plan = emb.groupBy(col("pos"))
        .agg(Exact.mean(col("v").cast("double"), 7, p))
        .queryExecution.optimizedPlan
      val aggs = plan.collect { case a: Aggregate => a }
      assert(aggs.size == 1, plan)
      val sums = aggs.head.aggregateExpressions.flatMap(_.collect {
        case s: Sum => s }).distinctBy(_.canonicalized)
      assert(sums.size == n && sums.forall(_.child.dataType == LongType),
        plan)
    }
  }

  private def sameDoubles(a: DataFrame, b: DataFrame): Unit = {
    val (x, y) = (a.collect().toSeq, b.collect().toSeq)
    assert(x.nonEmpty && x == y, s"\n$x\n!=\n$y")
  }

  test("group sums and means equal the decimal plan on embeddings") {
    val emb = Tables.embeddings(spark, sf())
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
    def agg(df: DataFrame, f: Column => Column, g: Column => Column) =
      df.groupBy(col("pos")).agg(f(col("v")).as("s"), g(col("v")).as("m"))
        .orderBy(col("pos"))
    val n = count(lit(1)).cast("double")
    for (p <- Seq(18, 27)) {
      def dec(v: Column) =
        sum(decimalForm(v.cast("double"), 7, p)).cast("double")
      def ex(v: Column) = Exact.sum(v.cast("double"), 7, p)
      def exMean(v: Column) = Exact.mean(v.cast("double"), 7, p)
      sameDoubles(agg(emb, ex, exMean), agg(emb, dec, v => dec(v) / n))
      sameDoubles(agg(emb.repartition(3), ex, exMean),
        agg(emb.coalesce(1), ex, exMean))
    }
  }

  test("group sums equal the decimal plan on lineitem, at any split") {
    val li = Tables.lineitem(spark, sf())
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    def agg(df: DataFrame, f: (Column, Int) => Column) =
      df.groupBy(col("l_returnflag"))
        .agg(f(rev, 4), f(col("l_quantity"), 2),
          f(col("l_extendedprice"), 2), f(col("l_discount"), 0))
        .orderBy(col("l_returnflag"))
    val dec = agg(li, decimalSum)
    sameDoubles(agg(li, Exact.sum(_, _)), dec)
    sameDoubles(agg(li.repartition(3), Exact.sum(_, _)), dec)
    sameDoubles(agg(li.coalesce(1), Exact.sum(_, _)), dec)
  }

  test("window sums equal the decimal window sum") {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    def run(f: Column => Column) = Tables.orders(spark, sf())
      .select(col("o_orderkey"), f(col("o_totalprice")).as("run"))
      .orderBy(col("o_orderkey"))
    sameDoubles(run(Exact.sum(_, 2, w)),
      run(x => sum(decimalForm(x, 2)).over(w).cast("double")))
  }

  test("sums past 2^63 unscaled stay exact; empty input sums to null") {
    val big = frame(Seq.fill(300)(9.87654321e10) ++ Seq.fill(5)(-1e-7),
      float = false)
    sameDoubles(big.agg(Exact.sum(col("x"), 7)),
      big.agg(sum(round(col("x"), 7).cast("decimal(27,7)")).cast("double")))
    val none = frame(Nil, float = false).agg(Exact.sum(col("x"), 4),
      Exact.mean(col("x"), 4), Exact.sum(col("x"), 7, 27))
      .collect().toSeq
    assert(none == Seq(Row(null, null, null)))
  }

  test("terms past 2^63 unscaled sum like decimal(27,7) and decimal(28,12)") {
    // each term alone is past a long: 9.9e12 at scale 7 is 9.9e19
    // unscaled, 4.9e15 at scale 12 is 4.9e27
    for ((s, p, xs) <- Seq(
        (7, 27, Seq(9.9e12, -7.5e12, 3.0000000000001e12, 1e-7)),
        (12, 28, Seq(4.9e15, -1.25e15, 7777.000000000001, 0.5e-12)))) {
      val df = frame(Seq.fill(200)(xs).flatten, float = false)
      for (in <- Seq(df, df.coalesce(1))) {
        sameDoubles(
          in.agg(Exact.sum(col("x"), s, p), Exact.mean(col("x"), s, p)),
          in.agg(sum(decimalForm(col("x"), s, p)).cast("double"),
            sum(decimalForm(col("x"), s, p)).cast("double") /
              count(lit(1)).cast("double")))
      }
    }
  }

  test("Similarity.centroids keeps the decimal(27,7) term range") {
    // elements near 1e12..1e13: past a long once scaled by 10^7
    val rows = Seq((1, Array(9.5e12f, -3e12f)), (1, Array(2.5e12f, 1f)),
      (2, Array(-8e12f, 6e12f)))
    val df = rows.toDF("part", "emb")
    val got = graft.operators.Similarity.centroids(df, "part", "emb", 2)
      .orderBy(col("part")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq
    val want = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, rs) =>
      (k, (0 until 2).map { i =>
        val exact = rs.map(r => BigDecimal(r._2(i).toDouble)
          .setScale(7, BigDecimal.RoundingMode.HALF_UP)).sum
        exact.toDouble / rs.size
      })
    }
    assert(got == want)
  }

  test("a scale outside [0, 12] or a precision outside [18, 28] is " +
      "rejected, naming it") {
    val e = intercept[IllegalArgumentException](Exact.sum(col("x"), 13))
    assert(e.getMessage.contains("scale must be in [0, 12], got 13"))
    val f = intercept[IllegalArgumentException](Exact.sum(col("x"), 2, 29))
    assert(f.getMessage.contains("precision must be in [18, 28], got 29"))
  }
}
