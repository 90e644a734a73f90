package graft

import org.apache.spark.sql.functions._
import graft.operators.Pca

/** Unit semantics for [[Pca]] (q187): hand-computed covariance,
  * dominant eigenvector recovery, unit normalization, and the
  * zero-matrix / empty-input guards.
  */
class PcaSpec extends SparkSpec {
  import spark.implicits._

  test("covariance matches the hand-computed 2x2 case") {
    // rows (1,2) and (3,6): mean (2,4); population cov =
    // [[1, 2], [2, 4]]
    val df = Seq(Array(1f, 2f), Array(3f, 6f)).toDF("e")
    val c = Pca.covariance(df, "e", 2)
      .as[(Int, Int, Double)].collect()
      .map { case (i, j, v) => (i, j) -> v }.toMap
    assert(c((0, 0)) === 1.0 && c((1, 1)) === 4.0)
    assert(c((0, 1)) === 2.0 && c((1, 0)) === 2.0)
  }

  test("dominant eigenvector of the rank-1 case, unit-normalized") {
    // cov [[1,2],[2,4]] is rank 1 with eigenvector (1,2)/sqrt(5)
    val df = Seq(Array(1f, 2f), Array(3f, 6f)).toDF("e")
    val v = Pca.topComponent(df, "e", 2, iters = 3)
      .as[(Int, Double)].collect().toMap
    val expect0 = 1.0 / math.sqrt(5.0)
    assert(math.abs(v(0) - expect0) < 1e-6, s"got ${v(0)}")
    assert(math.abs(v(1) - 2.0 * expect0) < 1e-6, s"got ${v(1)}")
    assert(math.abs(v(0) * v(0) + v(1) * v(1) - 1.0) < 1e-9)
  }

  test("variance concentrated on one axis pins the component there") {
    // dim 0 swings ±8, dims 1-3 carry small fixed offsets
    val rows = (0 until 40).map { i =>
      Array((if (i % 2 == 0) 8f else -8f), 0.1f * (i % 3),
        0.05f * (i % 5), 0.2f)
    }
    val v = Pca.topComponent(rows.toDF("e"), "e", 4, iters = 4)
      .as[(Int, Double)].collect().toMap
    assert(math.abs(math.abs(v(0)) - 1.0) < 1e-3,
      s"dominant loading not on dim 0: $v")
    (1 to 3).foreach(i =>
      assert(math.abs(v(i)) < 0.05, s"dim $i loading ${v(i)}"))
  }

  test("large values keep the decimal(28,s) term range") {
    // dim 0 swings ±300: round 0's matvec of the all-ones start has
    // |v| near 4.5e4, so the squared-norm terms at scale 12 pass both
    // a long and decimal(18,12)
    val rows = (0 until 40).map { i =>
      Array((if (i % 2 == 0) 300f else -300f), 3f * (i % 3),
        2f * (i % 5), 7f)
    }
    val v = Pca.topComponent(rows.toDF("e"), "e", 4, iters = 4)
      .as[(Int, Double)].collect().toMap
    assert(math.abs(math.abs(v(0)) - 1.0) < 1e-3,
      s"dominant loading not on dim 0: $v")
    assert(math.abs(v.values.map(x => x * x).sum - 1.0) < 1e-9)
  }

  test("identical vectors (zero covariance) yield zero loadings, no error") {
    val df = Seq.fill(5)(Array(1f, 2f, 3f)).toDF("e")
    val v = Pca.topComponent(df, "e", 3, iters = 2)
      .as[(Int, Double)].collect().toMap
    assert(v.values.forall(_ === 0.0), s"expected zeros: $v")
  }

  test("empty input yields an empty result") {
    val df = Seq.empty[Array[Float]].toDF("e")
    assert(Pca.topComponent(df, "e", 8, iters = 2).count() === 0L)
  }

  test("OuterProductSum kernel is bit-identical to the decimal " +
      "posexplode plan it replaced") {
    // deterministic mix of magnitudes/signs, incl. values whose
    // products land near scale-9 rounding boundaries
    val dim = 6
    val rows = (0 until 97).map { r =>
      Array.tabulate(dim)(i =>
        (math.sin(r * 13 + i * 7) * math.pow(10, (r + i) % 4 - 1))
          .toFloat)
    }
    val df = rows.toDF("e")
    val fast = Pca.covariance(df, "e", dim)
      .as[(Int, Int, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    // the r9 plan, re-derived inline: double posexplode +
    // sum(round(xi*xj, 9)::decimal(28,9))::double / n
    val slow = df
      .select(posexplode(col("e")).as(Seq("i", "xi")), col("e"))
      .select(col("i"), col("xi").cast("double").as("xi"),
        posexplode(col("e")).as(Seq("j", "xj")))
      .select(col("i"), col("j"), col("xi"),
        col("xj").cast("double").as("xj"))
      .groupBy(col("i"), col("j"))
      .agg((sum(round(col("xi") * col("xj"), 9)
          .cast("decimal(28,9)")).cast("double") /
        count(lit(1)).cast("double")).as("e2"))
    val mu = Pca.meanVector(df, "e")
    val slowCov = slow
      .join(mu.select(col("i"), col("m").as("mi")), Seq("i"))
      .join(mu.select(col("i").as("j"), col("m").as("mj")), Seq("j"))
      .select(col("i"), col("j"),
        (col("e2") - col("mi") * col("mj")).as("c"))
      .as[(Int, Int, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(fast.keySet === slowCov.keySet)
    fast.foreach { case (k, v) =>
      assert(java.lang.Double.compare(v, slowCov(k)) === 0,
        s"cell $k: fast $v != slow ${slowCov(k)}")
    }
  }
}
