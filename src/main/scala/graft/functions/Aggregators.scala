package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Typed UDAF surface (SURVEY.md §2.B G16): custom `Aggregator`s for
  * semantics the built-in aggregates lack. These are the sanctioned
  * extension point below raw `mapPartitions` — they keep partial
  * aggregation (map-side combine) and fit `agg(...)`, so they scale
  * exactly like built-ins: one shuffle of small partial buffers.
  */
object Aggregators {

  /** Exact top-k smallest values per group, returned sorted — the
    * aggregator form of a per-group `ORDER BY ... LIMIT k` that
    * never materializes the group. Buffer is a bounded sorted list
    * (size ≤ k), so a billion-row group still ships k doubles. */
  final class TopKMin(k: Int)
      extends Aggregator[Double, List[Double], Seq[Double]] {
    require(k > 0)
    def zero: List[Double] = Nil
    def reduce(b: List[Double], x: Double): List[Double] =
      insert(b, x)
    def merge(a: List[Double], b: List[Double]): List[Double] =
      b.foldLeft(a)(insert)
    def finish(b: List[Double]): Seq[Double] = b
    private def insert(b: List[Double], x: Double): List[Double] = {
      if (b.lengthCompare(k) >= 0 && x >= b.last) b
      else ((x :: b).sorted).take(k)
    }
    def bufferEncoder: Encoder[List[Double]] =
      ExpressionEncoder[List[Double]]()
    def outputEncoder: Encoder[Seq[Double]] =
      ExpressionEncoder[Seq[Double]]()
  }

  /** Exact decimal-summing mean: Welford is unnecessary when sums
    * are kept exact; buffer is (scaled integer sum, count). Matches
    * the cross-engine-deterministic dsum/davg discipline of the
    * oracle queries at aggregate speed (long arithmetic, no
    * BigDecimal per row). `scale` = decimal places preserved. */
  final class ExactMean(scale: Int)
      extends Aggregator[Double, (Long, Long), Double] {
    private val f = math.pow(10, scale)
    def zero: (Long, Long) = (0L, 0L)
    def reduce(b: (Long, Long), x: Double): (Long, Long) =
      (b._1 + math.round(x * f), b._2 + 1)
    def merge(a: (Long, Long), b: (Long, Long)): (Long, Long) =
      (a._1 + b._1, a._2 + b._2)
    def finish(b: (Long, Long)): Double =
      if (b._2 == 0) 0d else (b._1 / f) / b._2.toDouble
    def bufferEncoder: Encoder[(Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** One-pass d×d self-outer-product sum over an embedding column —
    * the [[graft.operators.Pca.covariance]] kernel. Replaces the
    * r9 double-`posexplode` plan (n·d² generator rows through a
    * hash aggregate) with a per-partition flat `Array[Long]` of d²
    * fixed-point accumulators: same shuffle size (d² cells), ~d²
    * fewer rows materialized, long-add hot loop.
    *
    * Determinism contract (bit-parity with the r9 decimal plan):
    * each term is `round(xi·xj, 9)` in Spark semantics —
    * `BigDecimal.valueOf(p).setScale(9, HALF_UP)` — accumulated as
    * its scaled-by-10⁹ unscaled long, summed exactly. [[finish]]
    * emits `new BigDecimal(sum, 9).doubleValue` per cell, which is
    * exactly what `sum(round(p,9).cast(decimal(28,9))).cast(double)`
    * produced. The per-element fast path rounds on the scaled double
    * and falls back to the BigDecimal op only within a few ulps of a
    * half-tie (where double arithmetic could disagree with the
    * shortest-decimal rounding) — ~10⁻³ of inputs, keeping the loop
    * in long arithmetic. [[Exact]] computes the same term as a column
    * expression at any scale, behind every other exact sum.
    *
    * Bounds (loud, not silent): accumulation uses `Math.addExact`,
    * so a cell exceeding ±2⁶³ (value sum ≈ 9.2×10⁹ after the 10⁹
    * scaling — ~10⁹ unit-scale embedding rows) raises rather than
    * wraps; beyond that, shard the input and decimal-sum the shard
    * partials (the q115 HLL partial-merge pattern). Non-finite
    * products are skipped, matching the decimal cast's null-skip.
    */
  final class OuterProductSum(dim: Int)
      extends Aggregator[Seq[Double], Array[Long], Seq[Double]] {
    require(dim >= 1, s"dim must be >= 1: $dim")
    def zero: Array[Long] = new Array[Long](dim * dim)
    def reduce(b: Array[Long], e: Seq[Double]): Array[Long] = {
      if (e != null && e.length == dim) {
        val a = e.toArray
        var i = 0
        while (i < dim) {
          val xi = a(i)
          var j = 0
          while (j < dim) {
            val p = xi * a(j)
            if (java.lang.Double.isFinite(p)) {
              val k = i * dim + j
              b(k) = Math.addExact(b(k), scaled9(p))
            }
            j += 1
          }
          i += 1
        }
      }
      b
    }
    def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var k = 0
      while (k < x.length) { x(k) = Math.addExact(x(k), y(k)); k += 1 }
      x
    }
    def finish(b: Array[Long]): Seq[Double] =
      b.map(s => new java.math.BigDecimal(
        java.math.BigInteger.valueOf(s), 9).doubleValue).toSeq
    def bufferEncoder: Encoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Seq[Double]] =
      ExpressionEncoder[Seq[Double]]()

    /** `BigDecimal.valueOf(p).setScale(9, HALF_UP)` as a scaled
      * long, long-arithmetic fast path. Safe because: (a) away from
      * half-ties, the ≤ ~2-ulp error of `|p|·10⁹` cannot change the
      * nearest-integer result (near-integer values round to that
      * integer from either side under HALF_UP); (b) within the
      * guard band of a tie, we defer to the exact BigDecimal op;
      * (c) HALF_UP is away-from-zero on ties, hence the
      * magnitude/sign split. */
    private def scaled9(p: Double): Long = {
      val a = math.abs(p) * 1e9
      if (a >= 4.5e15) slow9(p)
      else {
        val fl = math.floor(a)
        val frac = a - fl
        if (math.abs(frac - 0.5) <= 8 * math.ulp(a + 1.0)) slow9(p)
        else {
          val k = if (frac > 0.5) fl + 1 else fl
          (if (p < 0) -k else k).toLong
        }
      }
    }
    private def slow9(p: Double): Long =
      java.math.BigDecimal.valueOf(p)
        .setScale(9, java.math.RoundingMode.HALF_UP)
        .unscaledValue().longValueExact()
  }

  /** Element-wise micro-int vector sum: each float component snaps
    * to floor(x·1e6 + 0.5) — the EXACT same chain [[graft.operators
    * .Drift.embeddingCentroidDrift]]'s column expression runs, so a
    * streamed centroid sum is bit-equal to the batch one — and sums
    * in overflow-CHECKED longs (`Math.addExact` raises rather than
    * wraps; headroom ~9.2e12 unit-scale rows per group). Buffer is
    * one dim-length long array per group per task: the partial-
    * aggregable form of a per-dimension explode + sum, without the
    * dim× row blow-up in the state store. */
  final class VecMicroSum(dim: Int)
      extends Aggregator[Seq[Float], Array[Long], Seq[Long]] {
    require(dim >= 1, s"dim must be >= 1: $dim")
    def zero: Array[Long] = new Array[Long](dim)
    def reduce(b: Array[Long], e: Seq[Float]): Array[Long] = {
      if (e != null && e.length == dim) {
        var j = 0
        while (j < dim) {
          b(j) = Math.addExact(b(j),
            math.floor(e(j).toDouble * 1e6 + 0.5).toLong)
          j += 1
        }
      }
      b
    }
    def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var j = 0
      while (j < x.length) { x(j) = Math.addExact(x(j), y(j)); j += 1 }
      x
    }
    def finish(b: Array[Long]): Seq[Long] = b.toSeq
    def bufferEncoder: Encoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Seq[Long]] =
      ExpressionEncoder[Seq[Long]]()
  }
}
