package graft.functions

import java.math.{BigDecimal => JBigDecimal, BigInteger}

import org.apache.spark.sql.{Column, functions}
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions._

/** Exact fixed-scale sums on long accumulators: the one form of the
  * cross-engine `SUM(CAST(ROUND(x, s) AS DECIMAL(p,s)))` contract.
  *
  * Spark keeps a decimal sum wider than 18 digits as BigInteger bytes
  * in the aggregation buffer, so the decimal form pays a `round` and a
  * BigDecimal add per input row. Here every row does long arithmetic
  * only, and the decimal appears once per group:
  *
  *  - The term is the unscaled HALF_UP value of `round(x, s)`. When
  *    `|x|·10^s < 4.5e15` and the product lies outside a guard band
  *    around each half-tie, it is `floor(x·10^s + 0.5)` computed in
  *    doubles: outside the band the double product cannot disagree
  *    with the shortest-decimal rounding Spark applies (the argument
  *    of [[Aggregators.OuterProductSum]]). Every other row (near a
  *    tie, large, non-finite, null) takes the decimal term
  *    `round(x,s).cast(decimal(p,s))` itself, in the `when`'s other
  *    branch that codegen evaluates only for those rows, so null,
  *    error and overflow behaviour, and the range of one term, are
  *    the decimal form's.
  *  - [[limbs]]: the term split into 21-bit limbs, each summed by a
  *    plain long `sum`; three limbs hold a `decimal(18,s)` term, five
  *    a term up to `decimal(28,s)`. Every limb sum stays below 2^63
  *    for 2^42 terms, whatever `spark.sql.ansi.enabled` says.
  *  - [[finish]]: the limb sums recombined once per group into the
  *    unscaled total as a `decimal(38,0)` (integer decimal arithmetic
  *    drops no digits; `total × 1E-s` would make Spark's
  *    precision-loss rule cut the scale), whose decimal text with the
  *    point put back in is parsed as the double. A parse is correctly
  *    rounded, as the decimal form's `cast("double")` is, so the
  *    double is the same for any total below 10^38 unscaled, the
  *    decimal form's largest accumulator.
  */
object Exact {
  private val LimbBits = 21
  private val LimbMask = (1L << LimbBits) - 1
  // below 2^52, so |x|·10^s + 0.5 and its floor stay exact doubles
  private val FastBound = 4.5e15
  // ≥ 8 ulp(|y| + 1): wider than the product's error near a tie
  private val TieBand = math.pow(2, -49)

  /** Whether [[sum]] takes this scale and term precision. */
  private[graft] def supports(scale: Int, precision: Int): Boolean =
    scale >= 0 && scale <= 12 && precision >= 18 && precision <= 28

  private def check(scale: Int, precision: Int): Unit = {
    require(scale >= 0 && scale <= 12,
      s"scale must be in [0, 12], got $scale")
    require(precision >= 18 && precision <= 28,
      s"precision must be in [18, 28], got $precision")
  }

  /** The unscaled value of `round(x, scale).cast(decimal(precision,
    * scale))` as long limbs, low first: `Σ limb_i · 2^(21 i)` is the
    * term, and the limbs are null or raise exactly where the decimal
    * term does. */
  private[graft] def limbs(x: Column, scale: Int,
      precision: Int = 18): Seq[Column] = {
    check(scale, precision)
    val y = x.cast("double") * lit(s"1e$scale".toDouble)
    val fast = abs(y) < FastBound &&
      abs(y - floor(y) - 0.5) > (abs(y) + 1) * lit(TieBand)
    // off a tie, half up (away from zero) is floor(y + 0.5) either side
    val halfUp = floor(y + 0.5)
    // the decimal term times 10^s: an integer, so exact in any type
    val unscaled = round(x, scale).cast(s"decimal($precision,$scale)") *
      lit(JBigDecimal.TEN.pow(scale))
    def split(t: Column) = Seq(t.bitwiseAND(lit(LimbMask)),
      shiftright(t, LimbBits).bitwiseAND(lit(LimbMask)))
    if (precision <= 18) {
      val t = when(fast, halfUp).otherwise(unscaled.cast("long"))
      split(t) :+ shiftright(t, 2 * LimbBits)
    } else {
      // the term as hi·2^42 + lo, 0 ≤ lo < 2^42: a decimal(28,s) term
      // does not fit a long, but each part does
      val base = lit(JBigDecimal.valueOf(1L << (2 * LimbBits)))
      val rest = pmod(unscaled, base)
      val lo = when(fast,
          halfUp.bitwiseAND(lit((1L << 2 * LimbBits) - 1)))
        .otherwise(rest.cast("long"))
      val hi = when(fast, shiftright(halfUp, 2 * LimbBits))
        .otherwise(((unscaled - rest) / base).cast("long"))
      split(lo) ++ split(hi) :+ shiftright(hi, 2 * LimbBits)
    }
  }

  /** The exact sum, as a double, from the sums of the [[limbs]] (null
    * when the group summed no non-null term). */
  private def finish(sums: Seq[Column], scale: Int): Column = {
    val total = sums.zipWithIndex.map { case (s, i) =>
      s.cast("decimal(38,0)") *
        lit(new JBigDecimal(BigInteger.ONE.shiftLeft(LimbBits * i)))
    }.reduce(_ + _)
    // "-123" → "-0000123" → "-000.0123" at scale 4: zeros after the
    // sign keep a digit before the point; `total` is referenced once,
    // so the plan holds each limb sum once
    val text = if (scale == 0) total.cast("string") else regexp_replace(
      regexp_replace(total.cast("string"), "(?<![0-9])(?=[0-9])",
        "0" * scale),
      s"([0-9]{$scale})$$", ".$1")
    text.cast("double")
  }

  /** Exact sum of `round(x, scale).cast(decimal(precision, scale))`
    * over the group, as a double. */
  def sum(x: Column, scale: Int, precision: Int = 18): Column =
    finish(limbs(x, scale, precision).map(l => functions.sum(l)), scale)

  /** [[sum]] of `decimal(18, scale)` terms over a window frame: a
    * window sum per limb. */
  def sum(x: Column, scale: Int, w: WindowSpec): Column =
    finish(limbs(x, scale).map(l => functions.sum(l).over(w)), scale)

  /** [[sum]] divided by the group's row count. */
  def mean(x: Column, scale: Int, precision: Int = 18): Column =
    sum(x, scale, precision) / count(lit(1)).cast("double")
}
