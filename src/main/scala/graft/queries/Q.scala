package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.Exact

/** Shared helpers for oracle-deterministic query results.
  *
  * The driver hash-compares Spark output against DuckDB running the
  * oracle SQL, so every value must be bit-identical across engines:
  *
  *  - Money/double sums: `round()` each term to its true decimal scale
  *    (products of 2-decimal values have an exact 4- or 6-decimal
  *    representation, and the double error of 1-2 multiplies is far
  *    below the rounding half-ulp), sum the rounded terms exactly, then
  *    cast back to double. Plain double SUM would differ by association
  *    order between engines.
  *  - Timestamps rendered as strings (`date_format` vs `strftime`).
  *  - Every query ends in an ORDER BY over a unique key; Spark asc
  *    sorts nulls first but DuckDB sorts nulls last, so sort keys are
  *    never nullable (coalesce first when they could be).
  */
object Q {
  /** Exact cross-engine sum of a fixed-scale numeric term: the value
    * of `SUM(CAST(ROUND(c, s) AS DECIMAL(18,s)))` as a double. Spark
    * computes it with [[graft.functions.Exact.sum]] (the rounded
    * terms as unscaled longs, summed in three long limbs and
    * recombined once per group); DuckDB runs the decimal form
    * ([[dsumSql]]) with its 38-digit accumulator. A registered
    * materialized view whose measure is that decimal term answers it
    * ([[graft.plans.MvRewrite]]). */
  def dsum(c: Column, scale: Int): Column = Exact.sum(c, scale)

  /** DuckDB rendering of [[dsum]]. */
  def dsumSql(expr: String, scale: Int): String =
    s"CAST(SUM(CAST(ROUND($expr, $scale) AS DECIMAL(18,$scale))) AS DOUBLE)"

  /** Exact cross-engine average: [[dsum]] divided by the row count,
    * both doubles before the (deterministic) division. */
  def davg(c: Column, scale: Int): Column = Exact.mean(c, scale)

  def davgSql(expr: String, scale: Int): String =
    s"${dsumSql(expr, scale)} / CAST(COUNT(*) AS DOUBLE)"

  /** Tie-proof 6-decimal rounding of a non-negative double:
    * floor(x·1e6 + 0.5)/1e6 is the same IEEE op sequence on both
    * engines, so exact half-ties (k/128 etc.) can't diverge the way
    * engine round() half-tie modes can. */
  def r6(c: Column): Column = floor(c * lit(1e6) + lit(0.5)) / 1e6

  /** DuckDB rendering of [[r6]]. */
  def r6Sql(expr: String): String = s"FLOOR(($expr) * 1e6 + 0.5) / 1e6"

  /** DuckDB rendering of [[graft.operators.Splits.hashBucket]]: the
    * md5 percent-bucket (first 16 bits → 0-99) that q63's split,
    * q82's contamination split, q83's strata, and q89's event
    * sampling all share. */
  def bucketSql(id: String): String = {
    def nib(i: Int) =
      s"""(strpos('0123456789abcdef',
          substr(md5(CAST($id AS VARCHAR)), $i, 1)) - 1)"""
    s"((${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)}) % 100)"
  }

  /** DuckDB 16-bit integer from md5 nibbles `start..start+3` of the
    * row id — the avalanche-mixed coordinate source q168 shares with
    * its Spark side (`conv(substring(md5(id), start, 4), 16, 10)`).
    * Linear (LCG-style) mixes are NOT a substitute here: their
    * lattice structure puts derived 2-D points on a few widely
    * separated hyperplanes and proximity fixtures go degenerate. */
  def md5Hex16Sql(id: String, start: Int): String = {
    def nib(i: Int) =
      s"""(strpos('0123456789abcdef',
          substr(md5(CAST($id AS VARCHAR)), $i, 1)) - 1)"""
    s"(${nib(start)} * 4096 + ${nib(start + 1)} * 256 + " +
      s"${nib(start + 2)} * 16 + ${nib(start + 3)})"
  }

  /** DuckDB 32-bit integer from md5 nibbles `start..start+7` of
    * expression `x` — mirrors Spark's
    * `conv(substring(md5(x), start, 8), 16, 10)` (q173's negative
    * sampler). */
  def md5Hex32Sql(x: String, start: Int): String = {
    def nib(i: Int) =
      s"""(strpos('0123456789abcdef',
          substr(md5(CAST($x AS VARCHAR)), $i, 1)) - 1)"""
    (0 until 8).map(k =>
      s"${nib(start + k)} * ${1L << (4 * (7 - k))}")
      .mkString("(", " + ", ")")
  }
}
