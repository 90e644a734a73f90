package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Exact

/** Principal-component analysis over an embedding column: the exact
  * d×d covariance matrix (one distributed pass) and the dominant
  * eigenvector by fixed-iteration power method — the classic
  * dimensionality diagnostic for embedding spaces (anisotropy,
  * dominant-direction removal à la all-but-the-top, whitening prep).
  *
  * Scale shape: covariance is ONE pass with a flat d²-cell
  * fixed-point accumulator per partition
  * ([[graft.functions.Aggregators.OuterProductSum]]) — the shuffle
  * carries one d²-long buffer per partition (map-side combine), and
  * no n·d² row expansion ever materializes (the r9 double-posexplode
  * plan paid ~19 s of generator+hash-agg CPU for the same d²-sized
  * exchange); each power-iteration matvec joins the d²-row
  * matrix against the BROADCAST d-row vector (d² ≪ data, so rounds
  * are driver-cheap metadata jobs). Nothing driver-side ever holds a
  * row of data — only the d-vector.
  *
  * Determinism: every sum is an exact fold of terms rounded to a
  * fixed scale ([[graft.functions.Exact.sum]] of `decimal(28,s)`
  * terms — float
  * products carry ≤ 48 significand bits, far inside the rounding
  * scale), and the derived double arithmetic (mean products, matvec,
  * final normalize) is the same IEEE op sequence any engine replays.
  */
object Pca {

  /** Element-wise mean vector (i, m) — decimal-exact per position,
    * the centering vector for [[covariance]] and the first half of
    * the all-but-the-top debias. */
  def meanVector(df: DataFrame, embCol: String): DataFrame =
    df.select(posexplode(col(embCol)).as(Seq("i", "xi")))
      .select(col("i"), col("xi").cast("double").as("xi"))
      .groupBy(col("i"))
      .agg(Exact.mean(col("xi"), 7, 28).as("m"))

  /** Exact population covariance entries (i, j, c) — all d² of them,
    * including both triangles (the power method wants the full
    * matrix; it is symmetric by construction). The sum-of-products
    * side is the one-pass [[graft.functions.Aggregators
    * .OuterProductSum]] kernel, bit-identical to the former
    * `sum(round(xi·xj,9)::decimal(28,9))::double` plan (PcaSpec pins
    * the equality against a posexplode re-derivation). */
  def covariance(df: DataFrame, embCol: String, dim: Int): DataFrame = {
    val mu = meanVector(df, embCol)
    val opSum = udaf(
      new graft.functions.Aggregators.OuterProductSum(dim),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Seq[Double]]())
    val sums = df
      .select(col(embCol).cast("array<double>").as("e"))
      .agg(opSum(col("e")).as("s"), count(lit(1)).as("n"))
      // a global agg emits one row even on empty input; the old
      // generator plan emitted none — preserve that contract
      .filter(col("n") > 0L)
    val e2 = sums
      .select(posexplode(col("s")).as(Seq("idx", "sv")), col("n"))
      .select(expr(s"CAST(idx DIV $dim AS INT)").as("i"),
        expr(s"CAST(idx % $dim AS INT)").as("j"),
        (col("sv") / col("n").cast("double")).as("e2"))
    e2
      .join(mu.select(col("i"), col("m").as("mi")), Seq("i"))
      .join(mu.select(col("i").as("j"), col("m").as("mj")), Seq("j"))
      .select(col("i"), col("j"),
        (col("e2") - col("mi") * col("mj")).as("c"))
  }

  /** Dominant covariance eigenvector by `iters` power iterations from
    * the all-ones vector, UNIT-NORMALIZED AFTER EVERY MATVEC — not a
    * nicety: covariance eigenvalues are often ≪ 1, so the raw
    * iterate shrinks geometrically (measured ~50× per round on the
    * test embeddings) and within a few rounds falls under any fixed
    * rounding scale, destroying both precision and determinism.
    * Keeping the iterate unit-length keeps every rounded term O(1).
    * The per-round norm is one driver scalar (a d-vector aggregate)
    * observed while the round's matvec is cut (Ckpt.iterate), so a
    * round is one job; sign is the deterministic one the all-ones
    * start converges to.
    *
    * @return (pos, loading) — d rows, Σ loading² = 1; all-zero
    *         loadings (and no error) when the matrix is zero/empty
    */
  def topComponent(df: DataFrame, embCol: String, dim: Int,
      iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val spark = df.sparkSession
    val cov = Ckpt.cut(covariance(df, embCol, dim))
    // the matvec w scaled to unit length by its observed squared norm
    def unit(w: Ckpt.Fixpoint): DataFrame = {
      val norm = math.sqrt(w.metrics.head match {
        case null => 0d
        case n2: java.lang.Double => n2
      })
      if (norm == 0d) w.df // zero/empty matrix: stay put, no /0
      else w.df.select(col("pos"), (col("v") / lit(norm)).as("v"))
    }
    val ones = spark.range(dim)
      .select(col("id").cast("int").as("pos"), lit(1.0d).as("v"))
    val last = Ckpt.iterate(ones, iters,
        Exact.sum(col("v") * col("v"), 12, 28))(Ckpt.Stop.Never) { w =>
      // the all-ones start is used as is, not scaled by its norm
      val v = if (w.rounds == 0) w.df else unit(w)
      cov
        .join(broadcast(v.select(col("pos").as("j"), col("v"))),
          Seq("j"))
        .groupBy(col("i").as("pos"))
        .agg(Exact.sum(col("c") * col("v"), 9, 28).as("v"))
    }
    unit(last).select(col("pos"), col("v").as("loading"))
  }
}
