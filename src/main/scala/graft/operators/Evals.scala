package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-evaluation and preference analytics — the operators a
  * training-data platform needs once models start coming OUT of the
  * data going in: Bradley-Terry strengths from pairwise preference
  * logs (the RLHF reward-data shape), exact ROC-AUC from a score
  * histogram, calibration bins + expected calibration error, and
  * Cohen's kappa for inter-annotator agreement (label-quality
  * auditing of human preference/label collection).
  *
  * Everything runs in exact integer algebra (micro = 1e-6, ppm
  * units): sums widen to DECIMAL(38,0) (DuckDB's HUGEINT SUM width,
  * the q204 lesson — int64 wraps silently, decimal degrades to a
  * loud NULL), divisions are integral `div` on positive operands
  * (where a value can be negative — kappa — the sign is split out
  * explicitly, because Spark `div` truncates toward zero while a
  * floor-division engine would round down). No float ever reaches a
  * hashed column.
  */
object Evals {

  private def wide(c: Column): Column = c.cast("decimal(38,0)")

  /** Canonical oriented pair-count frame from a raw comparison log:
    * one row per ordered (item, opp) with `n` comparisons and `w`
    * wins for `item`. The ONLY full-data shuffle in the Bradley-
    * Terry pipeline: the raw log aggregates to (a, b) pair counts
    * first (partial-agg/map-side combine does the heavy lifting),
    * then both orientations of the pair-sized frame union and
    * re-group — at 100 TB the second shuffle moves items² rows, not
    * log rows.
    *
    * Rows whose `winACol` is NULL (winner unrecorded) are EXCLUDED
    * from both n and w: counting them in n while crediting 0 wins
    * would treat missing data as a loss for `a` — and, through the
    * reversed orientation's n−w, as a fabricated WIN for `b`. A
    * comparison with no recorded winner carries no preference
    * evidence, so it must not move either strength. */
  def orientedPairs(cmp: DataFrame, aCol: String, bCol: String,
      winACol: String): DataFrame = {
    val p = cmp
      .select(col(aCol).as("a"), col(bCol).as("b"),
        col(winACol).as("wa"))
      .filter(col("wa").isNotNull)
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("wa"), 1L).otherwise(0L)).as("w"))
    p.select(col("a").as("item"), col("b").as("opp"), col("n"),
        col("w"))
      .unionAll(p.select(col("b").as("item"), col("a").as("opp"),
        col("n"), (col("n") - col("w")).as("w")))
      .groupBy(col("item"), col("opp"))
      .agg(sum(col("n")).as("n"), sum(col("w")).as("w"))
  }

  /** Bradley-Terry strengths by `iters` rounds of the MM update
    * (Hunter 2004): s_i ← W_i / Σ_j n_ij/(s_i+s_j), then
    * normalized so Σ s = |items|·1e6 — all in exact integers:
    *
    *  - strengths live in micro units (start 1e6 each);
    *  - the per-pair term is (n_ij·1e15) div (s_i+s_j) — int64-safe
    *    up to ~9e9 comparisons per pair, computed in decimal so
    *    anything past that degrades to a loud NULL, never a wrap;
    *  - per-item denominators, raw scores, and the normalizer are
    *    DECIMAL(38,0) sums with integral divides, so the oracle
    *    replays the identical chain in HUGEINT `//`.
    *
    * An item with zero wins converges to strength 0 (the MLE
    * boundary) — deterministic on both engines.
    *
    * Scale shape: `oriented` is items²-bounded (built by
    * [[orientedPairs]] from the raw log with one shuffle); every
    * round is two broadcast joins of the item-sized strength frame
    * onto it plus one pair-sized groupBy — nothing in the fixpoint
    * ever touches raw-log-sized data, so rounds cost the same at
    * 100 TB as at test scale. The item count is a driver count of
    * the item domain (models under comparison — bounded by
    * construction, like PageRank's vertex count).
    */
  def bradleyTerry(oriented: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val o = oriented
      .select(col("item"), col("opp"), col("n"), col("w"))
      .transform(Ckpt.cut)
    val items = o.select(col("item")).distinct().transform(Ckpt.cut)
    val nItems = items.count()
    require(nItems >= 2, s"need >= 2 items, got $nItems")
    val wins = o.groupBy(col("item"))
      .agg(sum(col("w")).as("wins"), sum(col("n")).as("n_cmp"))
      .transform(Ckpt.cut)
    val scaleMicro = nItems * 1000000L
    // hand-rolled, not Ckpt.iterate: a round is two cuts (raw, then
    // its normalization)
    var s = items.select(col("item"), lit(1000000L).as("v"))
    for (_ <- 1 to iters) {
      val denom = o
        .join(broadcast(s.select(col("item"), col("v").as("vi"))),
          Seq("item"))
        .join(broadcast(s.select(col("item").as("opp"),
          col("v").as("vj"))), Seq("opp"))
        .select(col("item"),
          expr("(cast(n as decimal(38,0)) * 1000000000000000)" +
            " div (vi + vj)").as("term"))
        .groupBy(col("item"))
        .agg(sum(wide(col("term"))).as("denom"))
      val raw = denom
        .join(broadcast(wins.select(col("item"), col("wins"))),
          Seq("item"))
        .select(col("item"),
          expr("(cast(wins as decimal(38,0)) * 1000000000000000)" +
            " div denom").as("raw"))
        .transform(Ckpt.cut)
      s = raw
        .crossJoin(broadcast(raw.agg(sum(wide(col("raw"))).as("tot"))))
        .select(col("item"),
          expr(s"(cast(raw as decimal(38,0)) * $scaleMicro) div tot")
            .as("v"))
        .transform(Ckpt.cut)
    }
    s.join(broadcast(wins), Seq("item"))
      .select(col("item"), col("n_cmp"), col("wins"),
        col("v").as("strength_micro"))
  }

  /** Exact ROC-AUC by the rank-sum identity over the SCORE HISTOGRAM
    * (never row pairs): AUC·P·Q = #(pos>neg) + ½·#(pos==neg), so
    * with per-score positive/negative counts p_c, q_c and the
    * running negatives-below count,
    * 2U = Σ_c p_c·(2·q_below + q_c) — an integer. Returns one row
    * (n_pos, n_neg, two_u, auc_ppm) with
    * auc_ppm = (2U·5e5) div (P·Q).
    *
    * Scale shape: one partial-aggregated groupBy over the integral
    * score column, then a cumulative window over the HISTOGRAM
    * relation — bounded by the score domain (cents of a bounded
    * metric), not the row count, so the unpartitioned window is a
    * plan-time-bounded frame, same contract as the drift bins.
    *
    * @param scoreCol integral score (snap floats to cents first —
    *                 a float score would put engine rounding in the
    *                 histogram keys)
    * @param posCol   boolean label
    */
  def exactAuc(scored: DataFrame, scoreCol: Column,
      posCol: Column): DataFrame = {
    val h = scored
      .select(scoreCol.as("c"),
        when(posCol, 1L).otherwise(0L).as("y"))
      .groupBy(col("c"))
      .agg(sum(col("y")).as("p"),
        (count(lit(1)) - sum(col("y"))).as("q"))
    val w = Window.orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = h
      .withColumn("q_below", coalesce(sum(col("q")).over(w), lit(0L)))
      .select(col("p"), col("q"),
        (wide(col("p")) * (lit(2L) * col("q_below") + col("q")))
          .as("u2"))
      .agg(sum(col("p")).as("n_pos"), sum(col("q")).as("n_neg"),
        sum(col("u2")).as("two_u"))
    tot.select(col("n_pos"), col("n_neg"),
      col("two_u").cast("long").as("two_u"),
      expr("(two_u * 500000)" +
        " div (cast(n_pos as decimal(38,0)) * n_neg)").as("auc_ppm"))
  }

  /** Per-slice exact ROC-AUC ([[exactAuc]] partitioned by a group
    * column): the slice-based eval — does the model rank worse on
    * some segment? Identical rank-sum algebra per group; the
    * cumulative window partitions by the slice, so state per
    * partition is that slice's score histogram (bounded by the score
    * domain), and slices parallelize instead of serializing through
    * one global sort. Returns one row per slice. */
  def exactAucBy(scored: DataFrame, sliceCol: Column,
      scoreCol: Column, posCol: Column): DataFrame = {
    val h = scored
      .select(sliceCol.as("slice"), scoreCol.as("c"),
        when(posCol, 1L).otherwise(0L).as("y"))
      .groupBy(col("slice"), col("c"))
      .agg(sum(col("y")).as("p"),
        (count(lit(1)) - sum(col("y"))).as("q"))
    val w = Window.partitionBy(col("slice")).orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, -1)
    h.withColumn("q_below", coalesce(sum(col("q")).over(w), lit(0L)))
      .select(col("slice"), col("p"), col("q"),
        (wide(col("p")) * (lit(2L) * col("q_below") + col("q")))
          .as("u2"))
      .groupBy(col("slice"))
      .agg(sum(col("p")).as("n_pos"), sum(col("q")).as("n_neg"),
        sum(col("u2")).as("two_u"))
      .select(col("slice"), col("n_pos"), col("n_neg"),
        col("two_u").cast("long").as("two_u"),
        expr("(two_u * 500000)" +
          " div (cast(n_pos as decimal(38,0)) * n_neg)")
          .as("auc_ppm"))
  }

  /** Multiplier-bootstrap AUC replicates — uncertainty for the
    * ranking metric WITHOUT random number generation: each caller-
    * supplied integer weight column reweights every row (an md5-
    * derived binomial(8, 1/8) ≈ Poisson(1) multiplier in q251, so
    * replicates are deterministic and regeneration-stable), and each
    * replicate's AUC is the exact rank-sum over the WEIGHTED score
    * histogram. The spread across replicates is the confidence band
    * an eval report should carry next to the point estimate.
    *
    * Scale shape: ONE partial-aggregated groupBy builds all
    * replicates' weighted histograms side by side (2·B conditional
    * sums), one ordered window over the bounded score domain carries
    * all B running negative counts in the same pass, and the
    * replicate fan-out is a stateless explode — B never multiplies
    * the data passes. Replicates where a class weighs out entirely
    * are dropped (AUC undefined there).
    *
    * Replica-count-vs-width tradeoff: state NEVER scales with rows —
    * the post-aggregate frame is (score domain) × (2·B sums) — but
    * the map side evaluates B weight expressions per row, so wall
    * grows ~linearly in B on top of the scan (q251 at sf1: 8
    * replicates over 6M rows ≈ 6 s, the measured ~B/2-fold of the
    * unweighted q234 scan). At 100× the right lever is fewer, wider
    * replicates (B = 8 already gives a usable band; the binomial
    * weights' variance, not B, sets band quality) or computing the
    * weights from an already-materialized hash column instead of 8·B
    * md5 calls per row — the md5s, not the sums, are the map-side
    * cost. A sampled-replica variant (weights on a row sample)
    * trades band width for scan cost but breaks the "exact rank-sum
    * over the full population" contract, so it is deliberately not
    * the default.
    *
    * @return one row per replicate: (replicate, n_pos_w, n_neg_w,
    *         two_u, auc_ppm), ordered by replicate */
  def bootstrapAucReplicates(scored: DataFrame, scoreCol: Column,
      posCol: Column, weightCols: Seq[Column]): DataFrame = {
    val b = weightCols.size
    require(b >= 1, "need at least one weight column")
    val base = scored.select(
      (scoreCol.as("c") +: when(posCol, 1L).otherwise(0L).as("y") +:
        weightCols.zipWithIndex.map { case (w, i) => w.as(s"w$i") })
        : _*)
    val sums = (0 until b).flatMap(i => Seq(
      sum(when(col("y") === 1L, col(s"w$i")).otherwise(0L))
        .as(s"pw$i"),
      sum(when(col("y") === 0L, col(s"w$i")).otherwise(0L))
        .as(s"qw$i")))
    val h = base.groupBy(col("c")).agg(sums.head, sums.tail: _*)
    val w = Window.orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withBelow = (0 until b).foldLeft(h) { (df, i) =>
      df.withColumn(s"qb$i",
        coalesce(sum(col(s"qw$i")).over(w), lit(0L)))
    }
    val aggCols = (0 until b).flatMap(i => Seq(
      sum(col(s"pw$i")).as(s"np$i"),
      sum(col(s"qw$i")).as(s"nq$i"),
      sum(wide(col(s"pw$i")) *
        (lit(2L) * col(s"qb$i") + col(s"qw$i"))).as(s"tu$i")))
    val one = withBelow.agg(aggCols.head, aggCols.tail: _*)
    val rows = array((0 until b).map { i =>
      struct(lit(i.toLong).as("replicate"),
        col(s"np$i").as("n_pos_w"), col(s"nq$i").as("n_neg_w"),
        col(s"tu$i").cast("long").as("two_u"))
    }: _*)
    one.select(explode(rows).as("r"))
      .select(col("r.replicate").as("replicate"),
        col("r.n_pos_w").as("n_pos_w"),
        col("r.n_neg_w").as("n_neg_w"), col("r.two_u").as("two_u"))
      .filter(col("n_pos_w") > 0L && col("n_neg_w") > 0L)
      .select(col("replicate"), col("n_pos_w"), col("n_neg_w"),
        col("two_u"),
        expr("(cast(two_u as decimal(38,0)) * 500000)" +
          " div (cast(n_pos_w as decimal(38,0)) * n_neg_w)")
          .as("auc_ppm"))
      .orderBy(col("replicate"))
  }

  /** Reliability diagram + expected calibration error in exact ppm:
    * predictions bucketed into `bins` equal-width confidence bins;
    * per bin the row count, confidence mass, positive count, and
    * |Σconf − pos·1e6| gap; ECE_ppm = (Σ gaps) div N rides every
    * row (a broadcast 1-row total). Confidence mass sums widen to
    * decimal and cast back — past-int64 totals degrade to loud
    * NULLs. One partial-aggregated groupBy; the bin frame is
    * plan-time bounded.
    *
    * @param confPpmCol predicted probability in ppm ∈ [0, 1e6)
    * @param posCol     boolean outcome
    */
  def calibrationBins(preds: DataFrame, confPpmCol: Column,
      posCol: Column, bins: Int): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    val b = preds
      .select(confPpmCol.as("conf_ppm"),
        when(posCol, 1L).otherwise(0L).as("y"))
      .groupBy(expr(s"(conf_ppm * $bins) div 1000000").as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(wide(col("conf_ppm"))).cast("long").as("sum_conf_ppm"),
        sum(col("y")).as("pos"))
      .withColumn("gap",
        abs(col("sum_conf_ppm") - col("pos") * lit(1000000L)))
    b.crossJoin(broadcast(b.agg(sum(wide(col("gap"))).as("gap_tot"),
        sum(col("n")).as("n_tot"))))
      .select(col("bin"), col("n"), col("sum_conf_ppm"), col("pos"),
        col("gap"), expr("gap_tot div n_tot").as("ece_ppm"))
  }

  /** Spearman rank correlation with exact tie handling (mid-ranks):
    * do two scorers RANK documents the same way, robust to monotone
    * rescaling? Ranks are derived from each score's HISTOGRAM
    * (doubled mid-rank 2r(v) = 2·cum_below + cnt + 1 keeps every
    * rank an integer), joined back to rows, and the five raw moments
    * of (2r_x, 2r_y) accumulate exactly in DECIMAL(38,0) — then ρ is
    * ONE identical IEEE double expression on both engines (the q88
    * exact-moments contract: exact in, deterministic out).
    *
    * Scale shape: two bounded-histogram windows (score domains, not
    * rows), two hash joins mapping rows to ranks, one
    * partial-aggregated moment pass. Returns one row
    * (n, rho — r6-rounded double). */
  def spearman(scored: DataFrame, xCol: Column,
      yCol: Column): DataFrame = {
    val t = scored.select(xCol.as("x"), yCol.as("y"))
    def rankMap(c: String) = {
      val w = Window.orderBy(col(c))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(w))
        .select(col(c),
          (lit(2L) * (col("cum") - col("cnt")) + col("cnt") + lit(1L))
            .as(s"r2$c"))
    }
    val j = t.join(rankMap("x"), Seq("x")).join(rankMap("y"), Seq("y"))
    val m = j.agg(count(lit(1)).as("n"),
      sum(wide(col("r2x"))).as("sx"), sum(wide(col("r2y"))).as("sy"),
      sum(wide(col("r2x")) * col("r2x")).as("sxx"),
      sum(wide(col("r2y")) * col("r2y")).as("syy"),
      sum(wide(col("r2x")) * col("r2y")).as("sxy"))
    val nn = col("n").cast("double")
    val (dsx, dsy) = (col("sx").cast("double"), col("sy").cast("double"))
    val cov = nn * col("sxy").cast("double") - dsx * dsy
    val vx = nn * col("sxx").cast("double") - dsx * dsx
    val vy = nn * col("syy").cast("double") - dsy * dsy
    m.select(col("n"),
      (floor(cov / sqrt(vx * vy) * lit(1e6) + lit(0.5)) / 1e6)
        .as("rho"))
  }

  /** Isotonic regression (PAVA) over an ordered bin histogram — the
    * recalibration step that FIXES what [[calibrationBins]] measures:
    * the least-squares monotone fit of per-bin hit rate as a
    * function of predicted confidence, computed by pool-adjacent-
    * violators in exact rational block algebra.
    *
    * Each pass pools every maximal descending run into one block
    * (the PAVA lemma: adjacent violators share a block in the
    * optimal fit, and run-pooling is just repeated adjacent pooling,
    * so iterated passes converge to THE unique L2 isotonic
    * solution). A pass with any violation reduces the block count,
    * so `bins` passes always suffice — the loop is unrolled at plan
    * time. Block values are never materialized as quotients until
    * the end: violation tests cross-multiply (pos_prev·n > pos·n_prev
    * in DECIMAL(38,0)), so every comparison is exact and the DuckDB
    * oracle replays the identical pass chain.
    *
    * Scale shape: the input is a BIN frame (bounded by the bin
    * count, a plan constant — the calibration-bins contract), so the
    * per-pass unpartitioned windows run over ≤bins rows; the
    * full-data work happened in the upstream aggregation.
    *
    * @param bins  frame with (bin, n, pos), n > 0, one row per
    *              populated bin
    * @return blocks (lo_bin, hi_bin, n, pos, fitted_ppm) ordered by
    *         lo_bin, fitted_ppm = pos·1e6 div n non-decreasing
    */
  def isotonicFit(bins: DataFrame, passes: Int): DataFrame = {
    require(passes >= 1, s"passes must be >= 1, got $passes")
    val ord = Window.orderBy(col("lo"))
    val run = Window.orderBy(col("lo"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val start = bins
      .select(col("bin").as("lo"), col("bin").as("hi"), col("n"),
        col("pos"))
    val blocks = Ckpt.iterate(start, passes)(Ckpt.Stop.Never) { s =>
      s.df
        .withColumn("prev_pos", lag(col("pos"), 1).over(ord))
        .withColumn("prev_n", lag(col("n"), 1).over(ord))
        .withColumn("grp", sum(when(col("prev_pos").isNull ||
            !(wide(col("prev_pos")) * col("n") >
              wide(col("pos")) * col("prev_n")), 1L)
          .otherwise(0L)).over(run))
        .groupBy(col("grp"))
        .agg(min(col("lo")).as("lo"), max(col("hi")).as("hi"),
          sum(col("n")).as("n"), sum(col("pos")).as("pos"))
        .select(col("lo"), col("hi"), col("n"), col("pos"))
    }.df
    blocks
      .select(col("lo").as("lo_bin"), col("hi").as("hi_bin"),
        col("n"), col("pos"),
        expr("(cast(pos as decimal(38,0)) * 1000000) div n")
          .as("fitted_ppm"))
      .orderBy(col("lo_bin"))
  }

  /** Fleiss' kappa for k raters per item, exact ppm: the
    * multi-rater generalization of [[cohenKappa]] (label-quality
    * audit when every item gets k independent annotations).
    *
    * The per-item agreement Σ_c n_ic² collapses MAP-SIDE: with the k
    * labels in one row, Σ_c n_ic² = k + 2·(#equal pairs among the
    * labels), so P̄'s numerator A = Σ_i (Σ_c n_ic² − k) = 2·Σ equal
    * pairs — one conditional-sum aggregate, no per-item shuffle.
    * Only the category marginals C_c (for chance agreement
    * Pe = Σ (C_c/(nk))²) need a shuffle: one explode + groupBy over
    * the category domain. κ = (P̄−Pe)/(1−Pe) cleared of denominators:
    * num = A·(nk)² − B·nk(k−1), den = nk(k−1)·((nk)² − B) with
    * B = Σ C_c² — sign split before the integral divide, all
    * DECIMAL(38,0).
    *
    * @param labelCols the k per-rater label columns (k ≥ 2)
    * @return per-category marginals (category, c_total) plus the
    *         shared kappa_ppm, ordered by category */
  def fleissKappa(items: DataFrame, labelCols: Seq[Column])
      : DataFrame = {
    val k = labelCols.size
    require(k >= 2, s"need >= 2 raters, got $k")
    val named = items.select(
      labelCols.zipWithIndex.map { case (c, i) => c.as(s"l$i") }: _*)
      .transform(Ckpt.cut)
    val eqPairs = (0 until k).combinations(2).map { case Seq(i, j) =>
      when(col(s"l$i") === col(s"l$j"), 1L).otherwise(0L)
    }.reduce(_ + _)
    val tot = named.agg(count(lit(1)).as("n"),
      sum(wide(eqPairs)).as("e"))
    val marg = named
      .select(explode(array((0 until k).map(i => col(s"l$i")): _*))
        .as("category"))
      .groupBy(col("category"))
      .agg(count(lit(1)).as("c_total"))
    val b = marg.agg(sum(wide(col("c_total")) * col("c_total"))
      .as("bb"))
    marg.crossJoin(broadcast(tot)).crossJoin(broadcast(b))
      .withColumn("nk", expr(s"cast(n as decimal(38,0)) * $k"))
      .withColumn("num",
        expr(s"2 * e * nk * nk - bb * nk * ${k - 1}"))
      .withColumn("den", expr(s"nk * ${k - 1} * (nk * nk - bb)"))
      .select(col("category"), col("c_total"),
        expr("""cast(case when num < 0
            then -(((-num) * 1000000) div den)
            else (num * 1000000) div den
          end as bigint)""").as("kappa_ppm"))
      .orderBy(col("category"))
  }

  /** Classifier operating points at fixed thresholds, exact ppm —
    * the confusion-matrix sweep behind a precision/recall curve:
    * per threshold t, tp/fp/fn/tn of "predict positive iff score ≥
    * t", precision, recall, and F1 = 2tp/(2tp+fp+fn) (an exact
    * rational — no harmonic-mean floats). Built from the score
    * HISTOGRAM cross-joined with the plan-constant threshold list,
    * so the sweep costs one partial-aggregated groupBy over rows
    * plus a (histogram × thresholds)-sized rollup. */
  def operatingPoints(scored: DataFrame, scoreCol: Column,
      posCol: Column, thresholds: Seq[Long]): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    val h = scored
      .select(scoreCol.as("c"),
        when(posCol, 1L).otherwise(0L).as("y"))
      .groupBy(col("c"))
      .agg(sum(col("y")).as("p"),
        (count(lit(1)) - sum(col("y"))).as("q"))
    val ss = scored.sparkSession
    import ss.implicits._
    h.crossJoin(broadcast(thresholds.toDF("t")))
      .groupBy(col("t"))
      .agg(sum(when(col("c") >= col("t"), col("p")).otherwise(0L))
          .as("tp"),
        sum(when(col("c") >= col("t"), col("q")).otherwise(0L))
          .as("fp"),
        sum(when(col("c") < col("t"), col("p")).otherwise(0L))
          .as("fn"),
        sum(when(col("c") < col("t"), col("q")).otherwise(0L))
          .as("tn"))
      .select(col("t"), col("tp"), col("fp"), col("fn"), col("tn"),
        expr("(cast(tp as decimal(38,0)) * 1000000) div (tp + fp)")
          .as("precision_ppm"),
        expr("(cast(tp as decimal(38,0)) * 1000000) div (tp + fn)")
          .as("recall_ppm"),
        expr("(cast(tp as decimal(38,0)) * 2000000)" +
          " div (2 * tp + fp + fn)").as("f1_ppm"))
      .orderBy(col("t"))
  }

  /** Kendall rank correlation over QUANTIZED scores — concordant /
    * discordant / tied pair counts as exact integers, τ-a in exact
    * ppm, τ-b (tie-corrected) as one shared IEEE double from those
    * integers (sqrt is correctly rounded — the q226 contract).
    *
    * Pairs are never enumerated: the joint (x, y) grid aggregates
    * once, densifies to the (distinct-x × distinct-y) lattice
    * (bounded — quantized scores are the contract, like the binned
    * AUC), and concordance is 2-D dominance counting by prefix
    * sums: A(x,y) = Σ_{x'<x} n(x',y) (one window per y), then
    * C_ll(x,y) = Σ_{y'<y} A(x,y') (one window per x);
    * C = Σ n·C_ll. Discordance reuses the same sums:
    * C_lu = T_below(x) − C_ll − A with T_below the 1-D column-total
    * prefix. Ties come off the marginals. Identity
    * C + D + ties = n(n−1)/2 is checked by construction in the
    * spec.
    *
    * @return one row: n, c, d, tied_x, tied_y, tied_xy, tau_a_ppm,
    *         tau_b (r6 double) */
  def kendallGrid(scored: DataFrame, xCol: Column,
      yCol: Column): DataFrame = {
    val g = scored.select(xCol.as("x"), yCol.as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("n"))
      .transform(Ckpt.cut)
    val dense = g.select(col("x")).distinct()
      .crossJoin(g.select(col("y")).distinct())
      .join(g, Seq("x", "y"), "left_outer")
      .select(col("x"), col("y"),
        coalesce(col("n"), lit(0L)).as("n"))
    val wA = Window.partitionBy(col("y")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wC = Window.partitionBy(col("x")).orderBy(col("y"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val colTot = g.groupBy(col("x")).agg(sum(col("n")).as("tx"))
    val wT = Window.orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val tBelow = colTot
      .withColumn("t_below", coalesce(sum(col("tx")).over(wT),
        lit(0L)))
      .select(col("x"), col("t_below"))
    val cells = dense
      .withColumn("a", coalesce(sum(col("n")).over(wA), lit(0L)))
      .withColumn("c_ll", coalesce(sum(col("a")).over(wC), lit(0L)))
      .join(tBelow, Seq("x"))
      .select(col("x"), col("y"), col("n"), col("c_ll"),
        (col("t_below") - col("c_ll") - col("a")).as("c_lu"))
    val marg = (df: DataFrame, k: String, out: String) =>
      df.groupBy(col(k)).agg(sum(col("n")).as("t"))
        .agg(sum(wide(col("t")) * (col("t") - 1L)).as(out))
    // each concordant pair is counted ONCE (at its upper-right
    // cell), each discordant pair once (at its lower-right cell);
    // the tie sums Σ t(t−1) are doubled pair counts, halved below
    val tots = cells.agg(sum(col("n")).as("n"),
        sum(wide(col("n")) * col("c_ll")).as("c"),
        sum(wide(col("n")) * col("c_lu")).as("d"),
        sum(wide(col("n")) * (col("n") - 1L)).as("txy2"))
      .crossJoin(broadcast(marg(g, "x", "tx2")))
      .crossJoin(broadcast(marg(g, "y", "ty2")))
    tots.select(col("n"),
      col("c").cast("long").as("c"),
      col("d").cast("long").as("d"),
      expr("((tx2 - txy2) div 2)").as("tied_x"),
      expr("((ty2 - txy2) div 2)").as("tied_y"),
      expr("(txy2 div 2)").as("tied_xy"),
      expr("""cast(case when c - d < 0
          then -(((d - c) * 2000000)
            div (cast(n as decimal(38,0)) * (n - 1)))
          else ((c - d) * 2000000)
            div (cast(n as decimal(38,0)) * (n - 1))
        end as bigint)""").as("tau_a_ppm"),
      (floor(
        (col("c").cast("double") - col("d").cast("double")) /
          sqrt((col("n").cast("double") * (col("n").cast("double") - 1)
              / 2d - (col("tx2").cast("double") / 2d)) *
            (col("n").cast("double") * (col("n").cast("double") - 1)
              / 2d - (col("ty2").cast("double") / 2d)))
          * lit(1e6) + lit(0.5)) / 1e6).as("tau_b"))
  }

  /** Leakage-safe (leave-one-out) target encoding with additive
    * smoothing — the feature-engineering step that replaces a
    * categorical column with the target mean of its category WITHOUT
    * letting a row see its own label:
    *
    *   loo(i)      = (Σ_cat y − y_i) / (n_cat − 1)
    *   smoothed(i) = (Σ_cat y − y_i + m·μ) / (n_cat − 1 + m),
    *
    * μ the global target mean. Both exact integer micro-units: the
    * smoothed form clears μ = total/N into
    * ((Σ_cat − y_i)·N + m·total)·1e6 div ((n_cat−1+m)·N), all
    * DECIMAL(38,0) — so the encoding is reproducible bit-for-bit
    * across engines and training runs.
    *
    * Scale shape: one partial-aggregated groupBy builds the
    * category sums (category-domain-sized), broadcast back onto
    * rows with a 1-row global total — the encode itself is
    * map-side. Categories with a single row have no LOO mean;
    * their loo_micro is NULL (smoothed stays defined).
    *
    * @param target integral NON-NEGATIVE target (snap money to
    *               cents first) — keeps every dividend positive, so
    *               integral-divide truncation can't diverge engines
    * @param m      smoothing pseudo-count (≥ 0; with m = 0 a
    *               single-row category has no defined smoothed
    *               value either — use m ≥ 1 when singletons are
    *               possible)
    */
  def targetEncodeLoo(rows: DataFrame, idCol: Column,
      catCol: Column, target: Column, m: Int): DataFrame = {
    require(m >= 0, s"smoothing m must be >= 0, got $m")
    val t = rows.select(idCol.as("id"), catCol.as("cat"),
      target.as("y"))
    val cats = t.groupBy(col("cat"))
      .agg(sum(col("y")).as("sum_y"), count(lit(1)).as("n_cat"))
    val tot = cats.agg(sum(col("sum_y")).as("total"),
      sum(col("n_cat")).as("n_all"))
    t.join(broadcast(cats), Seq("cat"))
      .crossJoin(broadcast(tot))
      .select(col("id"), col("cat"), col("y"), col("n_cat"),
        when(col("n_cat") > 1L,
          expr("((cast(sum_y as decimal(38,0)) - y) * 1000000)" +
            " div (n_cat - 1)")).as("loo_micro"),
        expr(s"(((cast(sum_y as decimal(38,0)) - y) * n_all" +
          s" + $m * cast(total as decimal(38,0))) * 1000000)" +
          s" div ((n_cat - 1 + $m) * cast(n_all as decimal(38,0)))")
          .as("smoothed_micro"))
  }

  /** Cohen's kappa inter-annotator agreement in exact ppm, plus the
    * per-class margins that localize a disagreement: for each label,
    * annotator-1 count, annotator-2 count, and the diagonal; kappa =
    * (agree·N − Σ_k r_k·c_k)·1e6 / (N² − Σ_k r_k·c_k). Kappa CAN be
    * negative (worse-than-chance agreement), so the sign is decided
    * by an explicit CASE and the division runs on the absolute
    * value — truncation-direction-proof across engines. One shuffle
    * builds the (a1, a2) contingency table; margins, diagonal, and
    * the scalar total all derive from that classes²-sized frame. */
  def cohenKappa(labeled: DataFrame, aCol: Column,
      bCol: Column): DataFrame = {
    val cont = labeled.select(aCol.as("a1"), bCol.as("a2"))
      .groupBy(col("a1"), col("a2"))
      .agg(count(lit(1)).as("k"))
      .transform(Ckpt.cut)
    val rows = cont.groupBy(col("a1").as("label"))
      .agg(sum(col("k")).as("row_n"))
    val cols = cont.groupBy(col("a2").as("label"))
      .agg(sum(col("k")).as("col_n"))
    val diag = cont.filter(col("a1") === col("a2"))
      .select(col("a1").as("label"), col("k").as("diag_n"))
    val m = rows.join(cols, Seq("label"), "full_outer")
      .join(diag, Seq("label"), "left_outer")
      .select(col("label"),
        coalesce(col("row_n"), lit(0L)).as("row_n"),
        coalesce(col("col_n"), lit(0L)).as("col_n"),
        coalesce(col("diag_n"), lit(0L)).as("diag_n"))
      .transform(Ckpt.cut)
    val tot = m.agg(
      sum(col("row_n")).cast("decimal(38,0)").as("n"),
      sum(col("diag_n")).cast("decimal(38,0)").as("agree"),
      sum(wide(col("row_n")) * col("col_n")).as("rc"))
    m.crossJoin(broadcast(tot))
      .select(col("label"), col("row_n"), col("col_n"),
        col("diag_n"),
        expr("""cast(case when agree * n - rc < 0
            then -(((rc - agree * n) * 1000000) div (n * n - rc))
            else ((agree * n - rc) * 1000000) div (n * n - rc)
          end as bigint)""").as("kappa_ppm"))
  }
}
