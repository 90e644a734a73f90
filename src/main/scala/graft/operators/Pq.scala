package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Exact

/** Product quantization (Jégou, Douze, Schmid, "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011) — the vector-compression
  * half of an IVF-PQ ANN index: the d-dim space is split into `subs`
  * contiguous sub-spaces, each quantized independently against a
  * small per-sub-space codebook, so a vector stores as `subs` small
  * codes instead of d floats (here 4 codes ≈ 2 bytes vs 64 doubles —
  * a 256× compression) and approximate distances are computed from a
  * per-query LOOKUP TABLE without touching the original vectors —
  * asymmetric distance computation (ADC).
  *
  * Codebooks here are seed-row sub-vectors (the first k corpus rows
  * per sub-space — the deterministic stand-in for per-sub-space
  * k-means, whose Lloyd step is q92/q93's machinery), which keeps
  * every step an exact cross-engine expression.
  *
  * Scale shape — why PQ is THE 100 TB ANN form:
  *  - the codebook is subs·k tiny rows, materialized once on the
  *    driver ([[codebook]]/[[refine]] return local frames);
  *  - encoding is the native [[graft.functions.PqAssign]] codegen
  *    kernel: the tiny codebook rides the plan, the per-row argmin
  *    is one tight loop, NO candidate blowup and NO exchange — and
  *    the 64-float vectors never move again afterwards;
  *  - a query's LUT (subs·k distances) is computed once and
  *    broadcast; scoring the whole corpus is a broadcast lookup join
  *    on (sub-space, code) + an integer sum per candidate — no
  *    vector math per candidate at all;
  *  - composed with IVF (operators/Similarity.scala q33) the lookup
  *    scan runs over one cell's candidates only.
  *
  * Determinism: every distance is snapped to integer micro-units
  * (floor(d²·1e6+0.5)) BEFORE argmin/sum, so ties in code assignment
  * and in the final ranking break identically in any engine and any
  * aggregation order.
  */
object Pq {

  private def vd(a: Column, b: Column): Column =
    call_function("vec_dot", a, b)

  /** Squared L2 of two vectors in integer micro-units, as one
    * identical IEEE chain: ⟨a,a⟩ − 2⟨a,b⟩ + ⟨b,b⟩ then snap. */
  private def d2Micro(a: Column, b: Column): Column =
    floor((vd(a, a) - lit(2.0) * vd(a, b) + vd(b, b)) * lit(1e6)
      + lit(0.5)).cast("long")

  /** Codebook from the first k corpus rows: for sub-space j ∈
    * [0,subs), centroid m is the j-th slice of row m's vector.
    * Precondition (ENFORCED): idCol must be dense over 0..k-1 — a
    * filtered/re-keyed corpus would silently seed fewer than k codes
    * per sub-space and degrade quantization with no signal, so the
    * construction checks itself — by ONE collect of the seed rows
    * (a pushed-down `id < k` scan), returned as a local frame.
    * @return (j, m, cvec) — subs·k rows, always broadcast-sized */
  def codebook(corpus: DataFrame, idCol: String, embCol: String,
      subs: Int, subDim: Int, k: Int): DataFrame = {
    val cb = corpus.filter(col(idCol) < k)
      .select(explode(array((0 until subs).map(j =>
        struct(lit(j).as("j"), col(idCol).cast("long").as("m"),
          slice(col(embCol), j * subDim + 1, subDim).as("cvec"))): _*))
        .as("cb"))
      .select(col("cb.*"))
    // check BOTH count and id distinctness: a duplicate id plus a
    // missing id (both < k) passes a pure row-count check while
    // seeding duplicate (j,m) entries that double-match adcTopK's LUT
    val rows = cb.collect()
    val (n, ndm) = (rows.length, rows.map(_.getLong(1)).distinct.length)
    require(n == subs.toLong * k && ndm == k,
      s"Pq.codebook: built $n codes over $ndm distinct ids, expected " +
        s"${subs.toLong * k} over $k (subs=$subs × k=$k) — $idCol " +
        s"must be dense 0..${k - 1}; seed from a re-keyed corpus " +
        "(row_number) if it is filtered")
    cb.sparkSession.createDataFrame(rows.toSeq.asJava, cb.schema)
  }

  /** A codebook's rows in (j, m) order (job-free if local), checked
    * dense over (0..subs-1) × (0..k-1), plus the pq_assign call over
    * `embCol` against them. @return (subs, rows, pq_assign column) */
  private def readDense(cb: DataFrame, embCol: String, subDim: Int,
      who: String): (Int, Array[((Int, Long), Array[Float])], Column) = {
    val rows = cb.select(col("j"), col("m"), col("cvec")).collect()
      .map(r => ((r.getInt(0), r.getLong(1)),
        r.getSeq[Float](2).toArray))
      .sortBy(_._1)
    require(rows.nonEmpty, s"$who: empty codebook")
    val subs = rows.map(_._1._1).max + 1
    val k = rows.length / subs
    require(rows.map(_._1).sameElements(
      for (j <- 0 until subs; m <- 0L until k.toLong) yield (j, m)),
      s"$who: codebook is not dense over (0..${subs - 1}) × " +
        s"(0..${k - 1}) — seed via Pq.codebook/refine")
    (subs, rows, call_function("pq_assign", col(embCol),
      typedlit(rows.map(_._2.toSeq).toSeq), lit(subDim), lit(k)))
  }

  /** PQ-encode every row: per (row, sub-space) the argmin-distance
    * centroid, ties to the lower code — via the native
    * [[graft.functions.PqAssign]] kernel: the codebook (subs·k rows,
    * broadcast-sized BY CONTRACT — [[codebook]] enforces the shape)
    * is collected once at plan time (no job on the local frame
    * [[codebook]]/[[refine]] return) and the whole argmin runs as one
    * codegen'd loop per corpus row. No candidate blowup, no
    * exchange: encode is a pure map stage, with the LUT path's
    * micro-unit/tie arithmetic (the q137/q144 oracles hash rankings
    * built from these codes).
    * @return (idCol, j, code, dm) with dm the micro-unit distance to
    *         the chosen centroid */
  def encode(corpus: DataFrame, idCol: String, embCol: String,
      cb: DataFrame, subDim: Int): DataFrame = {
    val (subs, _, pq) = readDense(cb, embCol, subDim, "Pq.encode")
    corpus.withColumn("__pq", pq)
      .select(col(idCol), explode(array((0 until subs).map(j =>
        struct(lit(j).as("j"), col("__pq").getItem(2 * j).as("code"),
          col("__pq").getItem(2 * j + 1).as("dm"))): _*)).as("e"))
      .select(col(idCol), col("e.j").as("j"), col("e.code").as("code"),
        col("e.dm").as("dm"))
  }

  /** One Lloyd M-step over an existing codebook (the k-means
    * refinement the seed-row construction deliberately skips): assign
    * every sub-vector to its nearest centroid under `cb`, then
    * re-estimate each (j, m) centroid as the element-wise mean of its
    * assigned sub-vectors. Cells that attract no vectors keep their
    * seed centroid (the standard empty-cluster rule). Centroid means
    * are [[Exact.mean]]s of `decimal(27,7)` terms — order-independent,
    * so both engines derive bit-identical centroids — and are snapped
    * to FLOAT so downstream [[encode]]/[[adcTopK]] stay on the same
    * float-vector kernel as the seed path (`vec_dot` is float-typed;
    * the snap is one deterministic IEEE rounding both engines replay
    * with a REAL cast).
    *
    * Scale shape: ONE pass, no self-join on `idCol` — pq_assign
    * against the collected `cb`, each row's sub-vectors exploded
    * beside their own codes, then one (j, code, pos) aggregation
    * pre-combined map-side. Its subs·k·subDim means are collected
    * once and folded into the seed rows on the driver, so the result
    * is a local frame no consumer re-runs. Null-id rows are skipped.
    * Iterating = calling this in a loop.
    * @return (j, m, cvec) — same shape/contract as [[codebook]] */
  def refine(corpus: DataFrame, idCol: String, embCol: String,
      cb: DataFrame, subDim: Int): DataFrame = {
    val (subs, rows, pq) = readDense(cb, embCol, subDim, "Pq.refine")
    val means = corpus.filter(col(idCol).isNotNull)
      .select(col(embCol), pq.as("__pq"))
      .select(explode(array((0 until subs).map(j =>
        struct(lit(j).as("j"), col("__pq").getItem(2 * j).as("code"),
          slice(col(embCol), j * subDim + 1, subDim).as("sv"))): _*))
        .as("e"))
      .select(col("e.j").as("j"), col("e.code").as("code"),
        posexplode(col("e.sv")).as(Seq("pos", "v")))
      .groupBy(col("j"), col("code"), col("pos"))
      .agg(Exact.mean(col("v").cast("double"), 7, 27).as("m"))
      .collect().filterNot(_.isNullAt(1)) // null code: invalid vector
      .groupBy(r => (r.getInt(0), r.getLong(1)))
    val out = rows.map { case ((j, m), seed) =>
      Row(j, m, means.get((j, m)).fold(seed.toSeq)(ps =>
        ps.sortBy(_.getInt(2)).map(_.getDouble(3).toFloat).toSeq))
    }
    val like = cb.select(col("j"), col("m"), col("cvec"))
    like.sparkSession.createDataFrame(out.toSeq.asJava, like.schema)
  }

  /** A query set's ADC lookup table (qIdAs, qj, qm, qdm): micro-unit
    * d² per (query, j, m). Renamed columns keep the scoring join free
    * of self-join ambiguity — cb is in BOTH lineages. */
  private def lut(queries: DataFrame, qIdCol: String, qEmbCol: String,
      cb: DataFrame, subDim: Int, qIdAs: String): DataFrame =
    queries.crossJoin(broadcast(cb))
      .select(col(qIdCol).as(qIdAs), col("j").as("qj"),
        col("m").as("qm"),
        d2Micro(slice(col(qEmbCol), col("j") * lit(subDim) + lit(1),
          lit(subDim)), col("cvec")).as("qdm"))

  /** The k best `idCol` rows per q_id on (score, id) — the tie-proof
    * ranking of every top-k here. @return (q_id, rank, n_id, score) */
  private def ranked(scored: DataFrame, idCol: String, score: String,
      k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col(score), col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col(idCol).as("n_id"), col(score))
  }

  /** ADC top-k: for each query row, the k nearest corpus rows by
    * PQ-estimated distance Σ_j d²(q_j, centroid[code_j]). The LUT
    * (query × codebook distances) is broadcast; scoring is a lookup
    * join + integer sum; ranking snaps on (est, id).
    * @return (q_id, rank, n_id, est_micro) */
  def adcTopK(queries: DataFrame, qIdCol: String, qEmbCol: String,
      encoded: DataFrame, encIdCol: String, cb: DataFrame,
      subDim: Int, k: Int): DataFrame = {
    val est = encoded
      .join(broadcast(lut(queries, qIdCol, qEmbCol, cb, subDim, "q_id")),
        col("j") === col("qj") && col("code") === col("qm"))
      .filter(col("q_id") =!= col(encIdCol))
      .groupBy(col("q_id"), col(encIdCol))
      .agg(sum(col("qdm")).as("est_micro"))
    ranked(est, encIdCol, "est_micro", k)
  }

  /** ADC top-k restricted to IVF-probed cells — the composed IVF-PQ
    * index form (Jégou et al. §V): the coarse quantizer (any cell
    * assignment — [[Similarity.centroids]] partitions here) routes
    * each query to `nprobe` cells, and the ADC lookup scan runs over
    * those cells' candidates ONLY instead of the whole corpus. Same
    * LUT/scoring algebra as [[adcTopK]]; the difference is one extra
    * broadcast equi-join against the (q_id, cell) probe relation
    * before scoring, which is exactly the candidate-pruning join a
    * 100 TB deployment runs (the corpus side stays cell-partitioned,
    * so the probe join is partition pruning in relational form).
    * @param encoded (encIdCol, j, code, cellCol) — [[encode]] output
    *        joined with the corpus cell assignment
    * @param probes (qIdCol, cellCol) — the cells each query scans
    * @return (q_id, rank, n_id, est_micro) */
  def adcTopKInCells(queries: DataFrame, qIdCol: String,
      qEmbCol: String, encoded: DataFrame, encIdCol: String,
      cellCol: String, probes: DataFrame, cb: DataFrame,
      subDim: Int, k: Int): DataFrame = {
    val est = encoded.join(
        broadcast(probes.select(col(qIdCol).as("q_id"),
          col(cellCol).as("__pc"))),
        col("__pc") === col(cellCol))
      .join(broadcast(lut(queries, qIdCol, qEmbCol, cb, subDim, "__lq")),
        col("q_id") === col("__lq") &&
          col("j") === col("qj") && col("code") === col("qm"))
      .filter(col("q_id") =!= col(encIdCol))
      .groupBy(col("q_id"), col(encIdCol))
      .agg(sum(col("qdm")).as("est_micro"))
    ranked(est, encIdCol, "est_micro", k)
  }

  /** Exact squared-L2 top-k for a bounded query set — the ground
    * truth an ADC ranking is measured against (the analogue of
    * [[Similarity.topKBrute]] in the PQ's own metric).
    * @return (q_id, rank, n_id, dm) */
  def exactTopK(queries: DataFrame, qIdCol: String, qEmbCol: String,
      corpus: DataFrame, idCol: String, embCol: String, k: Int)
      : DataFrame = {
    val q = queries.select(col(qIdCol).as("q_id"),
      col(qEmbCol).as("q_emb"))
    val scored = corpus.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col(idCol))
      .select(col("q_id"), col(idCol).as("n_id"),
        d2Micro(col("q_emb"), col(embCol)).as("dm"))
    ranked(scored, "n_id", "dm", k)
  }
}
