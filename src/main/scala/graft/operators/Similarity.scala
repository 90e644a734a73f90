package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (SURVEY.md §2.B G14):
  * exact cosine via higher-order functions, brute-force top-k as the
  * correctness baseline, and two sublinear paths — random-hyperplane
  * LSH bucketing and an IVF-style coarse partition — for the 100 TB
  * shape where all-pairs is impossible.
  *
  * Numeric determinism: every dot product is a LEFT-TO-RIGHT
  * sequential fold in double precision (`aggregate` over a
  * `zip_with`), which a DuckDB `list_reduce` reproduces bit-for-bit;
  * floats are widened to double before any arithmetic. No UDFs —
  * all codegen'd Catalyst expressions.
  */
object Similarity {

  /** Sequential-fold dot product of two float-array columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0d), (acc, v) => acc + v)

  /** L2 norm (sqrt is IEEE correctly-rounded → cross-engine stable). */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0 when either vector has zero norm. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val nn = norm(a) * norm(b)
    when(nn === 0d, lit(0d)).otherwise(d / nn)
  }

  /** Brute-force exact top-k: every query row paired with every
    * corpus row (minus itself). O(|Q|·|C|) — correct at any scale
    * only when |Q| is small; the LSH/IVF paths below are the
    * corpus×corpus answer. One shuffle for the ranking window. */
  def topKBrute(queries: DataFrame, corpus: DataFrame, idCol: String,
      embCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"),
      col(embCol).as("q_emb"))
    val c = corpus.select(col(idCol).as("n_id"),
      col(embCol).as("n_emb"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id"))
    broadcast(q).crossJoin(c)
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        cosine(col("q_emb"), col("n_emb")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the k most-similar corpus vectors with a DIFFERENT
    * label — the negatives that actually move a contrastive loss
    * (Schroff et al. 2015's (semi-)hard negatives; random negatives
    * are trivially separated and contribute ~zero gradient). Same
    * exact-cosine contract as [[topKBrute]] (index-order double
    * fold, rank ties to smallest id), restricted to cross-label
    * pairs BEFORE ranking, so rank k is the k-th hardest negative,
    * not "top-k that happen to be negatives".
    *
    * Scale shape: queries broadcast against the corpus (the q31
    * bounded-baseline contract — queries are the small side, a
    * training batch or probe set). For corpus×corpus mining at
    * 100 TB, route candidates through IVF cells first
    * ([[graft.operators.Pq.adcTopKInCells]]'s coarse quantizer):
    * hard negatives are by definition NEAR the query, so they
    * concentrate in the query's own probe cells — the same
    * restriction ANN search already prices (q144's per-query
    * recall).
    *
    * @return (q_id, q_label, rank, n_id, n_label, cos), rank 1..k
    *         per query over different-label neighbors only */
  def hardNegatives(queries: DataFrame, corpus: DataFrame,
      idCol: String, embCol: String, labelCol: String, k: Int)
      : DataFrame = {
    val q = queries.select(col(idCol).as("q_id"),
      col(embCol).as("q_emb"), col(labelCol).as("q_label"))
    val c = corpus.select(col(idCol).as("n_id"),
      col(embCol).as("n_emb"), col(labelCol).as("n_label"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id"))
    broadcast(q).crossJoin(c)
      .filter(col("q_label") =!= col("n_label"))
      .select(col("q_id"), col("q_label"), col("n_id"),
        col("n_label"), cosine(col("q_emb"), col("n_emb")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("q_label"), col("rank"), col("n_id"),
        col("n_label"), col("cos"))
  }

  /** [[hardNegatives]]'s corpus×corpus form at scale: candidates are
    * restricted to the query's own cell (an IVF coarse-quantizer
    * assignment, an LSH bucket, or any precomputed partition column
    * — [[centroids]] / [[lshBucket]] / `Pq` supply one), so the
    * all-pairs cross join becomes ONE equi-join on the cell key —
    * the same restriction ANN search already prices (q144's
    * per-query recall): hard negatives are by definition NEAR the
    * query, so they concentrate in its cell; a negative outside the
    * cell was far enough to carry little gradient anyway. Ranking
    * and tie-breaks are [[hardNegatives]]'s exactly, so on a
    * single-cell corpus the two are identical (spec'd).
    *
    * @return (q_id, q_label, rank, n_id, n_label, cos), rank 1..k
    *         per query over different-label SAME-CELL neighbors */
  def hardNegativesInCells(corpus: DataFrame, idCol: String,
      embCol: String, labelCol: String, cellCol: String, k: Int)
      : DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(embCol).as("emb"),
      col(labelCol).as("label"), col(cellCol).as("cell"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id"))
    c.select(col("id").as("q_id"), col("emb").as("q_emb"),
        col("label").as("q_label"), col("cell"))
      .join(c.select(col("id").as("n_id"), col("emb").as("n_emb"),
        col("label").as("n_label"), col("cell")), Seq("cell"))
      .filter(col("q_id") =!= col("n_id") &&
        col("q_label") =!= col("n_label"))
      .select(col("q_id"), col("q_label"), col("n_id"),
        col("n_label"), cosine(col("q_emb"), col("n_emb")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("q_label"), col("rank"), col("n_id"),
        col("n_label"), col("cos"))
  }

  /** Deterministic pseudo-random hyperplane component for (plane p,
    * dim i): LCG over pure integer arithmetic, reproducible in any
    * SQL engine — no RNG state, no hash function dependence. */
  def planeComponent(p: Int, i: Column): Column =
    ((lit(p.toLong) * 131071L + i.cast("long") * 524287L) % 1000003L)
      .cast("double") / 1000003d - 0.5d

  /** Dot of an embedding with pseudo-random plane `p`. */
  def planeDot(emb: Column, p: Int, dim: Int): Column =
    aggregate(
      transform(sequence(lit(0), lit(dim - 1)),
        i => element_at(emb, i + 1).cast("double") * planeComponent(p, i)),
      lit(0d), (acc, v) => acc + v)

  /** Johnson-Lindenstrauss-style random projection: the embedding's
    * dot products with `planes` deterministic pseudo-random
    * hyperplanes ([[planeComponent]]), as a double array — the
    * dimensionality-reduction step that turns a d-dim ANN problem
    * into a planes-dim one (distances distort by ~(1±ε) with
    * planes = O(log n / ε²)). Map-side, codegen'd, no shuffle; the
    * same LCG weights reproduce in any SQL engine. */
  def jlProject(emb: Column, planes: Int, dim: Int): Column =
    array((0 until planes).map(p => planeDot(emb, p, dim)): _*)

  /** Random-hyperplane LSH bucket id: bit p is the sign of the
    * projection onto plane p. Cosine-similar vectors collide with
    * high probability; at scale the ANN search joins query buckets
    * to corpus buckets instead of cross-joining everything. */
  def lshBucket(emb: Column, planes: Int, dim: Int): Column =
    (0 until planes).map(p =>
      when(planeDot(emb, p, dim) > 0d, lit(1 << p)).otherwise(lit(0)))
      .reduce(_ + _)

  /** Maximal Marginal Relevance re-rank (Carbonell & Goldstein '98):
    * greedily select k results maximizing
    * `λ·cos(query, c) − (1−λ)·max_{s∈selected} cos(c, s)` — the
    * standard diversity re-rank over an ANN candidate pool (RAG
    * retrieval, dedup-aware search results). Inherently sequential in
    * k: each of the k steps is ONE distributed arg-max over the
    * still-distributed candidate pool scored against the ≤ k-vector
    * selected set (embedded as literals — a broadcast of at most
    * k·dim floats); the driver holds only the k winners, never the
    * pool. Ties break to the smallest id; every dot product is the
    * sequential fold, so any engine replays the greedy walk exactly.
    *
    * @param candidates pool (idCol, embCol) — at scale, the top-N of
    *                   an ANN stage, NOT a full corpus
    * @param query      the query embedding
    * @return k rows (rank, n_id, score) in selection order; fewer
    *         when the pool exhausts first. score is the raw MMR
    *         objective (unrounded)
    */
  def mmrTopK(candidates: DataFrame, idCol: String, embCol: String,
      query: Array[Float], k: Int, lam: Double): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(lam >= 0d && lam <= 1d, s"lambda must be in [0,1]: $lam")
    val spark = candidates.sparkSession
    val qCol = array(query.map(lit(_)): _*)
    val pool = candidates
      .select(col(idCol).cast("long").as("id"), col(embCol).as("e"),
        cosine(col(embCol), qCol).as("rel"))
      .transform(Ckpt.cut)
    val selected = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Array[Float], Double)]
    var step = 0
    var exhausted = false
    while (step < k && !exhausted) {
      val scoreCol =
        if (selected.isEmpty) col("rel") * lit(lam)
        else {
          val sims = selected.map { case (_, e, _) =>
            cosine(col("e"), array(e.map(lit(_)): _*))
          }.toSeq
          val maxSim =
            if (sims.size == 1) sims.head else greatest(sims: _*)
          col("rel") * lit(lam) - lit(1d - lam) * maxSim
        }
      val chosen = selected.map(_._1).toSet
      val top = pool
        .filter(!col("id").isin(chosen.toSeq: _*))
        .select(col("id"), col("e"), scoreCol.as("score"))
        .orderBy(col("score").desc, col("id"))
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val r = top(0)
        selected += ((r.getLong(0),
          r.getSeq[Float](1).toArray, r.getDouble(2)))
        step += 1
      }
    }
    import spark.implicits._
    selected.zipWithIndex
      .map { case ((id, _, s), i) => (i + 1, id, s) }
      .toSeq.toDF("rank", "n_id", "score")
  }

  /** Sequential-fold squared L2 distance (index-order accumulation —
    * bit-identical across engines that fold in list order). */
  def dist2(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }),
      lit(0d), (acc, v) => acc + v)

  /** Farthest-first traversal (Gonzalez 1985) — the 2-approximation
    * to k-center, the diversity-first coreset selector (pick the
    * point farthest from everything picked so far): the complement
    * to [[mmrTopK]] (query-relevance + diversity) when there is no
    * query — "give me k maximally-spread exemplars" for evaluation
    * sets, seed selection, or coverage probes.
    *
    * Determinism: seed = smallest id; every argmax tie breaks to the
    * smallest id; distances fold in index order — no randomness, no
    * partitioning dependence.
    *
    * Scale shape: k − 1 rounds, each one full scan computing
    * `least(mind, dist2(e, last_chosen))` (the chosen vector rides
    * along as a d-length literal — broadcast-equivalent, never a
    * join) plus a 1-row argmax collect (the BpeTrain bounded-collect
    * precedent). The min-distance frame is maintained incrementally,
    * so the total work is O(k·n·d) — never k scans of an n×k
    * cross product.
    *
    * @return k selection rows (step 1..k, n_id, d2 = squared
    *         distance to the prior selection set; 0 for the seed)
    *         plus one COVERAGE row (step k+1, n_id = −1, d2 = the
    *         k-center radius: max over the corpus of the final min
    *         distance) */
  def farthestFirst(corpus: DataFrame, idCol: String, embCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val spark = corpus.sparkSession
    val pool = corpus
      .select(col(idCol).cast("long").as("id"), col(embCol).as("e"))
      .transform(Ckpt.cut)
    val n = pool.count()
    require(n > 0, "farthestFirst: empty corpus")
    require(k <= n,
      s"farthestFirst: k=$k exceeds corpus size $n")
    val seed = pool.orderBy(col("id")).limit(1).collect()(0)
    val picked = scala.collection.mutable.ArrayBuffer(
      (seed.getLong(0), seed.getSeq[Float](1).toArray, 0d))
    def litVec(v: Array[Float]) = array(v.map(lit(_)): _*)
    var mind = pool
      .withColumn("mind", dist2(col("e"), litVec(picked.head._2)))
      .transform(Ckpt.cut)
    // hand-rolled, not Ckpt.iterate: each round's step needs the
    // driver collect of the previous pick
    var step = 1
    while (step < k) {
      step += 1
      val top = mind
        .filter(!col("id").isin(picked.map(_._1).toSeq: _*))
        .orderBy(col("mind").desc, col("id"))
        .limit(1).collect()(0)
      picked += ((top.getLong(0), top.getSeq[Float](1).toArray,
        top.getDouble(2)))
      mind = mind
        .withColumn("mind",
          least(col("mind"), dist2(col("e"), litVec(picked.last._2))))
        .transform(Ckpt.cut)
    }
    val radius = mind.agg(max(col("mind"))).collect()(0).getDouble(0)
    import spark.implicits._
    (picked.zipWithIndex.map { case ((id, _, d2v), i) =>
      (i + 1, id, d2v)
    } :+ ((k + 1, -1L, radius))).toSeq.toDF("step", "n_id", "d2")
  }

  /** IVF-style coarse quantization using an existing partition column
    * (or precomputed cluster assignment): centroids are the
    * per-partition element-wise means (decimal-summed for
    * cross-engine determinism), queries probe only their nearest
    * centroid's partition. */
  def centroids(corpus: DataFrame, partCol: String, embCol: String,
      dim: Int): DataFrame =
    corpus.select(col(partCol).as("part"),
        posexplode(col(embCol)).as(Seq("pos", "v")))
      .groupBy(col("part"), col("pos"))
      .agg((sum(round(col("v").cast("double"), 7)
          .cast("decimal(27,7)")).cast("double") /
        count(lit(1)).cast("double")).as("m"))
      .groupBy(col("part"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("centroid"))
}
