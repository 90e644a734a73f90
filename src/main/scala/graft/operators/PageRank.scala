package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank in integer micro-units.
  *
  * Ranks are BIGINTs scaled by 1e6 (start = 1 000 000); one round is
  *
  *   r'(v) = 150000 + (85 · Σ_{u→v} (r(u) div outdeg(u))) div 100
  *
  * i.e. damping 0.85 with the classic 0.15 teleport term, but every
  * operation is integer multiply/divide — the incoming-contribution
  * Σ is associativity-free, so results are bit-identical across
  * engines and partitionings with zero float ops (truncating and
  * floor division agree because all ranks are positive).
  *
  * Scale shape: the edge+degree frame is built once and eagerly
  * materialized via [[Ckpt.cut]] (each round re-reads it — on a
  * cluster this is
  * the disk-persisted/bucketed edge table); one round = one
  * shuffle-on-src join plus one groupBy(dst) partial-aggregated
  * sum, the standard distributed PageRank step with no driver-side
  * state. Fixed iteration count keeps lineage bounded (no
  * convergence fixpoint; callers pick the round budget).
  *
  * [[integerRanks]] is the symmetric-graph fast path (co-occurrence
  * graphs, where every node both sends and receives, so no dangling
  * term exists and the vertex set equals the source set).
  * [[directedRanks]] is the general form: it keeps the FULL vertex
  * set alive through every round and redistributes the rank mass of
  * dangling nodes (out-degree 0), in the same exact integer algebra.
  */
object PageRank {

  /** Largest vertex set whose per-round rank frame is still worth a
    * forced broadcast (~2M ids+ranks ≈ 50 MB serialized). Above it, a
    * per-round broadcast BUILD of a fact-scale frame costs more than
    * the shuffle join it avoids — measured on the 1000×-amplified
    * co-purchase graph (20M vertices). */
  val BroadcastVertexCap = 2000000L

  /** @param edges edge list with `srcCol`/`dstCol`. MUST be
    *              symmetric (every (a,b) has its (b,a)) — i.e. an
    *              undirected graph's expansion. A genuinely directed
    *              list is NOT supported: each round keeps only nodes
    *              that received contributions, so nodes whose
    *              in-edges all come from already-dropped nodes
    *              silently vanish (a source-only chain returns an
    *              EMPTY frame after enough rounds). Symmetry
    *              guarantees every node both sends and receives,
    *              which also removes the dangling-mass term.
    * @param iters number of damped rounds (≥ 1)
    * @param broadcastRanks the rank frame is VERTEX-cardinality while
    *              the edge frame is fact-cardinality (a parts catalog
    *              vs every co-purchase pair) — broadcasting the
    *              per-round rank vector makes each round a map-side
    *              join plus a partially-aggregated groupBy: the ONLY
    *              per-round shuffle carries ≤ partitions·|V| combined
    *              contribution rows, and the 2.4M-row edge frame
    *              never re-exchanges (measured ~1.8× on the sf0.1
    *              co-purchase graph, where AQE keeps picking SMJ
    *              because the checkpointed edge side reports unknown
    *              stats). Set Some(false) when the vertex set itself
    *              is fact-scale (a web graph): rounds fall back to a
    *              shuffle join, which at cluster scale pairs with a
    *              src-bucketed edge table (see the layout note below).
    *              The default (None) DECIDES FROM THE DATA: the
    *              adjacency frame is checkpointed before the first
    *              round, so its vertex count is a free metadata read
    *              — broadcast iff |V| ≤ [[BroadcastVertexCap]].
    *              (Measured at the 1000×-sf0.1 co-purchase graph,
    *              20M vertices: a forced per-round 20M-row broadcast
    *              build is strictly worse than the shuffle join the
    *              cap falls back to.)
    * @return (id, r) — final micro-unit rank per node that has at
    *         least one edge
    */
  def integerRanks(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, broadcastRanks: Option[Boolean] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // ADJACENCY form: one groupBy(src) shuffle builds dedup (the
    // collect_set absorbs duplicate edges), out-degree (the set
    // size), and the neighbor list in a single exchange — replacing
    // the edge-row formulation's three (distinct's (src, dst)
    // exchange, the degree exchange, the degree join). The
    // checkpointed frame is VERTEX-cardinality (|V| rows of bounded
    // arrays) rather than |E| rows, so each round's rank join
    // touches |V| rows and the |E|-sized contribution stream is
    // created map-side by the explode in the SAME stage, partially
    // aggregated before its one shuffle. Measured ~2× on the sf0.1
    // co-purchase graph (3.4 s → 1.7 s steady state).
    //
    // Contract: per-vertex DEGREE must be bounded (each vertex's
    // neighbor set materializes as one array) — true for
    // co-occurrence graphs built from bounded baskets. A power-law
    // web graph (million-degree hubs) wants the edge-row
    // formulation instead: distinct edge rows joined with a degree
    // frame, persisted BUCKETED by src at cluster scale (see
    // BucketedJoinSpec) so rounds skip the edge re-shuffle.
    val adj = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .groupBy(col("src"))
      .agg(collect_set(col("dst")).as("nbrs"))
      .select(col("src"), col("nbrs"),
        size(col("nbrs")).cast("long").as("outdeg"))
      .transform(Ckpt.cut)
    // |V| off the checkpointed frame costs a metadata pass, not a
    // graph rebuild
    val bcast = broadcastRanks.getOrElse(adj.count() <= BroadcastVertexCap)
    var ranks = adj.select(col("src").as("id"), lit(1000000L).as("r"))
    for (_ <- 1 to iters)
      ranks = adj.join(
          if (bcast) broadcast(ranks) else ranks,
          adj("src") === ranks("id"))
        .select(explode(col("nbrs")).as("dst"),
          expr("r div outdeg").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("sc"))
        .select(col("dst").as("id"),
          (lit(150000L) + expr("(85 * sc) div 100")).as("r"))
    ranks
  }

  /** Edge-row formulation of [[integerRanks]] — identical algebra
    * (bit-identical output), different physical shape: the hub-safe
    * fallback the adjacency form's contract points at. Where
    * [[integerRanks]] materializes each vertex's neighbor set as one
    * array (wrong for power-law graphs — a million-degree hub becomes
    * a million-element array in a single row), this keeps the graph
    * as |E| distinct edge rows joined to a vertex-sized degree frame,
    * so NO row ever exceeds a few dozen bytes regardless of degree
    * distribution.
    *
    * Cost: setup runs the classic three-exchange build (edge
    * distinct, degree aggregate, degree join) and each round joins
    * the |E|-row frame instead of |V| arrays — the ~2× the adjacency
    * form saves on bounded-degree graphs. The edge frame is
    * repartitioned by src BEFORE its checkpoint, so every round's
    * rank join reuses that layout and only the vertex-sized rank
    * frame moves (on a cluster this is the src-bucketed persisted
    * edge table, see BucketedJoinSpec).
    *
    * Same symmetric-graph contract as [[integerRanks]]; use
    * [[directedRanks]] for genuinely directed lists. */
  def integerRanksEdgeForm(edges: DataFrame, srcCol: String,
      dstCol: String, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
    val deg = e.groupBy(col("src"))
      .agg(count(lit(1)).as("outdeg"))
    val ed = e.join(deg, "src")
      .repartition(col("src"))
      .transform(Ckpt.cut)
    // init off the CHECKPOINTED frame (src-distinct of ed), not off
    // `deg`, whose lineage would re-run the whole graph build once
    var ranks = ed.select(col("src").as("id")).distinct()
      .select(col("id"), lit(1000000L).as("r"))
    for (_ <- 1 to iters)
      ranks = ed.join(ranks, ed("src") === ranks("id"))
        .select(col("dst"), expr("r div outdeg").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("sc"))
        .select(col("dst").as("id"),
          (lit(150000L) + expr("(85 * sc) div 100")).as("r"))
    ranks
  }

  /** General directed PageRank — the case [[integerRanks]] documents
    * as unsupported (a source-only chain silently vanishes there,
    * because each round keeps only contribution receivers). Exact
    * integer micro-unit algebra, extended with the dangling term:
    *
    *   r'(v) = 150000 + (85 · (Σ_{u→v} r(u) div outdeg(u)
    *                           + D div |V|)) div 100
    *   where D = Σ_{outdeg(u)=0} r(u)
    *
    * Every vertex (source-only, sink-only, or internal) survives
    * every round via a left join against the full vertex frame, and
    * sink mass re-enters through the D div |V| share — both pure
    * integer ops, so the oracle can unroll the identical recurrence.
    *
    * Scale shape: setup is the same one groupBy(src) adjacency
    * shuffle plus ONE extra distinct to assemble the vertex frame
    * (src ∪ dst), both checkpointed once; |V| is counted once at
    * build time (vertex-cardinality count, not a per-round action).
    * Each round: one broadcast-rank join against the checkpointed
    * vertex+adjacency frame, from which BOTH legs derive map-side —
    * the exploded contribution stream (partially aggregated before
    * its one shuffle) and the 1-row dangling-mass aggregate (a
    * filter + sum riding the same join, no second pass over edges);
    * the re-rank step joins vertex frame ⋈ broadcast contributions
    * ⋈ broadcast dangling scalar, so the only per-round exchange is
    * the contribution groupBy(dst). Ranks are eagerly materialized
    * per round ([[Ckpt.cut]]): the rank frame feeds two branches,
    * and unbounded lineage would otherwise double per iteration.
    * With `broadcastRanks=false` (web-scale vertex sets) the rank
    * joins fall back to shuffles that a src-bucketed layout absorbs,
    * same contract as [[integerRanks]].
    *
    * @param edges directed edge list (duplicates fine — deduped by
    *              the adjacency collect_set; self-loops fine if the
    *              caller wants them, they just feed a node's own
    *              contribution)
    */
  def directedRanks(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, broadcastRanks: Option[Boolean] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val adj = e.groupBy(col("src"))
      .agg(collect_set(col("dst")).as("nbrs"))
    // full vertex universe with per-vertex out-neighbor list; outdeg
    // 0 marks the dangling nodes whose mass redistributes
    val verts = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id")))
      .distinct()
      .join(adj, col("id") === col("src"), "left_outer")
      .select(col("id"),
        coalesce(col("nbrs"), array().cast("array<long>")).as("nbrs"),
        coalesce(size(col("nbrs")), lit(0)).cast("long").as("outdeg"))
      .transform(Ckpt.cut)
    val nV = verts.count()
    // same data-driven broadcast decision as [[integerRanks]] — nV is
    // already on hand from the dangling-share denominator
    val bc = broadcastRanks.getOrElse(nV <= BroadcastVertexCap)
    def bcast(df: DataFrame) = if (bc) broadcast(df) else df
    // hand-rolled, not Ckpt.iterate: the start is a projection of the
    // cut vertex frame, and cutting it again would cost a job
    var ranks = verts.select(col("id"), lit(1000000L).as("r"))
    for (_ <- 1 to iters) {
      val joined = verts.join(bcast(ranks.select(
          col("id").as("rid"), col("r"))),
          col("id") === col("rid"))
      val contribs = joined
        .filter(col("outdeg") > 0)
        .select(explode(col("nbrs")).as("dst"),
          expr("r div outdeg").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("sc"))
      val dangling = joined
        .filter(col("outdeg") === 0)
        .agg(coalesce(sum(col("r")), lit(0L)).as("dmass"))
      ranks = verts.select(col("id"))
        .join(bcast(contribs), col("id") === col("dst"), "left_outer")
        .crossJoin(broadcast(dangling))
        .select(col("id"),
          (lit(150000L) +
            expr(s"(85 * (coalesce(sc, 0L) + dmass div ${nV}L)) div 100"))
            .as("r"))
        .transform(Ckpt.cut)
    }
    ranks
  }

  /** Personalized PageRank in the same exact integer micro-unit
    * algebra as [[integerRanks]]: the teleport mass lands ONLY on the
    * `sources` set instead of uniformly, so ranks measure proximity
    * TO the sources (the seed-expansion kernel behind related-item
    * discovery, trust propagation, and local community scoring).
    *
    * One round is
    *
    *   r'(v) = base(v) + (85 · Σ_{u→v} (r(u) div outdeg(u))) div 100
    *   base(v) = (150000 · |V|) div |S|  if v ∈ S else 0
    *
    * — total teleport mass stays ≈ 0.15·|V|·1e6 (up to one div
    * truncation), matching the uniform variant's scale so rank
    * magnitudes are comparable across the two. Pure integer ops:
    * engine- and partitioning-exact.
    *
    * Same symmetric-graph contract and adjacency/broadcast shape as
    * [[integerRanks]]; sources not present in the graph are ignored
    * (they can neither send nor receive mass). The vertex set is
    * the src-appearing vertices (= all vertices under the symmetric
    * contract); on a non-symmetric edge list every such vertex is
    * still emitted each round — zero-IN-degree vertices (and seeds)
    * keep their row and teleport mass via a left join onto the full
    * vertex frame, rather than vanishing from the contribution
    * aggregate.
    *
    * @param sources 1-column frame of seed vertex ids
    * @return (id, r) for every vertex of the graph — vertices
    *         unreachable from the sources decay toward 0 */
  /** HITS hubs & authorities (Kleinberg 1999) on a directed edge
    * list, in exact integer micro-units. One round is
    *
    *   a(v) = Σ_{u→v} h(u)   rescaled to  (a(v)·1e6) div max(a)
    *   h(u) = Σ_{u→v} a(v)   rescaled likewise
    *
    * — the classic mutual-reinforcement recurrence, but normalized by
    * the integer MAX-rescale instead of the float L2 norm: magnitudes
    * stay in [0, 1e6], every op is integer multiply/divide/sum, so
    * both engines agree bit-for-bit (the oracle unrolls the identical
    * chain, max() included). The raw sums and the (v·1e6) div mx
    * rescale run in DECIMAL(38,0) — the same width DuckDB's
    * SUM(BIGINT)→HUGEINT chain computes in — because a raw score is
    * ≤ 1e6·deg and the rescale multiplies by 1e6 again: an int64
    * chain wraps silently once weighted in-degree passes ~9.2e6
    * (Long.Max/1e12), a bound a hub vertex in a heavy-tailed degree
    * distribution CAN pass. In decimal(38,0) the bound is ~1e26
    * edges; past even that, the sum overflows to NULL (never a
    * wrapped value), which the caller-side overflow witness turns
    * into a loud extra row rather than a silent divergence.
    *
    * Scale shape: the distinct edge frame is built and checkpointed
    * once; each half-round is one vertex-frame join + one
    * partially-aggregated groupBy — alternating key (src then dst),
    * so no single bucketing serves both; the vertex-sized score
    * frame broadcasts under the same [[BroadcastVertexCap]] decision
    * as PageRank, falling back to shuffle joins at web scale. The
    * max-rescale rides a broadcast 1-row aggregate, never a driver
    * collect.
    *
    * @param edges directed edge list (duplicates deduped). On a
    *              bipartite graph (customers→parts) hub scores live
    *              on the left side, authority scores on the right.
    * @return (hubs, auths): (id, score) frames, max-normalized to 1e6
    */
  def integerHits(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, broadcastScores: Option[Boolean] = None)
      : (DataFrame, DataFrame) = {
    val (h, a, _) =
      integerHitsTrace(edges, srcCol, dstCol, iters, broadcastScores)
    (h, a)
  }

  /** [[integerHits]] plus the full half-round trace: one
    * `(stage, frame)` per intermediate — raw sums (`a1r`, `h1r`, …,
    * each (id, v: decimal)) and rescaled scores (`a1`, `h1`, …, each
    * (id, v: long)), in computation order. The trace frames are
    * cheap projections of the per-stage [[Ckpt.cut]] frames the
    * chain materializes anyway, so digesting all of them costs one extra
    * scan each, nothing recomputes.
    *
    * Purpose: a caller can union per-stage digest rows (count / Σv /
    * max / min / Σid) under a hashed result, mirrored in an oracle's
    * identical CTE chain — so when the two engines EVER disagree,
    * the digest names the first diverging half-round instead of the
    * result just reading "hash false" (the q182/q210/q215
    * loud-sentinel pattern, extended to localization). */
  def integerHitsTrace(edges: DataFrame, srcCol: String,
      dstCol: String, iters: Int,
      broadcastScores: Option[Boolean] = None)
      : (DataFrame, DataFrame, Seq[(String, DataFrame)]) = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // NULL endpoints are not vertices: an edge with a NULL src could
    // neither send nor receive mass through the equi-joined rounds,
    // but WOULD count in an oracle CTE that aggregates the raw edge
    // list — drop them on both sides of the contract instead.
    val e = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .transform(Ckpt.cut)
    val bc = broadcastScores.getOrElse(
      e.select(col("src")).distinct().count() <= BroadcastVertexCap)
    def bcast(df: DataFrame) = if (bc) broadcast(df) else df
    val trace = Seq.newBuilder[(String, DataFrame)]
    // (score·1e6) div max — integer max-normalization. The 1-row max
    // is OBSERVED during the half-round's checkpoint job
    // (Ckpt.cutCounted, r16) and re-enters the plan as a literal, so
    // the rescale is map-side with no per-half-round broadcast-build
    // job (the old form cross-joined a 1-row max aggregate — one
    // extra driver job per half-round). The multiply runs on the
    // decimal(38,0) sum; div returns long back in [0, 1e6]. The max
    // of rescaled inputs is ≤ 1e6·|V|, in long range for any real
    // |V| (longValueExact throws loudly far before the decimal
    // overflow witness would). Max 0 (empty frame): no `div 0`.
    def rescale(raw: DataFrame, stage: String): DataFrame = {
      val (r, ns) = Ckpt.cutCounted(raw, max(col("v")))
      trace += (s"${stage}r" -> r)
      val out = r.select(col("id"), (if (ns.head == 0L) col("v")
        else expr(s"(v * 1000000L) div ${ns.head}L")).cast("long").as("v"))
      trace += (stage -> out)
      out
    }
    // Sums widen to decimal(38,0): matches DuckDB's HUGEINT SUM, and
    // overflow degrades to NULL (caught by the witness), never wraps.
    def wide(c: Column): Column = c.cast("decimal(38,0)")
    // hand-rolled, not Ckpt.iterate: a round is two cuts (auths, then
    // hubs) and the trace keeps every half-round frame
    var hubs = e.select(col("src").as("id")).distinct()
      .select(col("id"), lit(1000000L).as("v"))
    var auths = hubs.limit(0)
    for (i <- 1 to iters) {
      auths = rescale(
        e.join(bcast(hubs.select(col("id").as("hid"), col("v"))),
            col("src") === col("hid"))
          .groupBy(col("dst")).agg(sum(wide(col("v"))).as("v"))
          .select(col("dst").as("id"), col("v")), s"a$i")
      hubs = rescale(
        e.join(bcast(auths.select(col("id").as("aid"), col("v"))),
            col("dst") === col("aid"))
          .groupBy(col("src")).agg(sum(wide(col("v"))).as("v"))
          .select(col("src").as("id"), col("v")), s"h$i")
    }
    (hubs, auths, trace.result())
  }

  /** Five-stat digest of one [[integerHitsTrace]] stage frame,
    * shaped to union under a (side, id, score) result: side =
    * `z_<stage>` (sorts after the payload sides), id = the stat
    * index, score = the stat — 0: row count, 1: Σv, 2: max v,
    * 3: min v, 4: Σid. Sums run in DECIMAL(38,0) and cast back to
    * long, so past-int64 values degrade to a loud NULL row, never a
    * wrapped one. */
  def hitsStageDigest(stage: String, frame: DataFrame): DataFrame = {
    def wl(c: Column) = c.cast("decimal(38,0)")
    frame
      .agg(count(lit(1)).cast("long").as("n"),
        sum(wl(col("v"))).cast("long").as("sv"),
        max(col("v")).cast("long").as("mxv"),
        min(col("v")).cast("long").as("mnv"),
        sum(wl(col("id"))).cast("long").as("sid"))
      .select(explode(array(
        struct(lit(0L).as("id"), col("n").as("score")),
        struct(lit(1L).as("id"), col("sv").as("score")),
        struct(lit(2L).as("id"), col("mxv").as("score")),
        struct(lit(3L).as("id"), col("mnv").as("score")),
        struct(lit(4L).as("id"), col("sid").as("score")))).as("r"))
      .select(lit(s"z_$stage").as("side"), col("r.id").as("id"),
        col("r.score").as("score"))
  }

  /** Empty-unless-broken overflow witness for [[integerHits]]: rows
    * whose score is NULL (a decimal(38,0) sum overflow — ~1e26-edge
    * territory) or outside [0, 1e6] (impossible by construction —
    * present so any future regression of the rescale is loud). Union
    * this under a hashed result so a bound violation breaks
    * rows_match visibly instead of silently reshuffling a top-k
    * (the q182/q210/q215 loud-sentinel pattern). */
  def hitsOverflowWitness(scores: DataFrame): DataFrame =
    scores.filter(col("v").isNull || col("v") < 0L ||
      col("v") > 1000000L)

  def personalizedRanks(edges: DataFrame, srcCol: String,
      dstCol: String, sources: DataFrame, iters: Int,
      broadcastRanks: Option[Boolean] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val srcIds = sources.toDF("sid").distinct()
    val adj = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .groupBy(col("src"))
      .agg(collect_set(col("dst")).as("nbrs"))
      .select(col("src"), col("nbrs"),
        size(col("nbrs")).cast("long").as("outdeg"))
      .join(broadcast(srcIds), col("src") === col("sid"), "left_outer")
      .select(col("src"), col("nbrs"), col("outdeg"),
        col("sid").isNotNull.as("is_src"))
      .transform(Ckpt.cut)
    val nV = adj.count()
    val nS = adj.filter(col("is_src")).count()
    require(nS > 0, "no source vertex is present in the graph")
    val baseMicro = (150000L * nV) / nS
    val bcast = broadcastRanks.getOrElse(nV <= BroadcastVertexCap)
    var ranks = adj.select(col("src").as("id"), lit(1000000L).as("r"))
    for (_ <- 1 to iters)
      ranks = {
        val contrib = adj.join(
            if (bcast) broadcast(ranks) else ranks,
            adj("src") === ranks("id"))
          .select(explode(col("nbrs")).as("dst"),
            expr("r div outdeg").as("c"))
          .groupBy(col("dst"))
          .agg(sum(col("c")).as("sc"))
        // LEFT join contributions back onto the FULL vertex set (adj
        // has one row per vertex): on a non-symmetric edge list —
        // reachable via the personalized_pagerank SQL table
        // function — a zero-in-degree vertex would otherwise vanish
        // from the per-round groupBy(dst), and a zero-in-degree
        // SEED would silently lose all its teleport mass. Both
        // sides are vertex-sized; broadcast the aggregated one
        // under the same decision as the ranks.
        adj.select(col("src").as("id"), col("is_src"))
          .join(
            {
              val c = contrib.select(col("dst"), col("sc"))
              if (bcast) broadcast(c) else c
            },
            col("id") === col("dst"), "left_outer")
          .select(col("id"),
            (when(col("is_src"), lit(baseMicro)).otherwise(lit(0L)) +
              expr("(85 * coalesce(sc, 0L)) div 100")).as("r"))
      }
    ranks
  }
}
