package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Ckpt.Stop

/** Co-occurrence graph construction: items sharing a group (parts
  * sharing an order, terms sharing a document) become edges.
  *
  * The naive build is `distinct(group, item)` self-joined on the
  * group key — three exchanges before the first edge exists (the
  * distinct hash-partitions on (group, item), so BOTH join inputs
  * re-exchange on group). This operator instead aggregates each
  * group's item SET (one shuffle, map-side partial collect_set —
  * which also absorbs the (group, item) dedup for free) and expands
  * the pairs map-side from the set: one exchange total, measured
  * ~1.9× faster on the sf0.1 co-purchase graph.
  *
  * Contract: group cardinality must be BOUNDED (basket-sized) — the
  * expansion materializes |set|² rows per group in one task. That
  * holds by construction for market-basket groups (an order has a
  * bounded line count at any corpus scale). For unbounded groups
  * (all docs sharing a token) keep the self-join form, which
  * distributes each group's quadratic expansion across the join.
  */
object Graph {

  /** Ordered co-occurrence pairs (src < dst), ONE ROW PER GROUP
    * containing the pair — feed a groupBy(src, dst).count() for
    * co-occurrence weights, or `.distinct()` for the edge set. */
  def coOccurrencePairs(df: DataFrame, groupCol: String,
      itemCol: String): DataFrame =
    itemSets(df, groupCol, itemCol)
      .select(explode(col("ps")).as("src"), col("ps"))
      .select(col("src"), explode(col("ps")).as("dst"))
      .filter(col("src") < col("dst"))

  /** Symmetric co-occurrence pairs (both directions, src ≠ dst) —
    * the undirected-graph expansion [[PageRank.integerRanks]]
    * expects. One row per (group, direction). */
  def coOccurrenceEdges(df: DataFrame, groupCol: String,
      itemCol: String): DataFrame =
    itemSets(df, groupCol, itemCol)
      .select(explode(col("ps")).as("src"), col("ps"))
      .select(col("src"), explode(col("ps")).as("dst"))
      .filter(col("src") =!= col("dst"))

  private def itemSets(df: DataFrame, groupCol: String,
      itemCol: String): DataFrame =
    df.select(col(groupCol).as("g"), col(itemCol).as("i"))
      .groupBy(col("g"))
      .agg(collect_set(col("i")).as("ps"))
      .filter(size(col("ps")) > 1)

  /** Both directions of every edge from ONE pass over the input — a
    * map-side explode of a two-struct array — instead of the
    * union-of-two-scans idiom `e.union(e.flip)`. The union form
    * plants the input subtree TWICE in the physical plan, so when the
    * input is an unmaterialized expansion (the basket co-occurrence
    * build), it executes twice — measured as the repeated
    * ~0.4 MB-shuffle stage dominating every graph query at sf0.1.
    * Same multiset as the union form; callers' `.distinct()` dedupes
    * arbitrary inputs exactly as before. */
  private[graft] def bothDirections(edges: DataFrame, aCol: String,
      bCol: String): DataFrame =
    edges
      .select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** [[bothDirections]] carrying a per-edge weight column. */
  private[graft] def bothDirectionsW(edges: DataFrame, aCol: String,
      bCol: String, wCol: String): DataFrame =
    edges
      .select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst"),
          col(wCol).as("w")),
        struct(col(bCol).as("src"), col(aCol).as("dst"),
          col(wCol).as("w")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.w").as("w"))

  /** Bounded multi-source WEIGHTED shortest paths: min path cost
    * from any source using at most `maxEdges` edges — distributed
    * Bellman-Ford relaxation, the weighted upgrade of [[bfsHops]]
    * (and what Pregel-style engines run as their hello-world).
    * Up to `maxEdges` synchronous rounds; each round relaxes every
    * edge out of the current label set with one equi-join and folds
    * with a partial-aggregable min — no per-vertex driver state.
    * Converged rounds stop early: labels are monotone (the set only
    * grows, each label only decreases), so an unchanged
    * (count, sum(d)) signature means every later round is a no-op
    * and the result is identical to running all `maxEdges` rounds —
    * on a sparse graph most rounds past the diameter are no-ops.
    * The signature is one cheap partial-aggregable action over the
    * already-checkpointed label frame. Costs are caller-supplied
    * integers, so labels are exact on any engine.
    *
    * @param edges undirected weighted edges (aCol, bCol, wCol ≥ 0)
    * @return (id, d): min cost over paths of ≤ maxEdges edges;
    *         unreachable vertices absent
    */
  def boundedShortestPaths(edges: DataFrame, aCol: String,
      bCol: String, wCol: String, sources: DataFrame, srcCol: String,
      maxEdges: Int): DataFrame =
    boundedShortestPathsWithRounds(edges, aCol, bCol, wCol, sources,
      srcCol, maxEdges)._1

  /** [[boundedShortestPaths]] plus the number of relaxation rounds
    * actually executed — the observable for the convergence early
    * exit (a diameter-3 graph under maxEdges=50 runs 4 rounds, not
    * 50). Separate method so the query path keeps the plain
    * DataFrame shape. */
  def boundedShortestPathsWithRounds(edges: DataFrame, aCol: String,
      bCol: String, wCol: String, sources: DataFrame, srcCol: String,
      maxEdges: Int): (DataFrame, Int) = {
    require(maxEdges >= 0, s"maxEdges must be >= 0: $maxEdges")
    val sym = bothDirectionsW(edges, aCol, bCol, wCol)
      .distinct()
      .transform(Ckpt.cut)
    // the (count, Σd) convergence signature is OBSERVED during each
    // round's checkpoint job (Ckpt.iterate) instead of being a
    // separate aggregate action — the relaxation loop is
    // driver-round bound at bench scale, so one action per round
    val start = sources.select(col(srcCol).as("id")).distinct()
      .withColumn("d", lit(0L))
    val fp = Ckpt.iterate(start, maxEdges, count(col("id")),
        sum(col("d")))(Stop.Unchanged) { s =>
      val relaxed = sym
        .join(s.df.select(col("id").as("src"), col("d")), Seq("src"))
        .select(col("dst").as("id"), (col("d") + col("w")).as("d"))
      s.df.unionByName(relaxed)
        .groupBy(col("id")).agg(min(col("d")).as("d"))
    }
    (fp.df, fp.rounds)
  }

  /** k-core decomposition (peel to fixpoint): the maximal subgraph in
    * which every vertex has degree ≥ k — the standard graph-mining
    * primitive for dense-community extraction and spam/bot filtering.
    * Iterative peeling: drop every vertex whose degree in the CURRENT
    * subgraph is below k, decrement its surviving neighbours, repeat
    * until no vertex is under k; `maxRounds` only bounds the loop
    * (peeling depth on sparse graphs is far below it — the sf0.1
    * basket graph at k=3 peels in 11 rounds).
    *
    * Scale shape: DECREMENTAL — the edge relation materializes once
    * and is never rewritten; each round scans it against the small
    * just-dropped frontier (AQE-broadcast equi-join, partial-agg
    * count) and updates the VERTEX-sized degree table. Per-round
    * state is O(V), plan depth O(1) via per-round checkpoints; the
    * only driver action is the frontier's emptiness check.
    *
    * @param edges undirected edges (aCol, bCol), self-loop-free
    * @return (id, deg): every vertex of the k-core with its degree
    *         inside the core (deg ≥ k); empty when no core exists
    */
  def kCore(edges: DataFrame, aCol: String, bCol: String, k: Int,
      maxRounds: Int): DataFrame =
    kCoreWithRounds(edges, aCol, bCol, k, maxRounds)._1

  /** [[kCore]] plus the number of peel rounds actually executed —
    * the observable for the convergence exit (see
    * [[boundedShortestPathsWithRounds]] for the pattern). */
  def kCoreWithRounds(edges: DataFrame, aCol: String, bCol: String,
      k: Int, maxRounds: Int): (DataFrame, Int) = {
    require(k >= 1, s"k must be >= 1: $k")
    require(maxRounds >= 0, s"maxRounds must be >= 0: $maxRounds")
    // DECREMENTAL peeling: the edge relation is materialized ONCE
    // and never rewritten. Each round drops the under-k frontier
    // from the (vertex-sized) degree table and decrements surviving
    // degrees by their edges into the frontier — one scan of the
    // immutable edge relation joined against the small just-dropped
    // set (AQE broadcasts it), plus a vertex-sized table update.
    // The naive form instead restricts + re-materializes the edge
    // list every round, paying an edge-sized shuffle + checkpoint
    // per round; on a 20M-node / 120M-edge constant-density graph
    // that form took 1272 s for 9 rounds where this one scans.
    // Every edge decrements exactly once, when its other endpoint
    // drops while this one is alive, so the maintained degrees ARE
    // the current-subgraph degrees — the peeling invariant.
    val sym = bothDirections(edges, aCol, bCol)
      .distinct()
      .transform(Ckpt.cut)
    // symmetric + distinct ⇒ out-degree == undirected degree.
    // The under-k frontier COUNT is observed during each round's
    // checkpoint (Ckpt.iterate), so the peel's emptiness probe costs
    // no extra driver action.
    val degs = sym.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("deg"))
    val fp = Ckpt.iterate(degs, maxRounds,
        count(when(col("deg") < k, lit(1))))(Stop.Zero) { s =>
      // a lazy filter over the CHECKPOINTED degree table: cheap to
      // evaluate twice (dec build side + survivor filter), so no
      // materialization job per round for the frontier itself.
      // Edges INTO the frontier, counted per surviving source;
      // sources already dropped in earlier rounds simply miss in
      // the degree-table join below
      val dec = sym
        .join(s.df.filter(col("deg") < k).select(col("id").as("dst")),
          Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("dec"))
      // survivors = deg >= k (same set as anti-joining the frontier,
      // one vertex-sized join cheaper per round)
      s.df
        .filter(col("deg") >= k)
        .join(dec, Seq("id"), "left")
        .select(col("id"),
          (col("deg") - coalesce(col("dec"), lit(0L))).as("deg"))
    }
    // a peel round is counted when it finds the frontier empty too
    (fp.df, math.min(fp.rounds + (if (fp.converged) 1 else 0), maxRounds))
  }

  /** Full core-number decomposition (graph degeneracy, capped at
    * `maxK`): every vertex's core number — the largest k such that
    * it survives in the k-core — via the capped h-index fixpoint
    * (details inline). Scale shape: the edge relation materializes
    * once; each round is one edges⋈state equi-join feeding a
    * partial-aggregable bounded-width count vector plus a
    * vertex-sized update — no per-wave frontier, rounds bounded by
    * the graph's h-index convergence depth (a handful on small-world
    * graphs) instead of the peel's wave count.
    *
    * @return (id, core) for every non-isolated vertex, 1 ≤ core ≤
    *         maxK
    */
  def coreNumbers(edges: DataFrame, aCol: String, bCol: String,
      maxK: Int, maxRounds: Int): DataFrame = {
    require(maxK >= 1, s"maxK must be >= 1: $maxK")
    require(maxRounds >= 0, s"maxRounds must be >= 0: $maxRounds")
    val sym = bothDirections(edges, aCol, bCol)
      .distinct()
      .transform(Ckpt.cut)
    // CAPPED H-INDEX ITERATION (Lü et al. 2016, "The H-index of a
    // network node and its relation to degree and coreness"): start
    // every vertex at c₀ = min(degree, maxK) and repeatedly replace c
    // with min(c, H) where H is the h-index of its neighbours'
    // current values — the largest h such that ≥ h neighbours hold
    // c ≥ h. The iterates decrease monotonically to the greatest
    // fixpoint ≤ c₀, which is exactly min(coreness, maxK): capping
    // preserves the fixpoint because "≥ h neighbours with value ≥ h"
    // only ever tests h ≤ maxK (the standard locality proof goes
    // through unchanged — any S = {v : c(v) ≥ h} at a fixpoint
    // induces a subgraph of min-degree ≥ h, hence S ⊆ h-core).
    //
    // Why not the wave-by-wave peel the r14 form used: peeling runs
    // one synchronous round per WAVE per threshold (~40 rounds on the
    // sf0.1 basket graph, each a checkpoint + frontier probe + AQE
    // stage group ⇒ 226 driver jobs, measured 10.4 s of which only
    // ~5 s was executor time). The h-index form converges in a
    // handful of rounds on small-world graphs — same fixpoint, an
    // order of magnitude fewer driver round-trips — and each round is
    // the same partial-aggregable neighbour pass the peel's dec join
    // already paid. Since c only decreases, the vertex-sum of c is a
    // complete convergence signature (unchanged sum ⇔ no vertex
    // changed), one cheap aggregate over the checkpointed state.
    //
    // maxRounds bounds the loop exactly as before (the cap is a
    // safety net — convergence is data-bounded and fast; stopping
    // early leaves upper-bound estimates, same contract as a
    // truncated peel).
    // the Σc convergence signature is observed during each round's
    // checkpoint job (Ckpt.iterate) — no separate aggregate action
    // per round; a zero sum is the empty graph, nothing to iterate.
    // counts of neighbours at-or-above each candidate level; maxK is
    // a small constant (bounded aggregate width)
    val cnts = (2 to maxK).map(j =>
      sum(when(col("c") >= j, 1L).otherwise(0L)).as(s"c$j"))
    // H = largest j in [1, maxK] with cnt_j >= j (every vertex in sym
    // has >= 1 neighbour, so H >= 1 unconditionally)
    val h = (2 to maxK)
        .foldLeft(lit(1): org.apache.spark.sql.Column) { (acc, j) =>
      when(col(s"c$j") >= j, j).otherwise(acc)
    }
    val c0 = sym.groupBy(col("src").as("id"))
      .agg(least(count(lit(1)), lit(maxK.toLong)).cast("int").as("c"))
    val fp = Ckpt.iterate(c0, if (maxK > 1) maxRounds else 0,
        sum(col("c")))(Stop.Zero || Stop.Unchanged) { s =>
      val nbr = sym
        .join(s.df.select(col("id").as("src"), col("c")), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(cnts.head, cnts.tail: _*)
      s.df
        .join(nbr, Seq("id"))
        .select(col("id"), least(col("c"), h).as("c"))
    }
    // loud truncation (the SCC kernels' pattern, advisory form):
    // hitting the round cap before the fixpoint leaves OVERESTIMATED
    // core numbers — h-index convergence is O(diameter)-ish on
    // path-like graphs, so a caller that lowers maxRounds must see
    // the truncation, not silently read upper bounds as coreness
    if (maxK > 1 && !fp.converged) System.err.println(
      s"[graft] WARNING: coreNumbers stopped at maxRounds=" +
        s"$maxRounds before the h-index fixpoint — returned " +
        "values are upper bounds, not exact core numbers")
    fp.df.select(col("id"), col("c").as("core"))
  }

  /** Synchronous label-propagation community detection, `rounds`
    * fixed iterations: every vertex starts labelled with its own id;
    * each round it adopts the most frequent label among its
    * neighbours plus its own current label (the self-vote damps the
    * 2-cycle oscillation synchronous LPA is prone to), ties broken by
    * the SMALLEST label — fully deterministic, so any engine replays
    * it exactly. Fixed-round synchronous semantics (not
    * run-to-convergence) keep the result well-defined: asynchronous
    * LPA is order-dependent and unreproducible across engines.
    *
    * Scale shape: each round is one labels⋈edges equi-join + one
    * (id, label) count + one per-id arg-max window, all partitioned
    * by vertex; labels checkpoint per round (O(1) plan depth), no
    * driver actions inside the loop.
    *
    * @param edges undirected edges (aCol, bCol), self-loop-free
    * @return (id, label) after `rounds` synchronous votes
    */
  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0: $rounds")
    val sym = bothDirections(edges, aCol, bCol)
      .distinct()
      .transform(Ckpt.cut)
    val own = sym.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    Ckpt.iterate(own, rounds)(Stop.Never) { s =>
      val votes = sym
        .join(s.df.select(col("id").as("src"), col("label")),
          Seq("src"))
        .select(col("dst").as("id"), col("label"))
        .unionByName(s.df) // self-vote
        .groupBy(col("id"), col("label"))
        .agg(count(lit(1)).as("c"))
      // arg-max as a HASH aggregate instead of a row_number window
      // (r15): min of struct(-c, label) picks the largest count,
      // ties to the SMALLEST label — the identical deterministic
      // vote rule — while partial-aggregating map-side and skipping
      // the window's per-round full sort. -c never overflows (c is
      // a positive count bounded by |V|+1).
      votes
        .groupBy(col("id"))
        .agg(min(struct((-col("c")).as("nc"),
          col("label").as("label"))).as("m"))
        .select(col("id"), col("m.label").as("label"))
    }.df
  }

  /** Multi-source BFS hop distance, bounded at `maxHops`: label each
    * reachable vertex with its minimum hop count from any source.
    * The iterative-frontier graph primitive (level-synchronous BFS)
    * that recursive SQL expresses with a recursive CTE.
    *
    * Scale shape: each level is ONE equi-join of the current
    * frontier against the (checkpointed) symmetric edge list plus an
    * anti-join against the visited set — all key-partitioned, no
    * driver-side graph state; the frontier/visited frames checkpoint
    * per level so the plan (and its lineage) stays O(1) deep. The
    * per-level early-exit count is the only driver action, bounded
    * by `maxHops`. First visit IS minimum hop (level-synchronous
    * expansion), so no min-aggregation pass is needed at the end.
    *
    * @param edges  undirected edges (aCol, bCol)
    * @param sources frame whose `srcCol` are the hop-0 vertices
    * @return (id, hop) for every vertex within `maxHops` of a source
    */
  def bfsHops(edges: DataFrame, aCol: String, bCol: String,
      sources: DataFrame, srcCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0: $maxHops")
    val sym = bothDirections(edges, aCol, bCol)
      .distinct()
      .transform(Ckpt.cut)
    levelBfs(sym, sources.select(col(srcCol).as("id")).distinct()
      .withColumn("hop", lit(0)), Nil, maxHops)
  }

  /** The level-synchronous BFS behind [[bfsHops]], [[perSourceHops]]
    * and [[directedHops]]: each level joins the frontier (keyed by
    * `carry` + id) against `adj` (src, dst) and anti-joins the
    * visited set. The emptiness probe rides the frontier's
    * checkpoint (Ckpt.iterate) — one driver action per level. Visited
    * stays a lazy union of the CHECKPOINTED frontiers: every leg is
    * already materialized, so no recomputation and no extra job per
    * level (lineage depth is bounded by maxHops).
    *
    * @return the union of every level's frontier (carry…, id, hop) */
  private def levelBfs(adj: DataFrame, start: DataFrame,
      carry: Seq[String], maxHops: Int): DataFrame = {
    val keys = carry :+ "id"
    val legs = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val last = Ckpt.iterate(start, maxHops, count(lit(1)))(Stop.Zero) { s =>
      legs += s.df
      adj
        .join(s.df.select(carry.map(col) :+ col("id").as("src"): _*),
          Seq("src"))
        .select(carry.map(col) :+ col("dst").as("id"): _*).distinct()
        .join(legs.reduce(_ unionByName _).select(keys.map(col): _*),
          keys, "left_anti")
        .withColumn("hop", lit(s.rounds + 1))
    }.df
    (legs :+ last).reduce(_ unionByName _)
  }

  /** Per-source BFS hop distances, bounded at `maxHops`: like
    * [[bfsHops]] but the state is keyed (root, id), so every
    * source's own distance field survives instead of collapsing to
    * the minimum — the building block for sampled closeness
    * centrality (Eppstein-Wang style: closeness estimated from a
    * handful of pivot sources instead of all-pairs BFS).
    *
    * Scale shape: identical level-synchronous loop to [[bfsHops]]
    * with every frame carrying the extra `root` column; state is
    * O(|S|·reach) — the reason the contract is a SAMPLED source set
    * (|S| bounded), never the full vertex set. All joins remain
    * key-partitioned equi-joins; per-level checkpoints keep the plan
    * O(1) deep.
    *
    * @return (root, id, hop) for every (source, vertex) pair within
    *         `maxHops` */
  def perSourceHops(edges: DataFrame, aCol: String, bCol: String,
      sources: DataFrame, srcCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0: $maxHops")
    val sym = bothDirections(edges, aCol, bCol)
      .distinct()
      .transform(Ckpt.cut)
    levelBfs(sym, sources.select(col(srcCol).as("root")).distinct()
        .select(col("root"), col("root").as("id"), lit(0).as("hop")),
      Seq("root"), maxHops)
  }

  /** Deterministic random walks — the DeepWalk/node2vec corpus
    * generator: turn a graph into token SEQUENCES an embedding
    * trainer consumes, with every "random" choice derived from
    * md5(start, walk, step), so the whole corpus is engine- and
    * partitioning-replayable (the [[graft.operators.Splits]]
    * hash-randomness contract; no RNG state anywhere).
    *
    * Step rule: at vertex v on step t of walk (s, w), move to the
    * neighbor whose rank (neighbors sorted by id, 1-based) is
    * `md5_32(s ⊕ '_' ⊕ w ⊕ '_' ⊕ t) mod deg(v) + 1`. Every vertex
    * has ≥ 1 neighbor by construction (it came from an edge), so a
    * walk never strands.
    *
    * Scale shape: the ranked adjacency (src, dst, rnk) and the
    * vertex-sized degree table build once (one groupBy-window
    * exchange) and checkpoint; each step is one join against the
    * degree table plus one equi-join on (vertex, rank) against the
    * adjacency — walk state stays O(starts · walksPerNode), never
    * edge-sized. The degree side is broadcast ONLY while |V| ≤
    * [[PageRank.BroadcastVertexCap]] (the same gate every other
    * vertex-frame join in this package uses); past the cap both
    * per-step joins are plain shuffles left to AQE — a vertex-sized
    * exchange per step, never a vertex-sized driver/executor
    * broadcast. On a cluster the adjacency is bucketed by src so
    * the per-step join reuses its layout; steps are a fixed small
    * count (lineage bounded by the per-step checkpoint).
    *
    * @param starts 1-column frame of walk start vertices (vertices
    *               absent from the graph are dropped)
    * @return (start, walk, step, vertex) — step 0 is the start
    *         itself; `walksPerNode` walks per surviving start */
  def randomWalks(edges: DataFrame, aCol: String, bCol: String,
      starts: DataFrame, walksPerNode: Int, steps: Int): DataFrame = {
    require(walksPerNode >= 1 && steps >= 0,
      s"need walksPerNode >= 1 and steps >= 0, got " +
        s"($walksPerNode, $steps)")
    val sym = bothDirections(edges, aCol, bCol)
      .distinct()
    val adj = sym
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("src")).orderBy(col("dst"))))
      .transform(Ckpt.cut)
    val deg = adj.groupBy(col("src").as("v"))
      .agg(count(lit(1)).as("d"))
      .transform(Ckpt.cut)
    // vertex-sized: broadcast only under the package-wide cap —
    // an unconditional broadcast here is an OOM at planetary |V|
    val degJ =
      if (deg.count() <= PageRank.BroadcastVertexCap) broadcast(deg)
      else deg
    val start = starts.toDF("start").distinct()
      .join(deg.select(col("v").as("start")), Seq("start"))
      .crossJoin(broadcast(
        sym.sparkSession.range(walksPerNode).select(
          col("id").as("walk"))))
      .select(col("start"), col("walk"), lit(0).as("step"),
        col("start").as("vertex"))
    val legs = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val last = Ckpt.iterate(start, steps)(Stop.Never) { s =>
      val (walks, t) = (s.df, s.rounds + 1)
      legs += walks
      walks
        .join(degJ, walks("vertex") === deg("v"))
        .select(col("start"), col("walk"),
          (conv(substring(md5(concat_ws("_", col("start"),
            col("walk"), lit(t))), 1, 8), 16, 10).cast("long") %
            col("d") + lit(1L)).cast("int").as("rnk"),
          col("vertex"))
        .join(adj.select(col("src").as("vertex"), col("dst"),
          col("rnk")), Seq("vertex", "rnk"))
        .select(col("start"), col("walk"), lit(t).as("step"),
          col("dst").as("vertex"))
    }.df
    (legs :+ last).reduce(_ unionByName _)
  }

  /** Single-source DIRECTED BFS hops (shortest hop count from
    * `pivot`, edge direction respected — unlike [[perSourceHops]],
    * which symmetrizes). One join + one anti-join + one distinct per
    * level, frontier-sized frames, checkpointed lineage. */
  def directedHops(edges: DataFrame, srcCol: String, dstCol: String,
      pivot: Long, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0: $maxHops")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
      .transform(Ckpt.cut)
    levelBfs(e, e.sparkSession.range(1)
      .select(lit(pivot).as("id"), lit(0).as("hop")), Nil, maxHops)
  }

  /** The strongly connected component CONTAINING a pivot vertex, by
    * the forward-backward reachability intersection (the pivot step
    * of the classic divide-and-conquer distributed SCC — Fleischer
    * et al. 2000; the FULL decomposition is [[sccLabels]]):
    * v ∈ SCC(pivot) ⟺ pivot →* v AND
    * v →* pivot, i.e. v is in both the forward BFS (edges as given)
    * and the backward BFS (edges reversed).
    *
    * Truncation honesty: both BFS runs are capped at `maxHops`, so
    * the result is only the true SCC if both searches reached
    * fixpoint within the cap. The returned frame exposes the hop of
    * each reach; callers hash `count(hop = maxHops)` per direction
    * as a LOUD convergence sentinel (must be 0 — the q182/q191
    * pattern) so a still-growing frontier can never silently
    * truncate the component.
    *
    * Scale shape: two frontier-sized BFS loops over one checkpointed
    * distinct edge frame (the reverse direction swaps columns, no
    * second build); the intersection is a vertex-sized full-outer
    * join. Nothing all-pairs, nothing driver-sized.
    *
    * @return (id, fwd_hop, bwd_hop) — vertices reached in at least
    *         one direction; fwd_hop/bwd_hop null when unreached;
    *         in-SCC ⟺ both non-null */
  def sccOfPivot(edges: DataFrame, srcCol: String, dstCol: String,
      pivot: Long, maxHops: Int): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .transform(Ckpt.cut)
    // The two bounded BFS loops are INDEPENDENT (both read only the
    // checkpointed edge frame) but each is a chain of per-level
    // driver actions — run them on two driver threads so the level
    // jobs interleave and the tail of one search back-fills the
    // executors the other leaves idle (Spark schedules concurrent
    // jobs FIFO; actions are only sequential because a single driver
    // thread calls them sequentially). Results are deterministic:
    // no shared mutable state, and each loop's output is the same
    // frame it computed single-threaded.
    var bwdRes: DataFrame = null
    var bwdErr: Throwable = null
    val t = new Thread(() => {
      try bwdRes = directedHops(e, "dst", "src", pivot, maxHops)
      catch { case x: Throwable => bwdErr = x }
    }, "graft-scc-bwd")
    t.setDaemon(true) // never outlive the app if the join is skipped
    t.start()
    // join in a finally: if the foreground BFS throws, the background
    // thread must not keep submitting jobs against a session the
    // caller may be tearing down
    val fwd =
      try directedHops(e, "src", "dst", pivot, maxHops)
        .select(col("id"), col("hop").as("fwd_hop"))
      finally t.join()
    if (bwdErr != null) throw bwdErr
    val bwd = bwdRes.select(col("id"), col("hop").as("bwd_hop"))
    fwd.join(bwd, Seq("id"), "full_outer")
  }

  /** Link prediction by common-neighbor count — the classic
    * structural scores (Liben-Nowell & Kleinberg 2003): for every
    * NON-edge (u, v), cn = |Γ(u) ∩ Γ(v)| (the number of length-2
    * paths) and pa = deg(u)·deg(v) (preferential attachment), both
    * exact integers. Candidates come from the 2-hop expansion
    * e(u,w) ⋈ e(w,v) — only pairs with ≥ 1 common neighbor are ever
    * materialized (the zero-score pairs a quadratic scorer would
    * enumerate never exist) — then an anti-join removes existing
    * edges.
    *
    * Scale shape: the expansion is Σ_w deg(w)² rows, which hubs
    * dominate — so the expansion is DEGREE-CAPPED: vertices with
    * deg > `degCap` are excluded as path midpoints (the standard
    * industrial concession: a hub shared by everyone carries almost
    * no signal about any specific pair, exactly the IDF argument;
    * production variants reweight by 1/log deg — Adamic-Adar — or
    * sample hub neighborhoods). With the cap the expansion is
    * ≤ degCap²·|V| rows through ordinary equi-joins; deg frames are
    * vertex-sized; nothing quadratic in |V|.
    *
    * @param edges undirected edge list (one row per edge, any
    *              orientation; symmetrized + dedup'd internally)
    * @return (u, v, cn, ra_ppm, pa_u_deg, pa_v_deg) for non-adjacent
    *         u < v with cn ≥ 1 and both endpoints under the cap;
    *         ra_ppm = Σ over shared neighbors of (1e6 div deg) — the
    *         resource-allocation index in exact integer ppm */
  def commonNeighborCandidates(edges: DataFrame, aCol: String,
      bCol: String, degCap: Int): DataFrame = {
    require(degCap >= 1, s"degCap must be >= 1: $degCap")
    commonNeighborImpl(edges, aCol, bCol,
      deg => deg.filter(col("d") <= degCap))
  }

  /** [[commonNeighborCandidates]] with the hub cap DERIVED IN-PLAN
    * from the graph's own degree distribution instead of hand-picked:
    * cap = max(minCap, p99Mult · p99(deg)), where p99(deg) is the
    * EXACT 99th-percentile degree (smallest d with ≥ 99% of vertices
    * at degree ≤ d) computed from the degree histogram — a frame
    * bounded by the number of DISTINCT degrees, so the one
    * unpartitioned window is bins-sized (the isotonic-fit contract),
    * and the cap joins back as a broadcast 1-row frame, never a
    * driver collect.
    *
    * Why p99 and not max: the expansion cost is Σ_{d ≤ cap} c_d·d² —
    * anchoring the cap to the distribution's bulk keeps that sum
    * within p99Mult² of the UNCAPPED cost of the non-hub 99%, no
    * matter how the tail densifies. A fixture that doubles every
    * vertex's degree doubles the cap with it (wall grows with the
    * data, never cliffs on a constant); a fixture that only grows
    * hub degree leaves the cap — and the excluded-hub semantics —
    * fixed. Exactly integer-replayable in the oracle (histogram,
    * running sum, one GREATEST). */
  def commonNeighborCandidatesAdaptive(edges: DataFrame,
      aCol: String, bCol: String, p99Mult: Int = 4,
      minCap: Int = 64): DataFrame =
    commonNeighborImpl(edges, aCol, bCol, adaptiveLow(p99Mult, minCap))

  /** The p99-derived hub cap of [[commonNeighborCandidatesAdaptive]]
    * as a reusable degree-frame restriction. */
  private def adaptiveLow(p99Mult: Int, minCap: Int)
      : DataFrame => DataFrame = {
    require(p99Mult >= 1 && minCap >= 1,
      s"p99Mult/minCap must be >= 1: $p99Mult, $minCap")
    deg => {
      import org.apache.spark.sql.expressions.Window
      val hist = deg.groupBy(col("d")).agg(count(lit(1)).as("c"))
      val cum = hist.withColumn("cum",
        sum(col("c")).over(Window.orderBy(col("d"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val cap = cum
        .crossJoin(broadcast(deg.agg(count(lit(1)).as("n"))))
        .filter(col("cum") * 100L >= col("n") * 99L)
        .agg(min(col("d")).as("p99"))
        .select(greatest(col("p99") * p99Mult,
          lit(minCap.toLong)).as("cap"))
      deg.crossJoin(broadcast(cap)).filter(col("d") <= col("cap"))
        .select(col("x"), col("d"))
    }
  }

  /** [[commonNeighborCandidatesAdaptive]] plus the literal
    * Adamic-Adar index (Adamic & Adar 2003: Σ over shared neighbors
    * of 1/ln deg(w)) in exact integer arithmetic — the metric q223
    * deliberately substituted with resource allocation because
    * 1/ln d would put non-correctly-rounded libm in the cross-engine
    * hash. Here ln is the ppm-quantized fixed point [[lnPpm]]: a
    * 512-entry mantissa table generated once from `StrictMath.log`
    * (fdlibm — bit-reproducible across JVMs) plus pure integer
    * shift/div/mod algebra, so Spark and the DuckDB oracle (whose
    * SQL embeds the SAME table values as literals, string-built from
    * the same array) compute identical BIGINTs by construction. Each
    * shared neighbor contributes 1e12 div lnPpm(deg(w)) — i.e.
    * 1e6/ln(deg) at ppm scale, within ~7 ppm of the real-valued
    * metric for deg ≤ 2^40 (table ±0.5, ln2 rounding 0.19/octave,
    * series truncation < 1.91, floor 1).
    *
    * Output adds `aa_ppm` after `ra_ppm`; midpoints always have
    * deg ≥ 2 (they touch both u and v), so ln is never 0. */
  def adamicAdarCandidates(edges: DataFrame, aCol: String,
      bCol: String, p99Mult: Int = 4, minCap: Int = 64): DataFrame =
    commonNeighborImpl(edges, aCol, bCol,
      adaptiveLow(p99Mult, minCap), withAa = true)

  /** ln(m)·1e6 rounded to the nearest integer for m ∈ [512, 1023] —
    * the mantissa table of the fixed-point ln. `StrictMath.log` is
    * fdlibm-pinned, so every JVM (builder, driver) generates the
    * identical table, and the oracle SQL embeds these exact values
    * as literals via [[lnTabValuesSql]]. */
  private[graft] val lnMantissaPpm: IndexedSeq[Long] =
    (512 to 1023).map(m => Math.round(StrictMath.log(m.toDouble) * 1e6))

  /** round(ln(2)·1e6) — the per-octave step of the fixed-point ln. */
  private[graft] val Ln2Ppm: Long = 693147L

  /** `(512, lnppm), (513, lnppm), …` — the mantissa table as a SQL
    * VALUES body for the DuckDB oracle. */
  private[graft] def lnTabValuesSql: String =
    lnMantissaPpm.zipWithIndex
      .map { case (v, i) => s"(${i + 512}, $v)" }.mkString(", ")

  /** floor(log2(d)) for a BIGINT column as a branch-only SQL CASE —
    * valid verbatim in both Spark SQL and DuckDB (no libm, no
    * engine-specific syntax). */
  private[graft] def blCaseSql(d: String): String =
    (62 to 1 by -1)
      .map(k => s"WHEN $d >= ${1L << k} THEN $k")
      .mkString("CASE ", " ", " ELSE 0 END")

  /** Appends `out` = lnPpm(`dCol`) ≈ round(1e6·ln d) to `df` in pure
    * integer algebra: decompose d = m·2^sh + r with m ∈ [512, 1024)
    * (sh = floor(log2 d) − 9; for d < 512 the shift is left and
    * exact), then
    * `lnPpm = table(m) + sh·Ln2Ppm + (r·1e6) div (m·2^sh)` — the
    * last term is the first-order ln(1+x) correction, x < 1/512 so
    * truncation < 1.91 ppm. The r·1e6 product is widened to
    * DECIMAL(38,0) before multiplying (loud-NULL house rule), the
    * mantissa lookup is a broadcast join against the 512-row table.
    * Requires d ≥ 1; columns `_bl/_sh/_m/_r/_lnm` are consumed. */
  private[graft] def withLnPpm(df: DataFrame, dCol: String,
      out: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val tab = lnMantissaPpm.zipWithIndex
      .map { case (v, i) => ((i + 512).toLong, v) }
      .toDF("_m", "_lnm")
    df.withColumn("_bl", expr(blCaseSql(dCol)).cast("long"))
      .withColumn("_sh", col("_bl") - lit(9L))
      .withColumn("_m",
        when(col("_sh") >= 0,
          expr(s"$dCol div shiftleft(CAST(1 AS BIGINT), " +
            "CAST(_sh AS INT))"))
          .otherwise(expr(s"shiftleft($dCol, CAST(-_sh AS INT))")))
      .withColumn("_r",
        when(col("_sh") > 0,
          expr(s"$dCol % shiftleft(CAST(1 AS BIGINT), " +
            "CAST(_sh AS INT))"))
          .otherwise(lit(0L)))
      .join(broadcast(tab), Seq("_m"))
      .withColumn(out,
        col("_lnm") + col("_sh") * lit(Ln2Ppm) +
          when(col("_sh") > 0,
            expr("(CAST(_r AS DECIMAL(38,0)) * 1000000) div " +
              "(CAST(_m AS DECIMAL(38,0)) * " +
              "shiftleft(CAST(1 AS BIGINT), CAST(_sh AS INT)))"))
            .otherwise(lit(0L)))
      .drop("_bl", "_sh", "_m", "_r", "_lnm")
  }

  private def commonNeighborImpl(edges: DataFrame, aCol: String,
      bCol: String, lowOf: DataFrame => DataFrame,
      withAa: Boolean = false): DataFrame = {
    val und = edges.select(col(aCol).as("a"), col(bCol).as("b"))
      .filter(col("a") =!= col("b"))
    val e = und.select(col("a"), col("b"))
      .unionByName(und.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .transform(Ckpt.cut)
    val deg = e.groupBy(col("a").as("x")).agg(count(lit(1)).as("d"))
    val low = lowOf(deg).transform(Ckpt.cut)
    val eLow = e
      .join(low.select(col("x").as("a")), Seq("a"), "left_semi")
      .join(low.select(col("x").as("b")), Seq("b"), "left_semi")
    // each 2-path u-w-v also carries the midpoint degree, so the
    // aggregate emits the resource-allocation index (Zhou-Lü-Zhang
    // 2009: Σ_w 1/deg(w)) alongside cn — in exact integer ppm
    // (1e6 div deg), the cheap-midpoints-count-more refinement that
    // outranks raw CN empirically, with zero extra shuffles (deg
    // rides the path row)
    // midpoint frame for the path join: degree always rides the
    // row; the Adamic-Adar variant additionally carries the
    // fixed-point ln of that degree (midpoints touch both u and v,
    // so deg ≥ 2 and ln is never 0 — the filter is part of the
    // operator contract and mirrored in the oracle)
    val mid =
      if (withAa)
        withLnPpm(low.filter(col("d") >= 2), "d", "lnw")
          .select(col("x").as("w"), col("d").as("dw"), col("lnw"))
      else low.select(col("x").as("w"), col("d").as("dw"))
    val paths = eLow.select(col("a").as("u"), col("b").as("w"))
      .join(eLow.select(col("a").as("w"), col("b").as("v")), Seq("w"))
      .filter(col("u") < col("v"))
      .join(mid, Seq("w"))
    val aggs =
      Seq(count(lit(1)).as("cn"),
        sum(expr("1000000L div dw")).as("ra_ppm")) ++
      (if (withAa)
        Seq(sum(expr("1000000000000 div lnw")).as("aa_ppm"))
      else Nil)
    val cn = paths.groupBy(col("u"), col("v"))
      .agg(aggs.head, aggs.tail: _*)
      .join(e.select(col("a").as("u"), col("b").as("v")),
        Seq("u", "v"), "left_anti")
    val outCols =
      Seq(col("u"), col("v"), col("cn"), col("ra_ppm")) ++
      (if (withAa) Seq(col("aa_ppm")) else Nil) ++
      Seq(col("pa_u_deg"), col("pa_v_deg"))
    cn.join(low.select(col("x").as("u"), col("d").as("pa_u_deg")),
        Seq("u"))
      .join(low.select(col("x").as("v"), col("d").as("pa_v_deg")),
        Seq("v"))
      .select(outCols: _*)
  }

  /** TEMPORAL earliest-arrival reachability — single-source shortest
    * "arrival time" over a temporal edge set (contact sequences:
    * each row is one edge INSTANCE (src, dst, t) that can be
    * traversed only at its own time): arr(v) = min over instances
    * (u, v, t) with t ≥ arr(u) of t, arr(source) = 0. The
    * time-respecting analogue of [[bfsHops]] — "who could the
    * information have reached, and when" (Holme & Saramäki's
    * temporal-network reachability; non-strict ≥, so simultaneous
    * hops chain).
    *
    * Earliest-arrival needs no revisits (an earlier arrival at u
    * admits a superset of u's outgoing instances), so arrivals are
    * monotone and the synchronous relaxation converges within
    * |V| − 1 rounds; practically within the temporal diameter. The
    * operator runs UP TO `rounds` relaxations and returns the
    * previous round alongside, as a FIXPOINT WITNESS: semantics are
    * exact reachability iff every row has at = at_prev (callers hash
    * the witness — the q182/q210 loud-sentinel pattern); otherwise
    * the result is "arrival within ≤ rounds hops", stated, never
    * silent.
    *
    * Scale shape — FRONTIER-RESTRICTED (r11): each round joins the
    * instance frame against only the arrivals that IMPROVED last
    * round (new vertex, or an earlier time), not the whole arrival
    * map — identical per-round arrivals (an unchanged vertex's
    * relaxations were all emitted the round after it last improved;
    * re-emitting them into a MIN changes nothing) at instance-join
    * cost proportional to the ACTIVE frontier, which after the
    * expansion waves pass is a tiny fraction of the reached set.
    * The frontier diff rides the round's own aggregate (the previous
    * arrival is a second min column), so a round is one cut. An
    * empty frontier is a proven fixpoint, so remaining rounds are
    * skipped — the output (witness included) is identical to
    * running them, each would be a no-op. Nothing all-pairs, nothing
    * driver-sized.
    *
    * @param tCol integer time column (epoch micros by convention —
    *             exact, hash-safe)
    * @return (id, at, at_prev) for every vertex reached within
    *         `rounds` hops; at_prev null only if first reached in
    *         the final round (⇒ not yet at fixpoint) */
  def earliestArrival(edges: DataFrame, srcCol: String,
      dstCol: String, tCol: String, sourceId: Long,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(tCol).as("t"))
      .filter(col("src") =!= col("dst"))
      .transform(Ckpt.cut)
    // every arrival carries the previous round's time as at0 (null
    // when first reached), FUSED into the round aggregate as a
    // second min (only the carry row has at0 non-null) — the sccLabels
    // COLOR trick. The improved frontier is then a filter of the one
    // cut frame, its size is observed during the cut, and at0 IS the
    // fixpoint witness: no delta cut, no changed-compare join and no
    // emptiness action per round. An empty frontier leaves at = at0
    // everywhere, identical to running the remaining (no-op) rounds.
    val improved = col("at0").isNull || col("at") < col("at0")
    val source = e.sparkSession.range(1).select(lit(sourceId).as("id"),
      lit(0L).as("at"), lit(null).cast("long").as("at0"))
    Ckpt.iterate(source, rounds,
        count(when(improved, lit(1))))(Stop.Zero) { s =>
      val relaxed = e
        .join(s.df.filter(improved).select(col("id").as("src"),
          col("at")), Seq("src"))
        .filter(col("t") >= col("at"))
        .select(col("dst").as("id"), col("t").as("at"),
          lit(null).cast("long").as("at0"))
      s.df.select(col("id"), col("at"), col("at").as("at0"))
        .unionByName(relaxed)
        .groupBy(col("id"))
        .agg(min(col("at")).as("at"), min(col("at0")).as("at0"))
    }.df.select(col("id"), col("at"), col("at0").as("at_prev"))
  }

  /** FULL strongly-connected-component decomposition — the
    * trim + forward-coloring + backward-sweep scheme of the
    * distributed SCC literature (FW-BW-Trim: Fleischer et al. 2000
    * pivoting generalized to every color at once; Hong/Slota-style
    * trimming), completing the pivot-only [[sccOfPivot]]:
    *
    *  1. TRIM — peel vertices with no in-edge or no out-edge in the
    *     active subgraph (iterated: tails and sources unravel); each
    *     peeled vertex is its own singleton SCC.
    *  2. COLOR — min-label propagation FORWARD along edges to
    *     fixpoint: color(v) = min{u : u →* v} within the active
    *     subgraph. Every color class has exactly one ROOT r with
    *     color(r) = r, and color is constant on SCC(r) (a smaller
    *     ancestor of any member would be an ancestor of r too).
    *  3. SWEEP — backward BFS from ALL roots simultaneously,
    *     restricted to each root's own color class: the vertices
    *     that reach their root within its class are exactly SCC(r)
    *     for every root r at once. Settle them, drop them from the
    *     active subgraph, repeat — each outer round settles one
    *     antichain of the SCC DAG, so outer rounds ≤ its depth.
    *
    * Determinism: min-labels and set algebra only — no randomness,
    * no floats; output is partitioning-independent.
    *
    * Scale shape: every step is an equi-join / semi-join / partial
    * min-aggregate on vertex- or frontier-sized frames with
    * checkpointed lineage; nothing all-pairs, nothing driver-sized
    * (the driver sees only per-round row counts). Round counts are
    * data-bounded: trim by tail length, coloring by active diameter,
    * sweep by SCC diameter, outer by SCC-DAG depth — the same
    * latency profile as the repo's other fixpoint kernels (k-core,
    * components); at cluster scale rounds amortize over partitions.
    *
    * @param maxRounds hard cap on TOTAL inner iterations (trim +
    *        color + sweep across all outer rounds); exceeded ⇒
    *        IllegalStateException — a silent partial decomposition
    *        is never returned.
    * @return (id, scc) for every vertex incident to an edge; scc =
    *         min vertex id of the component */
  def sccLabels(edges: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 200): DataFrame = {
    var e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .transform(Ckpt.cut)
    // |v| (and every convergence probe below) is OBSERVED during the
    // checkpoint job itself (Ckpt.cutCounted, r16): the query is
    // driver-round bound — ~0.5 s of task time under 270+ driver jobs
    // at bench scale — so each probe that stops being its own action
    // is a round-trip saved every iteration.
    var (v, nV) = {
      val (c, ns) = Ckpt.cutCounted(
        e.select(col("src").as("id"))
          .unionByName(e.select(col("dst").as("id")))
          .distinct(),
        count(lit(1)))
      (c, ns.head)
    }
    val settled = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var budget = maxRounds
    def overBudget = new IllegalStateException(
      s"sccLabels exceeded $maxRounds rounds before settling")
    def spend(): Unit = {
      budget -= 1
      if (budget < 0) throw overBudget
    }
    // Active-subgraph restriction of e to the current v — both semi
    // joins reference the SAME projected frame so the planner can
    // reuse one broadcast exchange for the two probes.
    def restrict(edges0: DataFrame, vcur: DataFrame): DataFrame = {
      val va = vcur.select(col("id").as("__vid"))
      edges0
        .join(va, col("src") === col("__vid"), "left_semi")
        .join(va, col("dst") === col("__vid"), "left_semi")
        .transform(Ckpt.cut)
    }
    while (nV > 0) {
      // 1. TRIM singleton SCCs. One flagged, MATERIALIZED frame per
      // round (r16): the r15 form left each round's dropped set as a
      // lazy anti-join evaluated only in the final settled union —
      // which stacked one two-input join per trim round into the
      // final plan and measured consistently slower (driver bench
      // 6.4 → 8.0-20.9 s). The keep flag now comes from ONE
      // aggregated endpoint frame (has-out/has-in per vertex — a
      // single broadcast instead of two distinct-projection joins),
      // and keep, drop and the settled leg are cheap filters of the
      // one checkpointed flag frame; the convergence count rides the
      // checkpoint job (Ckpt.cutCounted). Hand-rolled: each round
      // also re-cuts the restricted edge frame, a second state frame.
      var trimming = true
      while (trimming && nV > 0) {
        spend()
        // endpoint flags via ONE partial-aggregable exchange (no
        // broadcast build, no join): v rows carry the membership
        // marker, e contributes has-out/has-in votes per endpoint
        val (m, nKeeps) = Ckpt.cutCounted(
          v.select(col("id"), lit(1).as("isv"),
              lit(0).as("ho"), lit(0).as("hi"))
            .unionByName(e.select(col("src").as("id"), lit(0).as("isv"),
              lit(1).as("ho"), lit(0).as("hi")))
            .unionByName(e.select(col("dst").as("id"), lit(0).as("isv"),
              lit(0).as("ho"), lit(1).as("hi")))
            .groupBy(col("id"))
            .agg(max(col("isv")).as("isv"), max(col("ho")).as("ho"),
              max(col("hi")).as("hi"))
            .filter(col("isv") === 1)
            .select(col("id"),
              (col("ho") === 1 && col("hi") === 1).as("keep")),
          count(when(col("keep"), lit(1))))
        val nKeep = nKeeps.head
        if (nKeep == nV) trimming = false
        else {
          settled += m.filter(!col("keep"))
            .select(col("id"), col("id").as("scc"))
          v = m.filter(col("keep")).select(col("id"))
          nV = nKeep
          e = restrict(e, v)
        }
      }
      if (nV > 0) {
        // 2. COLOR: forward min-label fixpoint, FRONTIER-RESTRICTED
        // (the r11 earliestArrival argument, r12'd here): each round
        // propagates only from vertices whose color IMPROVED last
        // round — an unchanged vertex's relaxations were all emitted
        // the round after it last improved, and re-emitting into a
        // MIN changes nothing — so the edge join rides the shrinking
        // frontier instead of the whole vertex set. The previous
        // color is FUSED into the round aggregate as a second
        // min(c0) column (only the carry row has c0 non-null, and
        // every active vertex has a carry row), so the improved set
        // is a filter of the round frame — no separate changed-
        // compare join, no second materialization, and the round's
        // observed count doubles as the convergence test. A null c0
        // (the initial frame) marks every vertex improved.
        val improved = col("c0").isNull || col("c") < col("c0")
        val colored = Ckpt.iterate(
            v.select(col("id"), col("id").as("c"),
              lit(null).cast("long").as("c0")),
            budget, count(when(improved, lit(1))))(Stop.Zero) { s =>
          val prop = e
            .join(s.df.filter(improved).select(col("id").as("src"),
              col("c")), Seq("src"))
            .select(col("dst").as("id"), col("c"),
              lit(null).cast("long").as("c0"))
          s.df
            .select(col("id"), col("c"), col("c").as("c0"))
            .unionByName(prop)
            .groupBy(col("id"))
            .agg(min(col("c")).as("c"), min(col("c0")).as("c0"))
        }
        if (!colored.converged) throw overBudget
        budget -= colored.rounds
        val color = colored.df.select(col("id"), col("c"))
        // 3. SWEEP: backward BFS from every root inside its class,
        // tracked on a REMAINING frame (r16): remaining = active
        // vertices not yet reached (roots excluded at init), and each
        // round joins the candidate set (e ⋈ frontier, deduped)
        // against it with a hit flag — one flagged checkpoint per
        // round replaces the old color-check join + reached anti-join
        // + separate frontier cut. The class restriction is the join
        // on (id, c) itself: remaining carries each vertex's color.
        // When the frontier dries up, remaining IS the next outer
        // round's vertex set (v ∖ reached) — already materialized,
        // already counted; no post-sweep anti-join. Hand-rolled: its
        // first round reads two filters of the color cut, and cutting
        // them as one frame would cost a job per outer round.
        var frontier = color.filter(col("id") === col("c"))
        settled += frontier.select(col("id"), col("c").as("scc"))
        var remaining = color.filter(col("id") =!= col("c"))
        var nF = -1L
        while (nF != 0L) {
          spend()
          // candidate votes meet remaining membership in ONE hash
          // aggregate (no broadcast of the candidate set, no distinct
          // pre-pass — the agg dedups): a row survives iff it is
          // still remaining; hit=1 iff some frontier predecessor
          // proposed it within its own class (the join key is (id,c):
          // remaining carries each vertex's color, so the class
          // restriction is the grouping itself)
          val cand = e
            .join(frontier.select(col("id").as("dst"), col("c")),
              Seq("dst"))
            .select(col("src").as("id"), col("c"))
          val (m, ns) = Ckpt.cutCounted(
            remaining.select(col("id"), col("c"),
                lit(1).as("rem"), lit(0).as("hit"))
              .unionByName(cand.select(col("id"), col("c"),
                lit(0).as("rem"), lit(1).as("hit")))
              .groupBy(col("id"), col("c"))
              .agg(max(col("rem")).as("rem"), max(col("hit")).as("hit"))
              .filter(col("rem") === 1)
              .select(col("id"), col("c"), col("hit")),
            count(when(col("hit") === 1, lit(1))),
            count(when(col("hit") === 0, lit(1))))
          frontier = m.filter(col("hit") === 1)
            .select(col("id"), col("c"))
          if (ns.head > 0) settled +=
            frontier.select(col("id"), col("c").as("scc"))
          remaining = m.filter(col("hit") === 0)
            .select(col("id"), col("c"))
          nF = ns.head
          nV = ns(1)
        }
        v = remaining.select(col("id"))
        if (nV > 0) e = restrict(e, v)
      }
    }
    settled.reduceOption(_ unionByName _)
      .getOrElse(e.select(col("src").as("id"),
        col("src").as("scc")).limit(0))
  }

  /** Sampled bounded-radius betweenness centrality — Brandes (2001)
    * with the two standard scale concessions: pivot SAMPLING (the
    * `pivots` smallest vertex ids stand in for all sources, the
    * Eppstein-Wang pivot trick q198's closeness shares) and a BFS
    * radius cap (`maxHops`), i.e. k-bounded betweenness. The forward
    * pass runs the |pivots| simultaneous level-synchronous BFS with
    * exact shortest-PATH COUNTS σ (a per-level anti-join against the
    * visited set plus a groupBy-sum of predecessor σ); the backward
    * pass walks levels deepest-first accumulating the dependency
    *
    *   δ(u) = Σ_{v ∈ succ(u)} (σ_u · (10⁶ + δ(v))) div σ_v
    *
    * — each per-edge term is one integer multiply/divide (ppm
    * scale), so the sum is associativity-free and engine-exact; the
    * oracle unrolls the identical level chain. Betweenness(v) =
    * Σ over pivots and levels ≥ 1 of δ(v) (roots excluded, per
    * Brandes).
    *
    * Scale shape: every frame is (pivot × frontier)-sized — never
    * |V|² and never all-pairs; each level is one edge join + one
    * partial-agg groupBy forward, one edge join + one groupBy
    * backward, all checkpointed so lineage stays flat. Overflow
    * bound: σ ≤ maxdeg^maxHops and each δ term ≤ σ_u·(10⁶ + δ_v),
    * so Long holds through maxHops 3 on degree-bounded basket
    * graphs; web-scale hubs want σ in the log domain (documented
    * not implemented).
    *
    * @return (id, bet_ppm): accumulated integer-ppm dependency for
    *         every vertex appearing in at least one backward level;
    *         unordered — callers sort */
  def sampledBetweenness(edges: DataFrame, aCol: String, bCol: String,
      pivots: Int, maxHops: Int): DataFrame = {
    require(pivots >= 1, s"pivots must be >= 1: $pivots")
    require(maxHops >= 2, s"maxHops must be >= 2: $maxHops")
    val sym = bothDirections(edges, aCol, bCol)
      .distinct()
      .filter(col("src") =!= col("dst"))
      .transform(Ckpt.cut)
    val roots = sym.select(col("src").as("id")).distinct()
      .orderBy(col("id")).limit(pivots)
    // forward: lv(h) = (root, id, sigma), exact path counts
    val lv = new Array[DataFrame](maxHops + 1)
    lv(0) = roots.select(col("id").as("root"), col("id"),
      lit(1L).as("sigma")).transform(Ckpt.cut)
    var visited = lv(0).select(col("root"), col("id"))
    for (h <- 1 to maxHops) {
      lv(h) = sym
        .join(lv(h - 1).select(col("root"), col("id").as("src"),
          col("sigma")), Seq("src"))
        .select(col("root"), col("dst").as("id"), col("sigma"))
        .join(visited, Seq("root", "id"), "left_anti")
        .groupBy(col("root"), col("id"))
        .agg(sum(col("sigma")).as("sigma"))
        .transform(Ckpt.cut)
      visited = visited
        .unionByName(lv(h).select(col("root"), col("id")))
        .transform(Ckpt.cut)
    }
    // backward: δ at the deepest level is 0; levels maxHops-1 .. 1
    // accumulate successor dependencies
    var deltaNext = lv(maxHops)
      .select(col("root"), col("id"), lit(0L).as("delta"))
    var acc: DataFrame = null
    for (h <- (maxHops - 1) to 1 by -1) {
      val succ = lv(h + 1)
        .select(col("root"), col("id").as("v"), col("sigma").as("sv"))
        .join(deltaNext.select(col("root"), col("id").as("v"),
          col("delta")), Seq("root", "v"), "left_outer")
        .na.fill(0L, Seq("delta"))
      val d = lv(h)
        .select(col("root"), col("id").as("u"), col("sigma").as("su"))
        .join(sym, col("u") === col("src"))
        .select(col("root"), col("u"), col("su"), col("dst").as("v"))
        .join(succ, Seq("root", "v"))
        .select(col("root"), col("u"),
          expr("(su * (1000000L + delta)) div sv").as("t"))
        .groupBy(col("root"), col("u"))
        .agg(sum(col("t")).as("delta"))
        .select(col("root"), col("u").as("id"), col("delta"))
        .transform(Ckpt.cut)
      acc = if (acc == null) d else acc.unionByName(d)
      deltaNext = d
    }
    acc.groupBy(col("id"))
      .agg(sum(col("delta")).as("bet_ppm"))
  }

  /** Sampled closeness centrality (Eppstein-Wang with deterministic
    * pivots): BFS distances from the `pivots` smallest vertex ids
    * ([[perSourceHops]]), folded into Wasserman-Faust normalized
    * closeness in pure integer micro-units —
    * `(k−1)²·10⁶ div (Σd·(|V|−1))` with k = pivots reached within
    * `maxHops` — so the score chain is engine-exact (q198's
    * contract, factored here for the SQL table-function surface).
    *
    * Scale shape: |pivots| simultaneous BFS frontiers (state is
    * pivot×frontier-sized, never |V|²); the per-vertex fold is one
    * groupBy; |V| rides a 1-row broadcast.
    *
    * @return (id, n_reached, sum_hops, closeness_micro) for every
    *         vertex reached by at least one pivot (the pivot itself
    *         counts via its 0-hop row); unordered — callers sort */
  def sampledCloseness(edges: DataFrame, aCol: String, bCol: String,
      pivots: Int, maxHops: Int): DataFrame = {
    require(pivots >= 1, s"pivots must be >= 1: $pivots")
    val verts = edges.select(col(aCol).as("id"))
      .unionByName(edges.select(col(bCol).as("id"))).distinct()
    val pv = verts.orderBy(col("id")).limit(pivots)
    val nv = verts.agg(count(lit(1)).as("n"))
    perSourceHops(edges, aCol, bCol, pv, "id", maxHops)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_reached"),
        sum(col("hop")).cast("long").as("sum_hops"))
      .crossJoin(broadcast(nv))
      .select(col("id"), col("n_reached"), col("sum_hops"),
        when(col("sum_hops") === 0, lit(0L)).otherwise(
          expr("((n_reached - 1) * (n_reached - 1) * 1000000)" +
            " div (sum_hops * (n - 1))")).as("closeness_micro"))
  }

  /** Newman modularity of a community assignment, per community:
    *
    *   Q_c = in_c/(2m) − (deg_c/(2m))²,  Q = Σ_c Q_c
    *
    * where in_c counts DIRECTED intra-community edge rows (each
    * undirected edge twice), deg_c sums member degrees, and 2m is
    * the directed edge-row count — the standard quality score for
    * [[labelPropagation]]'s output (is the partition denser inside
    * communities than a random graph with the same degrees?).
    *
    * Determinism: in_c, deg_c, 2m are exact integers; each Q_c is
    * two divisions + one multiply + one subtract on those integers
    * (IEEE-exact given identical inputs), [[graft.queries.Q.r6]]-
    * snapped so a downstream decimal Σ is engine-stable.
    *
    * Scale shape: one symmetric-distinct edge build, two joins of
    * the edge frame against the VERTEX-sized label frame (broadcast
    * when labels fit, shuffle otherwise — left to AQE), then
    * community-cardinality aggregates; the scalar 2m rides a 1-row
    * broadcast. Nothing is all-pairs.
    *
    * @param labels (id, label) — one row per vertex
    * @return (label, n_members, in_edges, deg_sum, q_contrib)
    *         ordered by nothing (caller sorts) */
  def modularity(edges: DataFrame, aCol: String, bCol: String,
      labels: DataFrame): DataFrame = {
    val e = bothDirections(edges, aCol, bCol)
      .distinct()
      .filter(col("src") =!= col("dst"))
    val lab = labels.select(col("id"), col("label"))
    val el = e
      .join(lab.select(col("id").as("src"), col("label").as("lsrc")),
        Seq("src"))
      .join(lab.select(col("id").as("dst"), col("label").as("ldst")),
        Seq("dst"))
      .transform(Ckpt.cut)
    val m2 = el.agg(count(lit(1)).as("m2"))
    val mem = lab.groupBy(col("label"))
      .agg(count(lit(1)).as("n_members"))
    val inc = el.filter(col("lsrc") === col("ldst"))
      .groupBy(col("lsrc").as("label"))
      .agg(count(lit(1)).as("in_edges"))
    val degc = el.groupBy(col("lsrc").as("label"))
      .agg(count(lit(1)).as("deg_sum"))
    mem
      .join(inc, Seq("label"), "left_outer")
      .join(degc, Seq("label"), "left_outer")
      .na.fill(0L, Seq("in_edges", "deg_sum"))
      .crossJoin(broadcast(m2))
      .select(col("label"), col("n_members"), col("in_edges"),
        col("deg_sum"),
        graft.queries.Q.r6(
          col("in_edges").cast("double") / col("m2").cast("double") -
            (col("deg_sum").cast("double") / col("m2").cast("double")) *
            (col("deg_sum").cast("double") / col("m2").cast("double")))
          .as("q_contrib"))
  }
}
