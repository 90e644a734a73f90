package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected pair graph by iterative
  * min-label propagation — the transitive-closure upgrade to
  * [[Curate]]'s greedy pairwise near-dup policy: chains A≈B≈C with
  * A≉C land in ONE cluster, so dedup keeps exactly one doc per
  * cluster instead of over-/under-dropping by id order.
  *
  * Algorithm: every node starts labeled with its own id; each round
  * every node takes the min label among itself and its neighbors;
  * fixpoint = each component uniformly labeled with its min node id.
  * Rounds needed = graph diameter, and near-dup graphs are shallow
  * (long chains of pairwise-similar-but-transitively-different docs
  * are rare), so convergence is a handful of rounds.
  *
  * Scale shape: one round = one shuffle of |nodes| + |edges| rows
  * (groupBy id) — no per-node state on the driver, no adjacency
  * materialization. Each round's result is eagerly materialized
  * ([[Ckpt.cut]] — localCheckpoint by default, reliable checkpoint
  * under `spark.graft.checkpoint.dir` so a 100 TB run survives
  * executor loss): the loop would otherwise stack lineage into
  * an exponentially re-evaluated plan. The alternating
  * large-star/small-star algorithm (Kiveris et al., "Connected
  * Components in MapReduce and Beyond") converges in O(log²) rounds
  * on adversarially deep graphs — the documented upgrade if cluster
  * diameters ever grow past tens of hops.
  */
object Components {

  /** Kernel selector for callers ([[Curate]]) that expose the choice:
    * MinLabel = diameter-round label propagation (cheapest per round;
    * right for shallow near-dup graphs), Star = alternating
    * large-star/small-star (O(log²) rounds, no degree contract;
    * right for deep chains and hub-dominated graphs). */
  sealed trait Kernel
  object Kernel {
    case object MinLabel extends Kernel
    case object Star extends Kernel
  }

  /** Dispatch by [[Kernel]]; both kernels share the exact contract
    * (id → min reachable vertex id, singletons for isolated nodes,
    * throw on non-convergence). */
  def components(nodes: DataFrame, idCol: String,
      edges: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 20, kernel: Kernel = Kernel.MinLabel): DataFrame =
    kernel match {
      case Kernel.MinLabel =>
        connectedComponents(nodes, idCol, edges, aCol, bCol, maxIters)
      case Kernel.Star =>
        connectedComponentsStar(nodes, idCol, edges, aCol, bCol, maxIters)
    }

  /** @param nodes    frame containing every vertex (isolated vertices
    *                 become singleton components)
    * @param idCol    vertex id column in `nodes`
    * @param edges    undirected edges as (aCol, bCol) pairs
    * @param maxIters hard round bound (diameter cap); propagation
    *                 stops early at fixpoint and THROWS if the bound
    *                 is hit before convergence — a silently
    *                 part-propagated labeling is a wrong answer, not
    *                 a degraded one
    * @return (id, component) — component = min vertex id reachable
    */
  def connectedComponents(nodes: DataFrame, idCol: String,
      edges: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 20): DataFrame = {
    val sym = edges
      .select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .transform(Ckpt.cut)
    // Per-node labels only ever DECREASE, so the label sum strictly
    // decreases until fixpoint — an unchanged sum IS convergence.
    // The sum is OBSERVED during each round's checkpoint job
    // (Ckpt.iterate) instead of being a second aggregate action;
    // decimal(38,0) so huge id spaces can't overflow-collide.
    val own = nodes.select(col(idCol).as("id")).distinct()
      .withColumn("component", col("id"))
    val fp = Ckpt.iterate(own, maxIters,
        sum(col("component").cast("decimal(38,0)")))(
        Ckpt.Stop.Unchanged) { s =>
      val labels = s.df
      val viaNeighbor = sym.join(labels, sym("dst") === labels("id"))
        .select(col("src").as("id"), col("component"))
      labels.unionByName(viaNeighbor)
        .groupBy(col("id"))
        .agg(min(col("component")).as("component"))
    }
    if (!fp.converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIters rounds " +
          "— the graph's diameter exceeds the bound; raise maxIters " +
          "(or switch to connectedComponentsStar, O(log²) rounds on " +
          "adversarially deep graphs)")
    fp.df
  }

  /** Alternating large-star/small-star connected components (Kiveris
    * et al., "Connected Components in MapReduce and Beyond") — the
    * skew/diameter upgrade to [[connectedComponents]]. Min-label
    * propagation needs DIAMETER rounds and re-ships every hot
    * label through every round's shuffle; the star algorithm
    * rewrites the EDGE SET itself toward a star forest and
    * converges in O(log² n) rounds on any graph, including the two
    * adversarial shapes a 100 TB dedup graph actually produces:
    * long chains (template docs each pairwise-similar to the next
    * revision) and million-degree hubs (boilerplate shingles).
    *
    *   - large-star(u): m = min(N(u) ∪ {u}); every STRICTLY LARGER
    *     neighbor v > u re-attaches as (v, m). Tall trees flatten
    *     toward the minimum without ever growing a node's degree
    *     beyond what it had.
    *   - small-star(u): orient edges so u = max endpoint; m =
    *     min(N(u) ∪ {u}); every smaller neighbor and u itself
    *     re-attach to m. Wide stars centered on a non-minimum hub
    *     re-root onto the true minimum.
    *
    * Both phases are expressible as ONE groupBy(min) + ONE equi-join
    * per phase — no adjacency arrays, so a hub's neighborhood never
    * materializes on one executor (contrast the collect_set in
    * [[PageRank.integerRanks]], which documents a bounded-degree
    * contract; this operator has NO degree contract).
    *
    * Fixpoint = the edge set is stable (each phase only rewrites
    * endpoints downward, so the decimal-sum of all endpoint labels
    * is non-increasing; equal count AND equal sum across a full
    * round is convergence — same one-aggregate trick as the
    * min-label kernel, no extra join).
    *
    * Same contract as [[connectedComponents]]: returns
    * (id, component = min reachable vertex id), isolated vertices
    * are singletons, THROWS if not converged within `maxIters`
    * full rounds.
    */
  def connectedComponentsStar(nodes: DataFrame, idCol: String,
      edges: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 20): DataFrame = {
    // (count, Σ endpoints) as the fixpoint signature: both phases
    // only move endpoints DOWN, so an unchanged (count, sum) pair
    // means no edge moved — deterministic, observed during each
    // round's checkpoint job (Ckpt.iterate), no extra action, no
    // join. A zero count is the edge-free graph: already done.
    // large-star: symmetrize so every node sees its full
    // neighborhood; m(u) = min over N(u) ∪ {u}; emit (v, m(u)) for
    // v > u. Self-loops (v == m) drop; duplicates collapse in the
    // distinct that also bounds the frame between rounds.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      sym.filter(col("v") > col("u"))
        .join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    // small-star: orient each edge large→small; m(u) = min of the
    // smaller-neighbor set; re-attach every non-min neighbor AND u.
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(
        greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val mins = oriented.groupBy(col("u")).agg(min(col("v")).as("m"))
      oriented.join(mins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(mins.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    val pairs = edges
      .select(col(aCol).as("u"), col(bCol).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val fp = Ckpt.iterate(pairs, maxIters, count(lit(1)),
        sum(col("u").cast("decimal(38,0)") +
          col("v").cast("decimal(38,0)")))(
        Ckpt.Stop.Zero || Ckpt.Stop.Unchanged)(
        s => smallStar(largeStar(s.df)))
    if (!fp.converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge within $maxIters " +
          "full rounds — raise maxIters (bound is O(log² n), so this " +
          "indicates a pathological id space, not a deep graph)")
    // Fixpoint edge set is a star forest (u, root); label roots with
    // themselves, everything else with its root, isolated nodes with
    // their own id. The min() collapse is defensive: at fixpoint
    // each u has exactly one root, so the groupBy is a cheap
    // near-no-op exchange.
    nodes.select(col(idCol).as("id")).distinct()
      .join(fp.df.select(col("u").as("id"), col("v").as("root")),
        Seq("id"), "left")
      .groupBy(col("id"))
      .agg(min(coalesce(col("root"), col("id"))).as("component"))
  }
}
