package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Graph

/** Dev tool (not library surface): q182/q183 measured unbounded at
  * parametric graph size — the oracle fixture is the bounded basket
  * graph, so ITERATIVE graph scaling (shrinking peel rounds, per-round
  * constant plan depth) needs its own probe, like LinkageScale for
  * blocking and MediaScale for decode.
  *
  * Generator holds DENSITY constant as n grows: 3n undirected edge
  * slots over n vertices (avg degree ≈ 6 after dedup/self-loop
  * removal, Poisson-ish), endpoints md5-avalanched — so per-round
  * peel fractions and community structure stay comparable across
  * decades and wall growth isolates the ENGINE's scaling.
  *
  * Usage: Test/runMain graft.GraphScale [n] [reps] [ops-csv]
  * (ops-csv ⊆ kcore,lpa,walks,scc,temporal,linkpred,adamic; default all)
  * Prints one JSON line per rep per operator plus summary minima.
  */
object GraphScale {

  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toInt).getOrElse(100000)
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val ops = args.lift(2).map(_.split(",").map(_.trim).toSet)
      .getOrElse(Set("kcore", "lpa", "walks", "scc", "temporal",
        "linkpred", "adamic"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def edges(m: Long) = spark.range(3L * m).selectExpr(
      s"id % $m AS a",
      s"CAST(conv(substring(md5(CAST(id AS STRING)), 1, 12), 16, 10)" +
        s" AS BIGINT) % $m AS b")
      .filter(col("a") =!= col("b"))

    def kcoreRun(m: Long): (Long, Int) = {
      // k=4: the 4-core of an avg-degree-6 Poisson graph is large
      // (the 5-core sits just past the ER emergence threshold and
      // peels to empty — a degenerate probe)
      val (core, rounds) = Graph.kCoreWithRounds(edges(m), "a", "b",
        k = 4, maxRounds = 60)
      (core.count(), rounds)
    }
    def lpaRun(m: Long): Long =
      Graph.labelPropagation(edges(m), "a", "b", rounds = 3)
        .select(col("label")).distinct().count()
    // walk cost must be frontier-sized (starts·walks), not
    // vertex-sized: fixed 10k starts per decade, 2 walks × 5 steps —
    // constant output rows, so wall growth isolates the per-step
    // join cost against the growing deg/adj tables
    def walkRun(m: Long): Long = {
      val starts = spark.range(10000L)
        .selectExpr(s"(id * 7919) % $m AS start")
      Graph.randomWalks(edges(m), "a", "b", starts,
        walksPerNode = 2, steps = 5).count()
    }

    // temporal reachability: the generated edges as directed contact
    // sequences — 8 md5-phased instances per edge slot (REPEATED
    // contacts: with one uniform time per edge, time-increasing
    // paths die after ~2 hops — 3·2^-k usable out-degree — and the
    // probe degenerates to a 36-vertex cascade; with 8 phases the
    // usable out-degree at arrival τ is ~24·(1−τ/T), which sustains
    // a deep expansion, the contact-network regime q215 models).
    // Probes q215's earliestArrival with its 16-round budget; the
    // instance frame is 24·m rows (structural degree 3 × 8 phases)
    // — pass m = instances/24 when targeting an instance-frame
    // size. The r11 frontier restriction is what this ladder proves
    // out: per-round instance-join cost rides the improving
    // frontier (and an empty frontier ends the run early). `extra`
    // reports rows still moving at the budget (0 = exact fixpoint
    // witness).
    def temporalRun(m: Long): (Long, Long) = {
      val slots = spark.range(3L * m).selectExpr(
        s"id % $m AS a",
        s"CAST(conv(substring(md5(CAST(id AS STRING)), 1, 12), 16," +
          s" 10) AS BIGINT) % $m AS b",
        s"CAST(conv(substring(md5(CAST(id AS STRING)), 13, 8), 16," +
          s" 10) AS BIGINT) % 1000000 AS t0")
        .filter(col("a") =!= col("b"))
      val inst = slots.select(col("a"), col("b"),
        explode(expr(
          "transform(sequence(0, 7), k -> (t0 + k * 125000) % 1000000)"))
          .as("t"))
      val arr = Graph.earliestArrival(inst, "a", "b", "t",
        sourceId = 0L, rounds = 16)
      val tot = arr.count()
      val moving = arr.filter(col("at_prev").isNull ||
        col("at") =!= col("at_prev")).count()
      (tot, moving)
    }

    // link prediction (q220/q223): the capped 2-hop expansion over
    // the constant-density graph — Σ_w deg(w)² with E[d²] constant
    // per decade, so wall must grow ~linearly in n. The adaptive
    // p99-derived cap is what this ladder proves out: the cap is
    // computed from the decade's own degree histogram, so the
    // exponent is a property of the PLAN, not of a hand-picked
    // constant that happens to exceed the fixture's max degree.
    // out = candidate pairs, extra = Σ ra_ppm (exactness witness).
    def linkpredRun(m: Long): (Long, Long) = {
      val r = Graph.commonNeighborCandidatesAdaptive(
          edges(m), "a", "b")
        .agg(count(lit(1)).as("c"),
          coalesce(sum(col("ra_ppm")), lit(0L)).as("s"))
        .head()
      (r.getLong(0), r.getLong(1))
    }

    // Adamic-Adar variant of the same ladder: same expansion + one
    // broadcast join against the 512-row ln mantissa table — wall
    // within noise of linkpred IS the "zero extra shuffles" claim,
    // measured. extra = Σ aa_ppm (exactness witness).
    def adamicRun(m: Long): (Long, Long) = {
      val r = Graph.adamicAdarCandidates(edges(m), "a", "b")
        .agg(count(lit(1)).as("c"),
          coalesce(sum(col("aa_ppm")), lit(0L)).as("s"))
        .head()
      (r.getLong(0), r.getLong(1))
    }

    // scc treats the SAME generated edges as DIRECTED: avg
    // out-degree 3 puts the digraph well past the giant-SCC
    // threshold, so every decade has one large component, a
    // singleton sea for trim, and a shallow residual SCC DAG —
    // the round profile (trim depth, coloring diameter) stays
    // comparable across decades
    def sccRun(m: Long): (Long, Long) = {
      val l = Graph.sccLabels(edges(m), "a", "b", maxRounds = 500)
      val giant = l.groupBy(col("scc")).count()
        .agg(max(col("count"))).head().getLong(0)
      (l.select(col("scc")).distinct().count(), giant)
    }

    // warmup compiles the identical generated code at 1/10 size
    if (ops("kcore")) kcoreRun(math.max(n / 10L, 1000L))
    if (ops("lpa")) lpaRun(math.max(n / 10L, 1000L))
    if (ops("walks")) walkRun(math.max(n / 10L, 1000L))
    if (ops("scc")) sccRun(math.max(n / 10L, 1000L))
    if (ops("temporal")) temporalRun(math.max(n / 10L, 1000L))
    if (ops("linkpred")) linkpredRun(math.max(n / 10L, 1000L))
    if (ops("adamic")) adamicRun(math.max(n / 10L, 1000L))

    def timed(tag: String, run: () => (Long, Long)): Double = {
      val times = (1 to reps).map { r =>
        val t0 = System.nanoTime()
        val (out, extra) = run()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"""{"metric":"$tag","rep":$r,"n":$n,"out":$out,""" +
          f""""extra":$extra,"value":$dt%.4f,"unit":"sec"}""")
        dt
      }
      times.min
    }
    val kc = if (ops("kcore")) timed("kcore_e2e", () => {
      val (c, r) = kcoreRun(n.toLong); (c, r.toLong)
    }) else -1d
    val lp = if (ops("lpa")) timed("lpa_e2e",
      () => (lpaRun(n.toLong), 0L)) else -1d
    val wk = if (ops("walks")) timed("walks_e2e",
      () => (walkRun(n.toLong), 0L)) else -1d
    val sc = if (ops("scc")) timed("scc_e2e",
      () => sccRun(n.toLong)) else -1d
    val tp = if (ops("temporal")) timed("temporal_e2e",
      () => temporalRun(n.toLong)) else -1d
    val lk = if (ops("linkpred")) timed("linkpred_e2e",
      () => linkpredRun(n.toLong)) else -1d
    val aa = if (ops("adamic")) timed("adamic_e2e",
      () => adamicRun(n.toLong)) else -1d
    println(f"""{"metric":"graph_scale_min","n":$n,""" +
      f""""kcore_sec":$kc%.4f,"lpa_sec":$lp%.4f,""" +
      f""""walks_sec":$wk%.4f,"scc_sec":$sc%.4f,""" +
      f""""temporal_sec":$tp%.4f,"linkpred_sec":$lk%.4f,""" +
      f""""adamic_sec":$aa%.4f,""" +
      f""""unit":"sec"}""")
    spark.stop()
  }
}
