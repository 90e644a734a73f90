package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Lineage cut for iterative kernels (k-core, SCC, PageRank/HITS,
  * connected components, label propagation, BFS/shortest paths, BPE
  * training): every fixpoint loop in this engine materializes its
  * per-round frame so plan depth stays O(1) instead of stacking one
  * join per round into an exponential optimizer input.
  *
  * Two materialization modes, selected by the runtime conf
  * `spark.graft.checkpoint.dir`:
  *
  *  - UNSET (default): `localCheckpoint(eager = true)` — blocks are
  *    computed once and pinned to the executors that produced them.
  *    Zero I/O beyond the block manager, the right trade on
  *    `local[n]` and for short jobs. The cost is fault tolerance:
  *    lineage is SEVERED, so on a real cluster a single executor
  *    loss makes the pinned blocks unrecoverable and kills the job —
  *    a multi-hour 100 TB iterative run cannot accept that.
  *  - SET to a directory (HDFS/S3/DBFS path on a cluster): reliable
  *    `checkpoint(eager = true)` — each cut writes the frame to the
  *    checkpoint filesystem and re-reads it, so an executor loss
  *    recomputes nothing and loses nothing; the job survives any
  *    number of task/executor failures at the price of one
  *    write+read of the round frame per cut. Round frames in these
  *    kernels are vertex- or frontier-sized (never edge-quadratic),
  *    so the per-round I/O is the small side of the round's own
  *    shuffle work.
  *
  * The two modes are output-identical (both evaluate the same frame
  * eagerly; only the storage of the result differs) — `CkptSpec`
  * pins output equality across modes on components, k-core, the
  * three BFS entry points and `Curate.curate`.
  *
  * The Spark context's checkpoint dir is set lazily from the conf on
  * first use; a conf change after the first cut in a session keeps
  * the session's original directory (Spark appends a per-context
  * UUID subdir, so comparing paths is not meaningful).
  *
  * STORAGE HYGIENE (reliable mode): Spark never deletes reliable
  * checkpoint files on its own — each `checkpoint(eager = true)`
  * leaves its directory behind, so a multi-hour iterative run (the
  * exact workload this knob exists for) grows the checkpoint
  * filesystem by one round-frame per cut until it fills. Launch the
  * application with `spark.cleaner.referenceTracking.cleanCheckpoints
  * =true` (a SparkConf/START-TIME setting — the ContextCleaner reads
  * it once at SparkContext construction, so setting it at runtime
  * here would be a silent no-op): then each checkpointed RDD's files
  * are garbage-collected as soon as the RDD itself is unreferenced,
  * which for these kernels is one round later — the checkpoint dir
  * holds O(1) round frames instead of O(rounds). `ProbeCkptFault`
  * launches with this conf and asserts the dir does not accumulate.
  *
  * ONE PATH: every lineage cut in `src/main` goes through [[cut]] (or
  * [[cutObserved]]/[[cutCounted]]/[[iterate]], which call it), so the
  * reliable mode covers every materialization the engine makes;
  * `CheckpointPathSpec` fails on a raw `localCheckpoint`/`checkpoint`
  * call anywhere else. Loops whose state is one cut frame run on
  * [[iterate]] — it owns the initial cut, the round cap, each round's
  * cut with its observed metrics, and the stop test; a loop that
  * stays hand-rolled says why in a comment.
  */
object Ckpt {
  /** Runtime conf key: when set, iterative kernels use reliable
    * checkpointing into this directory instead of localCheckpoint. */
  val DirKey = "spark.graft.checkpoint.dir"

  /** Materialize `df` eagerly and cut its lineage, in the mode the
    * session's `spark.graft.checkpoint.dir` selects. Use as
    * `frame.transform(Ckpt.cut)` or `Ckpt.cut(frame)`. */
  def cut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(DirKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        df.checkpoint(eager = true)
      case None => df.localCheckpoint(eager = true)
    }
  }

  /** A fixpoint loop after `rounds` steps: the last cut frame, the
    * metrics observed while cutting it, and whether the stop test
    * fired (false while the loop runs and when it hit its cap). */
  final case class Fixpoint(df: DataFrame, rounds: Int,
      metrics: Seq[Any], converged: Boolean)

  /** Stop test of [[iterate]], applied to every cut (the initial one
    * included): the previous cut's metrics (None for the initial
    * cut) and this cut's. Metric values compare numerically, with a
    * null aggregate (zero rows) read as 0 and decimals compared by
    * value, so signatures past int64 stay exact. */
  trait Stop { self =>
    def apply(prev: Option[Seq[Any]], cur: Seq[Any]): Boolean
    def ||(other: Stop): Stop = (p, c) => self(p, c) || other(p, c)
  }

  object Stop {
    /** Run every round up to the cap. */
    val Never: Stop = (_, _) => false
    /** The first metric is zero: a drained frontier or peel set.
      * Holds on the initial cut too, so an empty start runs no step. */
    val Zero: Stop = (_, cur) => num(cur.head).signum == 0
    /** Every metric equals the previous cut's: a monotone kernel's
      * signature stopped moving. Never holds on the initial cut. */
    val Unchanged: Stop = (prev, cur) => prev.exists(
      _.corresponds(cur)((a, b) => num(a).compareTo(num(b)) == 0))
  }

  private def num(v: Any): java.math.BigDecimal = v match {
    case null => java.math.BigDecimal.ZERO
    case d: java.math.BigDecimal => d
    case n: java.lang.Number => new java.math.BigDecimal(n.toString)
  }

  /** The fixpoint loop every iterative kernel runs: cut `init`, then
    * while fewer than `maxRounds` steps ran and `stop` has not held,
    * cut `step(state)` as the next state. Each cut observes `metrics`
    * during its own materialization job ([[cutObserved]]), so the
    * convergence probe costs no extra driver action. The step reads
    * the previous state (round number `rounds + 1`, its frame and
    * metrics); a step that needs earlier frames keeps them itself.
    * Neither logs nor throws on hitting the cap: callers read
    * `converged` and warn, throw or report the rounds. */
  def iterate(init: DataFrame, maxRounds: Int, metrics: Column*)(
      stop: Stop)(step: Fixpoint => DataFrame): Fixpoint = {
    def cutRound(df: DataFrame, rounds: Int,
        prev: Option[Seq[Any]]): Fixpoint = {
      val (c, got) =
        if (metrics.isEmpty) (cut(df), Nil)
        else cutObserved(df, metrics: _*)
      Fixpoint(c, rounds, got, stop(prev, got))
    }
    var s = cutRound(init, 0, None)
    while (s.rounds < maxRounds && !s.converged)
      s = cutRound(step(s), s.rounds + 1, Some(s.metrics))
    s
  }

  private val obsId = new java.util.concurrent.atomic.AtomicLong()

  /** [[cut]] plus scalar metrics observed DURING the materialization
    * job (`Dataset.observe` / CollectMetrics) — the fixpoint kernels'
    * per-round convergence probe ("how many rows / how many changed")
    * rides the checkpoint action instead of being a second driver
    * round-trip over the checkpointed frame. At bench scale the
    * iterative graph family is DRIVER-ROUND bound (r16 probe: q213 =
    * 276 jobs × ~45 ms with 0.5 s of actual task time), so halving
    * the probe jobs is a direct wall-clock cut; at cluster scale it
    * removes one scheduler round-trip per iteration.
    *
    * Metrics must be Long-valued total aggregates (`count`, `sum`
    * over integral columns); a null result (e.g. `sum` over an empty
    * frame) reads as 0, and any other value type (an `avg`'s Double)
    * fails naming the metric's index.
    *
    * @return the cut frame plus one Long per metric, in order */
  def cutCounted(df: DataFrame, metrics: Column*): (DataFrame, Seq[Long]) = {
    val (cutDf, got) = cutObserved(df, metrics: _*)
    (cutDf, got.zipWithIndex.map {
      case (null, _) => 0L
      case (n @ (_: java.lang.Long | _: java.lang.Integer |
          _: java.lang.Short | _: java.lang.Byte), _) =>
        n.asInstanceOf[Number].longValue()
      case (d: java.math.BigDecimal, _) => d.longValueExact()
      case (other, i) => throw new IllegalArgumentException(
        s"Ckpt.cutCounted: metric $i must be a Long-valued aggregate, " +
          s"got ${other.getClass.getName} ($other)")
    })
  }

  /** [[cutCounted]] with the raw observed values (null for an
    * aggregate over zero rows, java.math.BigDecimal for decimal
    * sums) — for fixpoint signatures that must stay exact past
    * int64 (the connected-components label sums). */
  def cutObserved(df: DataFrame, metrics: Column*): (DataFrame, Seq[Any]) = {
    val obs = new org.apache.spark.sql.Observation(
      s"graft_cut_${obsId.incrementAndGet()}")
    val named = metrics.zipWithIndex.map { case (m, i) => m.as(s"m$i") }
    val cutDf = cut(df.observe(obs, named.head, named.tail: _*))
    val got = obs.get
    (cutDf, metrics.indices.map(i => got(s"m$i")))
  }
}
