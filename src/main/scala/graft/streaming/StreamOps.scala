package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row,
  SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import java.sql.Timestamp

import graft.operators.Ckpt

/** Structured Streaming surface (SURVEY.md §2.B G12): the streaming
  * twins of the batch window/sessionize/dedup operators, plus the
  * scheduled-micro-batch ingest pattern that mirrors the reference's
  * `InvocationType.Schedule` loop (task.ts:121-122,147) — each
  * trigger processes one snapshot, exactly like one Lambda run.
  *
  * All aggregations here are watermark-bounded so state is evicted
  * and the queries run forever at 100 TB/day: no unbounded state,
  * no driver-side collection. Use `Trigger.AvailableNow()` for the
  * reference's batch-like semantics or `Trigger.ProcessingTime` for
  * a standing stream.
  */
object StreamOps {

  /** File-drop JSON source with declared schema — the streaming
    * ingest boundary for HTTP-fetched snapshots (a fetcher drops
    * each response into `dir`; S1/E1 parity without a custom
    * source). */
  def readJsonStream(spark: SparkSession, dir: String,
      schema: StructType): DataFrame =
    spark.readStream.schema(schema).json(dir)

  /** Tumbling event-time counts with watermark-driven late-data
    * drop: the streaming twin of q35. */
  def tumblingAgg(events: DataFrame, tsCol: String, keyCol: String,
      windowLen: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(col("value")).as("sum_value"))

  /** Sliding event-time windows (twin of q36). */
  def slidingAgg(events: DataFrame, tsCol: String, windowLen: String,
      slide: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen, slide))
      .agg(count(lit(1)).as("n"))

  /** Built-in session windows with gap timeout (twin of q37). */
  def sessionAgg(events: DataFrame, tsCol: String, keyCol: String,
      gap: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))

  /** Streaming keyed dedup bounded by watermark — state for a key is
    * dropped once the watermark passes it (twin of q38; the
    * scalable form of the reference's per-batch `ids` Map,
    * task.ts:191). */
  def dedupWithinWatermark(events: DataFrame, tsCol: String,
      watermark: String, keys: Seq[String]): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-stream interval join: each left event joined to right
    * events of the same key within `[l.ts - window, l.ts]`. Both
    * sides watermarked so join state is bounded and evicted — the
    * only join shape that runs forever on two infinite inputs.
    *
    * `joinType` extends the shape to the outer forms ("left_outer",
    * "right_outer", "full_outer"): an unmatched outer-side row is
    * BUFFERED until the global watermark (the min across both
    * inputs) proves no match can still arrive inside its interval,
    * then emitted null-padded and dropped from state — so outer
    * results are late by up to watermark+window by design, and the
    * state store holds only the undecided horizon (asserted via
    * `numRowsRemoved` in StreamJoinSpec). */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      tsCol: String, watermark: String, window: String,
      joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(tsCol, watermark).alias("l")
    val r = right.withWatermark(tsCol, watermark).alias("r")
    l.join(r,
      expr(s"l.$key = r.$key AND " +
        s"l.$tsCol >= r.$tsCol AND " +
        s"l.$tsCol <= r.$tsCol + interval $window"),
      joinType)
  }

  /** Stream-static enrichment join: every micro-batch joins against
    * a static dimension table — the streaming twin of the q12
    * broadcast star (and of the reference's P4 dictionary decode
    * done relationally). Stateless: nothing is buffered across
    * batches, and the broadcast hint keeps the stream side
    * shuffle-free at any rate. The static side is re-planned per
    * batch, so a dimension refresh (new files under its path) is
    * picked up without restarting the query. */
  def enrichWithStatic(stream: DataFrame, dim: DataFrame,
      key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** Idempotent micro-batch parquet write — the exactly-once sink
    * pattern for stores without transactional streaming sinks: each
    * micro-batch OVERWRITES its own `batch_id=<id>` directory, so a
    * replayed batch (failure after write, before the checkpoint
    * commit — the at-least-once window every foreachBatch sink has)
    * lands byte-identical instead of duplicating. The batch id is
    * stable across restarts from the same checkpoint, which is what
    * makes overwrite = exactly-once. Downstream readers get
    * partition discovery on `batch_id` for free. */
  def writeBatchIdempotent(batch: Dataset[org.apache.spark.sql.Row],
      outDir: String, batchId: Long): Unit =
    batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")

  /** The one `foreachBatch` starter: a writer draining `df` through
    * `f` with its offsets and sink commits under `checkpoint`. Callers
    * add a trigger, if any, and `.start()`. */
  private def eachBatch(df: DataFrame, checkpoint: String)(
      f: (Dataset[Row], Long) => Unit): DataStreamWriter[Row] =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(f)

  /** Start a streaming query draining `df` through
    * [[writeBatchIdempotent]]. */
  def startIdempotentParquetSink(df: DataFrame, outDir: String,
      checkpoint: String): StreamingQuery =
    eachBatch(df, checkpoint)(writeBatchIdempotent(_, outDir, _)).start()

  /** Streaming-safe telemetry (A2 at scale): named `observe()`
    * metrics ride the existing job — no separate count() action,
    * valid in batch (via `Observation`) AND streaming (via
    * `StreamingQueryProgress.observedMetrics`), unlike the
    * reference's log-line counters (task.ts:176,332). */
  def withTelemetry(df: DataFrame, name: String,
      valueCol: String): DataFrame =
    df.observe(name, count(lit(1)).as("n_rows"),
      sum(col(valueCol)).as("sum_value"))

  /** Spark 4's transformWithState — the current-generation arbitrary
    * state API (typed state primitives, timers, TTL; successor to
    * mapGroupsWithState, and the one that composes with the RocksDB
    * store + changelog checkpointing at scale). Running per-key
    * count via a ValueState, emitted per input batch. */
  final class RunningCountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Timestamp), KeyCount] {
    @transient private var count: org.apache.spark.sql.streaming
      .ValueState[Long] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      count = getHandle.getValueState[Long]("count",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Timestamp)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[KeyCount] = {
      var n = if (count.exists()) count.get() else 0L
      var last: Timestamp = null
      rows.foreach { r =>
        n += 1
        if (last == null || r._2.after(last)) last = r._2
      }
      count.update(n)
      Iterator.single(KeyCount(key, n, last))
    }
  }

  /** Running per-key counts through transformWithState (requires the
    * RocksDB state store provider — set
    * spark.sql.streaming.stateStore.providerClass accordingly). */
  def runningCountsTws(events: Dataset[(Long, Timestamp)])
      : Dataset[KeyCount] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .transformWithState(new RunningCountProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Running per-key state via mapGroupsWithState: arbitrary
    * cross-batch state the reference lacks entirely (its state dies
    * with each invocation). Tracks per-key event count and last-seen
    * time; NoTimeout keeps the example deterministic. */
  final case class KeyCount(key: Long, n: Long, lastTs: Timestamp)

  def runningCounts(events: Dataset[(Long, Timestamp)])
      : Dataset[KeyCount] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState[KeyCount, KeyCount](
        GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[(Long, Timestamp)],
         state: GroupState[KeyCount]) =>
          val batch = rows.toSeq
          val prev = state.getOption
            .getOrElse(KeyCount(key, 0L, new Timestamp(0L)))
          val maxTs = (prev.lastTs +: batch.map(_._2))
            .maxBy(_.getTime)
          val next = KeyCount(key, prev.n + batch.size, maxTs)
          state.update(next)
          next
      }
  }

  /** The one gap-session state machine, behind [[sessionizeWithState]]
    * and the journey twins: per key, events within `gapMs` of the open
    * session's span [start, end] extend it (an out-of-order event moves
    * `start` back) and a larger gap after `end` closes it, in
    * event-time order inside each micro-batch. An event-time timeout at
    * `end + gapMs` closes a quiet key's session once the watermark
    * (exactly `gapMs` behind the latest event) passes it. The watermark
    * drops any event more than `gapMs` before the open session's start;
    * one that still arrives forms its own session. `events` carries
    * (key, ts, ...) columns; `event` maps a row to its event, `at` gives
    * the event's time in ms and `order` the in-batch order. */
  private def gapSessions[R, E, S: Encoder, O: Encoder](
      events: Dataset[R], gapMs: Long)(key: R => Long, event: R => E,
      at: E => Long, order: Ordering[E])(open: E => S,
      extend: (S, E) => S, start: S => Long, end: S => Long,
      close: (Long, S) => Iterator[O]): Dataset[O] = {
    require(gapMs > 0, s"gapMs must be > 0, got $gapMs")
    events
      .withWatermark("ts", s"$gapMs milliseconds")
      .groupByKey(key)(Encoders.scalaLong)
      .flatMapGroupsWithState[S, O](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (k: Long, rows: Iterator[R], state: GroupState[S]) =>
          if (rows.isEmpty && state.hasTimedOut) {
            // watermark passed: close and emit the session
            val s = state.get
            state.remove()
            close(k, s)
          } else {
            val closed = scala.collection.mutable.Buffer[O]()
            var cur = state.getOption
            // event-time order, so each in-batch gap decision sees the
            // events as they happened
            rows.map(event).toSeq.sorted(order).foreach { e =>
              cur = Some(cur match {
                case Some(s) if start(s) - at(e) > gapMs =>
                  closed ++= close(k, open(e)); s
                case Some(s) if at(e) - end(s) <= gapMs => extend(s, e)
                case Some(s) => closed ++= close(k, s); open(e)
                case None => open(e)
              })
            }
            state.update(cur.get)
            state.setTimeoutTimestamp(end(cur.get) + gapMs)
            closed.iterator
          }
      }
  }

  /** Custom gap-sessionizer over flatMapGroupsWithState with
    * event-time timeout: emits a session row once the watermark
    * passes start-of-gap — arbitrary stateful logic beyond
    * session_window's fixed semantics. */
  final case class Session(key: Long, start: Timestamp, end: Timestamp,
      nEvents: Long)
  final case class SessState(start: Long, end: Long, n: Long)

  def sessionizeWithState(events: Dataset[(Long, Timestamp)],
      gapMs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    gapSessions[(Long, Timestamp), Long, SessState, Session](
        events.toDF("key", "ts").as[(Long, Timestamp)], gapMs)(
        _._1, _._2.getTime, identity, Ordering.Long)(
      open = t => SessState(t, t, 1L),
      extend = (s, t) => SessState(math.min(s.start, t),
        math.max(s.end, t), s.n + 1),
      start = _.start, end = _.end,
      close = (key, s) => Iterator(Session(key, new Timestamp(s.start),
        new Timestamp(s.end), s.n)))
  }

  /** One closed session's journey: the '>'-joined type n-grams of the
    * session's (ts, event-id)-ordered event sequence — q148's gram
    * semantics per session, emitted as the session closes. */
  final case class SessionPaths(key: Long, start: Timestamp,
      end: Timestamp, nEvents: Long, paths: Seq[String])
  // public: the state encoder's generated code must see the ctor
  final case class SessPathsState(start: Long, end: Long,
      evs: Seq[(Long, Long, String)]) // (tsMs, eventId, type)

  /** [[gapSessions]] carrying each session's events, ordered inside a
    * micro-batch by (ts, event-id) exactly as batch: the state of both
    * journey twins, which differ only in what `close` emits. */
  private def journeySessions[O: Encoder](
      events: Dataset[(Long, Timestamp, Long, String)], gapMs: Long)(
      close: (Long, SessPathsState) => Iterator[O]): Dataset[O] = {
    import events.sparkSession.implicits._
    type Ev = (Long, Long, String)
    gapSessions[(Long, Timestamp, Long, String), Ev, SessPathsState, O](
        events.toDF("key", "ts", "event_id", "event_type")
          .as[(Long, Timestamp, Long, String)], gapMs)(
        _._1, r => (r._2.getTime, r._3, r._4), _._1,
        Ordering.by((e: Ev) => (e._1, e._2)))(
      open = e => SessPathsState(e._1, e._1, Seq(e)),
      extend = (s, e) => SessPathsState(math.min(s.start, e._1),
        math.max(s.end, e._1), s.evs :+ e),
      start = _.start, end = _.end, close = close)
  }

  /** Streaming twin of [[graft.operators.Journeys
    * .topPathsSessionized]] (q148): gap-sessionize per key with
    * `flatMapGroupsWithState` + event-time timeout, carrying the
    * session's event list in state, and emit each CLOSED session's
    * type n-grams — the per-key state is bounded by one session's
    * events (the q148 contract, here enforced by the state store:
    * a session closes either at an in-batch gap or when the
    * watermark passes end-of-gap, and its state is dropped).
    * Ordering inside a session is (ts, event-id) exactly as batch;
    * late events beyond the watermark are dropped by the engine
    * before they reach the operator (standard watermark contract).
    * Downstream path COUNTING is plain additive aggregation over the
    * emitted rows (batch or another query); this operator owns the
    * stateful part. Run in `append` output mode.
    * @param events (key, ts, event_id, event_type) */
  def sessionPathsStream(
      events: Dataset[(Long, Timestamp, Long, String)],
      gapMs: Long, n: Int): Dataset[SessionPaths] = {
    import events.sparkSession.implicits._
    def grams(evs: Seq[(Long, Long, String)]): Seq[String] =
      evs.sortBy(e => (e._1, e._2)).map(_._3)
        .sliding(n).filter(_.size == n).map(_.mkString(">")).toSeq
    journeySessions(events, gapMs) { (key, s) =>
      Iterator(SessionPaths(key, new Timestamp(s.start),
        new Timestamp(s.end), s.evs.size.toLong, grams(s.evs)))
    }
  }

  /** One streaming row-pattern match — the [[graft.operators
    * .Journeys.matchRecognize]] output shape per closed session. */
  final case class SessionMatch(key: Long, session_start: Timestamp,
      match_no: Long, match_path: String, match_len: Long)

  /** Streaming twin of [[graft.operators.Journeys.matchRecognize]]
    * (MATCH_RECOGNIZE over a live stream): gap sessionization rides
    * the same `flatMapGroupsWithState` session machinery as
    * [[sessionPathsStream]] — ONE session's events in state, closed
    * by an in-batch gap or the event-time timeout — and each closed
    * session's '>'-terminated type string is scanned by the SAME
    * compiled pattern regex (both sides run java.util.regex, so
    * greed/skip semantics are identical by construction). Emits one
    * row per match, match_no 1-based within the session — the spec
    * pins the multiset equal to the batch operator over the same
    * events. State is bounded by one session (the gap contract);
    * matching is CPU-only at close time, no extra state. */
  def matchRecognizeStream(
      events: Dataset[(Long, Timestamp, Long, String)],
      gapMs: Long, pattern: String): Dataset[SessionMatch] = {
    import events.sparkSession.implicits._
    val rx = graft.operators.Journeys.compilePattern(pattern).r
    journeySessions(events, gapMs) { (key, s) =>
      val str = s.evs.sortBy(e => (e._1, e._2)).map(_._3)
        .mkString("", ">", ">")
      rx.findAllIn(str).zipWithIndex.map { case (m, i) =>
        SessionMatch(key, new Timestamp(s.start), i + 1L,
          m.stripSuffix(">"), m.count(_ == '>').toLong)
      }
    }
  }

  /** One attribution credit row — the [[graft.operators.Attribution
    * .credits]] output shape: one row per (conversion, touch) plus a
    * `(direct)` row for untouched conversions. */
  final case class CreditRow(conv_id: Long, cents: Long,
      n_touches: Long, channel: String, first_cents: Long,
      last_cents: Long, linear_millis: Long)
  // public: the state encoder's generated code must see the ctor
  final case class AttrState(
      touches: Seq[(Long, Long, String)], // (ttMs, touch_id, channel)
      convs: Seq[(Long, Long, Long)])     // (ctMs, conv_id, cents)

  /** Streaming twin of [[graft.operators.Attribution.credits]]
    * (q163): multi-touch attribution with watermarked per-user
    * state. Touches and conversions arrive interleaved on one
    * stream; a conversion's credits are emitted exactly once, when
    * the WATERMARK passes its event time — only then can no further
    * touch with `tt <= ct` arrive (later-than-watermark stragglers
    * are dropped by the engine per the standard contract), so the
    * emitted rows are final and batch-identical: same lookback
    * predicate `tt ∈ (ct − lookback, ct]`, same (tt, touch_id)
    * first/last tie-break, same integer millicent floor split.
    *
    * State per user is BOUNDED by the lookback window: touches older
    * than `watermark − lookback` can serve no future conversion
    * (which must carry `ct ≥ watermark`) and are pruned every
    * trigger; pending conversions hold only until the watermark
    * passes them. Event-time timeouts flush due conversions on
    * quiet keys; an idle key's state empties and is removed. Values
    * are cent-snapped once, exactly as batch; non-negative values
    * assumed (the batch `div` contract). Run in `append` mode.
    *
    * @param events (user, ts, event_id, event_type, value)
    * @param convType   event type that converts
    * @param touchTypes event types that can receive credit
    * @param lookbackMs pairing window in milliseconds
    * @param watermarkDelay e.g. "10 minutes" — how late events may be
    */
  def attributionStream(
      events: Dataset[(Long, Timestamp, Long, String, Double)],
      convType: String, touchTypes: Seq[String], lookbackMs: Long,
      watermarkDelay: String): Dataset[CreditRow] = {
    import events.sparkSession.implicits._
    val touchSet = touchTypes.toSet
    def creditsOf(conv: (Long, Long, Long),
        touches: Seq[(Long, Long, String)]): Seq[CreditRow] = {
      val (ct, convId, cents) = conv
      val in = touches
        .filter(t => t._1 <= ct && t._1 > ct - lookbackMs)
        .sortBy(t => (t._1, t._2))
      if (in.isEmpty)
        Seq(CreditRow(convId, cents, 0L, "(direct)", cents, cents,
          cents * 1000L))
      else in.zipWithIndex.map { case ((_, _, ch), i) =>
        CreditRow(convId, cents, in.size.toLong, ch,
          if (i == 0) cents else 0L,
          if (i == in.size - 1) cents else 0L,
          cents * 1000L / in.size)
      }
    }
    events.toDF("u", "ts", "event_id", "event_type", "value")
      .withWatermark("ts", watermarkDelay)
      .as[(Long, Timestamp, Long, String, Double)]
      .groupByKey(_._1)
      // not gapSessions: a conversion closes at the watermark, not a gap
      .flatMapGroupsWithState[AttrState, CreditRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, rows: Iterator[(Long, Timestamp, Long, String,
            Double)], state: GroupState[AttrState]) =>
          val wm = state.getCurrentWatermarkMs()
          var s = state.getOption.getOrElse(
            AttrState(Seq.empty, Seq.empty))
          rows.foreach { r =>
            val t = r._2.getTime
            if (r._4 == convType) {
              val cents = math.floor(r._5 * 100 + 0.5).toLong
              s = s.copy(convs = s.convs :+ ((t, r._3, cents)))
            } else if (touchSet(r._4))
              s = s.copy(touches = s.touches :+ ((t, r._3, r._4)))
          }
          // a conversion is final once wm > ct: a touch with
          // tt <= ct would now be later-than-watermark and dropped
          val (due, pending) = s.convs.partition(_._1 < wm)
          val out = due.sortBy(c => (c._1, c._2))
            .flatMap(c => creditsOf(c, s.touches))
          // future conversions carry ct >= wm, so touches at or
          // before wm - lookback can never pair again
          s = AttrState(s.touches.filter(_._1 > wm - lookbackMs),
            pending)
          if (s.touches.isEmpty && s.convs.isEmpty) state.remove()
          else {
            state.update(s)
            // wake when the earliest pending conversion comes due,
            // else when the remaining touches have all expired
            val nextDue =
              if (pending.nonEmpty) pending.map(_._1).min + 1
              else s.touches.map(_._1).max + lookbackMs + 1
            state.setTimeoutTimestamp(math.max(nextDue, wm + 1))
          }
          out.iterator
      }
  }

  /** One finalized funnel stage row — the [[graft.operators.Journeys
    * .funnelTimes]] output shape. */
  final case class FunnelStage(user: Long, stage: Long, t: Timestamp)
  // public: the state encoder's generated code must see the ctor
  final case class FunnelState(evs: Seq[(Int, Long)]) // (stepIdx, tsMs)

  /** Streaming twin of [[graft.operators.Journeys.funnelTimes]]
    * (q139): per-user funnel progression with watermarked state. A
    * user's funnel FINALIZES when the watermark passes
    * `t1 + (steps−1)·window` — the furthest instant any stage can
    * match: the stage-1 anchor t1 (min first-step time) is itself
    * final once the watermark passes it (an earlier first-step event
    * would now be dropped as late), and every later stage must land
    * within `window` of its predecessor. Only then are the stage
    * rows computed — with exactly the batch semantics (first
    * occurrence strictly after the previous match, within the
    * window) — and emitted once. Out-of-order arrival inside the
    * allowed lateness therefore cannot change an emitted row, which
    * an emit-on-progress implementation could not guarantee.
    *
    * State per user is BOUNDED by the funnel horizon: step-1 events
    * collapse to their running minimum; later-step events outside
    * `(t1, t1 + (steps−1)·window]` can never match and are pruned
    * every trigger, as are anchorless events the watermark has
    * passed (a first-step event arriving later would carry
    * `ts ≥ watermark`, putting them before the anchor). Event-time
    * timeouts finalize quiet users; empty state is removed.
    *
    * @param events (user, ts, event_type)
    * @param steps  ordered funnel step types (head = anchor step)
    * @param windowSec per-step matching window, seconds
    * @param watermarkDelay e.g. "10 minutes" — how late events may be
    */
  def funnelStream(events: Dataset[(Long, Timestamp, String)],
      steps: Seq[String], windowSec: Long, watermarkDelay: String)
      : Dataset[FunnelStage] = {
    require(steps.nonEmpty, "funnelStream: steps must be non-empty")
    import events.sparkSession.implicits._
    val stepIdx = steps.zipWithIndex.toMap
    val horizonMs = (steps.size - 1).toLong * windowSec * 1000L
    val windowMs = windowSec * 1000L
    def finalize(user: Long, evs: Seq[(Int, Long)]): Seq[FunnelStage] = {
      val byStep = evs.groupBy(_._1)
      val t1 = byStep.get(0).map(_.map(_._2).min)
      t1 match {
        case None => Seq.empty
        case Some(t0) =>
          val times = (1 until steps.size).scanLeft(Option(t0)) {
            (prev, i) => prev.flatMap { pt =>
              byStep.getOrElse(i, Seq.empty).map(_._2)
                .filter(t => t > pt && t <= pt + windowMs)
                .sorted.headOption
            }
          }
          times.zipWithIndex.collect { case (Some(t), i) =>
            FunnelStage(user, i + 1L, new Timestamp(t))
          }
      }
    }
    events.toDF("u", "ts", "event_type")
      .withWatermark("ts", watermarkDelay)
      .as[(Long, Timestamp, String)]
      .groupByKey(_._1)
      // not gapSessions: a funnel closes at its horizon, not a gap
      .flatMapGroupsWithState[FunnelState, FunnelStage](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, Timestamp, String)],
            state: GroupState[FunnelState]) =>
          val wm = state.getCurrentWatermarkMs()
          var evs = state.getOption.map(_.evs).getOrElse(Seq.empty)
          rows.foreach { r =>
            stepIdx.get(r._3).foreach(i => evs :+= ((i, r._2.getTime)))
          }
          // collapse step-1 events to their running minimum; the
          // anchor can only move EARLIER, and only until wm passes it
          val t1 = evs.filter(_._1 == 0).map(_._2).minOption
          evs = t1 match {
            case Some(t0) => (0, t0) +: evs.filter { case (i, t) =>
              // keep events at or before the anchor only while a
              // late-but-allowed first-step event (ts >= wm) could
              // still move the anchor before them; past the horizon
              // nothing can ever match
              i > 0 && (t > t0 || t >= wm) && t <= t0 + horizonMs }
            case None =>
              // no anchor yet: an event at ts < wm can never match —
              // a future anchor arrives with t1 >= wm, after it
              evs.filter(_._2 >= wm)
          }
          if (t1.exists(t0 => wm > t0 + horizonMs)) {
            state.remove()
            finalize(user, evs).iterator
          } else if (evs.isEmpty) {
            state.remove()
            Iterator.empty
          } else {
            state.update(FunnelState(evs))
            val wake = t1.map(_ + horizonMs + 1)
              .getOrElse(evs.map(_._2).max + 1)
            state.setTimeoutTimestamp(math.max(wake, wm + 1))
            Iterator.empty
          }
      }
  }

  /** One packed document: the token range it occupies in its shard's
    * unbounded concatenated stream, plus the fixed-length sequences
    * it touches. */
  final case class PackedDoc(shard: Int, docId: Long, tokStart: Long,
      tokEnd: Long, seqFirst: Long, seqLast: Long)
  final case class PackState(offset: Long)

  /** Streaming twin of [[graft.operators.Corpus.packSequences]]
    * (q153): per-shard token offsets carried across micro-batches so
    * a pretraining batch loader can pack an UNBOUNDED document
    * stream — each arriving doc is appended to its shard's token
    * stream at the next free offset and reports which fixed-length
    * sequences it lands in. State per shard is ONE long (the running
    * offset) — nothing to evict, no watermark needed. Docs inside a
    * micro-batch pack in doc-id order (trigger arrival order is not
    * stable under retries; the sort makes replays deterministic);
    * empty docs are dropped exactly as in batch. Run in `append`
    * output mode.
    * @param docs (shard, doc_id, n_tokens) */
  def packSequencesStream(docs: Dataset[(Int, Long, Long)],
      seqLen: Long): Dataset[PackedDoc] = {
    import docs.sparkSession.implicits._
    require(seqLen > 0, "seqLen must be positive")
    docs
      .groupByKey(_._1)
      // not gapSessions: a shard's offset never closes or times out
      .flatMapGroupsWithState[PackState, PackedDoc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (shard: Int, rows: Iterator[(Int, Long, Long)],
         state: GroupState[PackState]) =>
          var off = state.getOption.map(_.offset).getOrElse(0L)
          val out = rows.toSeq.sortBy(_._2).filter(_._3 > 0)
            .map { case (_, id, ntok) =>
              val s = off
              off += ntok
              PackedDoc(shard, id, s, off, s / seqLen,
                (off - 1) / seqLen)
            }
          state.update(PackState(off))
          out.iterator
      }
  }

  /** Composed streaming corpus ingest — the batch curation pipeline
    * (quality gate → exact dedup → per-lang stats, q57/q98) running
    * incrementally: each micro-batch of documents is quality-gated,
    * deduped by content hash within the watermark horizon, and
    * folded into per-lang running statistics through streaming
    * aggregation state. The running stats are exactly q98's
    * mergeable partial states (counts, token sums, micro-unit
    * quality sums — all additive), so what q98 proves cross-engine
    * for two static shards, this operator applies per trigger
    * forever. State stays bounded: dedup state is evicted at the
    * watermark, and the aggregate holds one row per lang.
    * Run in `update` output mode.
    *
    * `scrubPii = true` masks PII ([[graft.operators.TextOps
    * .maskPii]], q180) as the FIRST step — before the quality gate,
    * the dedup hash, and the stats — so raw identifiers never enter
    * state, the index, or the aggregates, and two documents
    * differing only in their PII (templated mail, form letters)
    * dedup together. Pure extra projection on the ingest scan.
    *
    * `modelWeights` (optional) composes the q255 model-based
    * quality classifier into the stream — the CCNet deployment
    * shape: train offline ([[graft.operators.TextClassifier
    * .nbLogOddsWeights]]), publish the ≤256-row weight table, gate
    * every arriving micro-batch BEFORE the heuristic quality gate,
    * hash-dedup, and stats. The per-doc log-likelihood ratio is the
    * aggregation-free form [[graft.operators.TextClassifier
    * .llrExpr]] (a higher-order fold against the weight-map
    * literal — a streaming query gets only one stateful
    * aggregation, and this pipeline already spends it on the lang
    * stats), and the keep rule is exactly scoreDocs': evidence
    * present (≥ 1 bigram) and llr_ppm > 0. Stream == batch over the
    * union of micro-batches is pinned by `StreamCorpusSpec`. */
  def corpusIngest(docs: DataFrame, tsCol: String, textCol: String,
      langCol: String, watermark: String, minQuality: Double,
      stopwords: Seq[String] = Seq("the", "a"),
      scrubPii: Boolean = false,
      modelWeights: Option[Map[Int, Long]] = None,
      modelBuckets: Int = 256): DataFrame = {
    import graft.operators.{TextClassifier, TextOps}
    val scrubbed =
      (if (scrubPii)
         docs.withColumn(textCol, TextOps.maskPii(col(textCol)))
       else docs)
    val modelGated = modelWeights match {
      case Some(w) =>
        scrubbed
          .filter(TextClassifier.numFeatsExpr(col(textCol)) >= 1L &&
            TextClassifier.llrExpr(col(textCol), w, modelBuckets) > 0L)
      case None => scrubbed
    }
    modelGated
      .withColumn("__q", TextOps.qualityScore(col(textCol), stopwords))
      .filter(col("__q") >= minQuality)
      .withColumn("__h", md5(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__h")
      .groupBy(col(langCol).as("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextOps.tokenCount(col(textCol)).cast("long"))
          .as("sum_tokens"),
        sum(floor(col("__q") * lit(1e6) + lit(0.5))).as("sum_qm"))
  }

  /** The admission index before the first admitted batch is a
    * NOT-YET-EXISTING directory. Reading it and catching the
    * AnalysisException would work, but the failed read still reaches
    * every QueryExecutionListener (the ExecutionListenerBus logs a
    * PATH_NOT_FOUND stack trace per first trigger — noise that buries
    * real failures in test logs). Existence-check through the
    * directory's own Hadoop filesystem first, so the listener only
    * ever sees reads that succeed. */
  private def readIndexOrEmpty(spark: SparkSession, indexDir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(indexDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) spark.read.schema(schema).parquet(indexDir)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** One micro-batch of the NEAR-dup admission gate — the q112
    * cross-corpus LSH (batch bands vs historical index,
    * [[graft.operators.Dedup.lshNearDupPairsAcross]]) composed into
    * the streaming ingest path, so near-duplicates (not just exact
    * re-deliveries) are rejected at ingest:
    *
    *  1. intra-batch near-dups drop first-wins by id
    *     ([[graft.operators.Dedup.lshNearDupPairs]] pairs carry
    *     a < b; every b-side doc is rejected);
    *  2. survivors band-join AGAINST the historical index — never
    *     index×index — and any batch doc within `minJaccard` of an
    *     indexed doc is rejected (an exact replay scores 1.0, so
    *     the gate is also restart/replay idempotent);
    *  3. admitted docs APPEND to the index, so a near-dup arriving
    *     in a LATER micro-batch meets its original through the
    *     stream-static re-read and is dropped.
    *
    * Scale shape: the index never rescans its text — only its band
    * keys meet the batch (q112's contract; at 100 TB the banded
    * projection is a precomputed table). Per-trigger work is
    * O(batch + matching buckets).
    * @return the admitted rows (already appended to `indexDir`) */
  def admitNearDupBatch(batch: DataFrame, idCol: String,
      textCol: String, indexDir: String, n: Int, k: Int, bands: Int,
      minJaccard: Double): DataFrame = {
    import graft.operators.Dedup
    val spark = batch.sparkSession
    val b = batch.select(col(idCol), col(textCol)).transform(Ckpt.cut)
    val intraRejects = Dedup.lshNearDupPairs(
        b, idCol, textCol, n, k, bands, minJaccard)
      .select(col("b").as(idCol)).distinct()
    val survivors = b.join(intraRejects, Seq(idCol), "left_anti")
    val index = readIndexOrEmpty(spark, indexDir, b.schema)
    val indexRejects = Dedup.lshNearDupPairsAcross(
        survivors, index, idCol, textCol, n, k, bands, minJaccard)
      .select(col("a").as(idCol)).distinct()
    val admitted = survivors
      .join(indexRejects, Seq(idCol), "left_anti")
      .transform(Ckpt.cut)
    admitted.write.mode("append").parquet(indexDir)
    admitted
  }

  /** Streaming near-dup admission — [[corpusIngest]]'s exact
    * watermark dedup upgraded to NEAR-dup rejection: exact
    * re-deliveries drop in watermark-bounded state
    * (`dropDuplicatesWithinWatermark` — evicted at the horizon, so
    * streaming state never grows past it), then each micro-batch
    * runs [[admitNearDupBatch]] against the growing on-disk index.
    * Long-term memory lives in the INDEX TABLE, not the state
    * store — the architecture that runs forever: state is
    * watermark-bounded, the index is a plain parquet relation any
    * batch job can also read or compact. */
  def startNearDupAdmission(docs: DataFrame, tsCol: String,
      idCol: String, textCol: String, watermark: String,
      indexDir: String, checkpointDir: String, n: Int, k: Int,
      bands: Int, minJaccard: Double): StreamingQuery = {
    val fresh = docs
      .withColumn("__h", md5(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__h")
      .drop("__h")
    eachBatch(fresh, checkpointDir) { (batch, _) =>
      admitNearDupBatch(batch.toDF(), idCol, textCol, indexDir,
        n, k, bands, minJaccard)
    }.start()
  }

  /** One micro-batch of the MEDIA near-dup admission gate — the
    * multimodal twin of [[admitNearDupBatch]], and the cross-modal
    * closing of the q146 curation loop at INGEST time: every
    * payload is fingerprinted by content ([[graft.operators
    * .Multimodal.mediaFingerprints]] — dHash / frame-energy hashes
    * in the shared two-half layout), near-dups drop intra-batch and
    * against the on-disk hash index PER MODALITY (kinds never meet
    * a band join — a chance image/audio band collision is not a
    * duplicate), and admitted items append their 16-byte hashes to
    * the index. The index side holds HASHES ONLY, never payloads:
    * media near-dup memory at scale is a hash relation, so the gate
    * scans bytes once at ingest and never again. Replay-idempotent:
    * an exact payload replay hashes identically (Hamming 0).
    * @return the admitted (media_id, kind, h_hi, h_lo) rows */
  def admitMediaBatch(batch: org.apache.spark.sql.Dataset[
        graft.operators.Multimodal.MediaRecord],
      indexDir: String, maxHamming: Int): DataFrame = {
    import graft.operators.Multimodal
    val spark = batch.sparkSession
    val kinds = Seq("image", "audio", "video")
    val h = Multimodal.mediaFingerprints(batch).transform(Ckpt.cut)
    val intraRejects = kinds.map { k =>
      Multimodal.dhashNearDupPairs(
          h.filter(col("kind") === k), "media_id", maxHamming)
        .select(col("b").as("media_id"))
    }.reduce(_ unionByName _).distinct()
    val survivors = h.join(intraRejects, Seq("media_id"), "left_anti")
      .transform(Ckpt.cut)
    val index = readIndexOrEmpty(spark, indexDir, h.schema)
    val indexRejects = kinds.map { k =>
      Multimodal.dhashNearDupPairsAcross(
          survivors.filter(col("kind") === k),
          index.filter(col("kind") === k), "media_id", maxHamming)
        .select(col("a").as("media_id"))
    }.reduce(_ unionByName _).distinct()
    val admitted = survivors
      .join(indexRejects, Seq("media_id"), "left_anti")
      .transform(Ckpt.cut)
    admitted.write.mode("append").parquet(indexDir)
    admitted
  }

  /** Streaming media near-dup admission — [[mediaIngest]]'s exact
    * content-hash dedup upgraded to NEAR-dup rejection, mirroring
    * [[startNearDupAdmission]]: exact re-deliveries die in
    * watermark-bounded state, then each micro-batch runs
    * [[admitMediaBatch]] against the growing on-disk hash index.
    * @param media (tsCol, idCol, binCol) stream */
  def startMediaAdmission(media: DataFrame, tsCol: String,
      idCol: String, binCol: String, watermark: String,
      indexDir: String, checkpointDir: String, maxHamming: Int)
      : StreamingQuery = {
    val fresh = media
      .withColumn("__h", md5(col(binCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__h")
      .drop("__h")
    eachBatch(fresh, checkpointDir) { (batch, _) =>
      val spark = batch.sparkSession
      import spark.implicits._
      val records = batch.select(
          col(idCol).cast("long").as("media_id"),
          lit("").as("kind"), col(binCol).as("payload"),
          lit("stream").as("source"))
        .as[graft.operators.Multimodal.MediaRecord]
      admitMediaBatch(records, indexDir, maxHamming)
    }.start()
  }

  /** Maintenance pass for the [[startNearDupAdmission]] index: the
    * per-trigger appends leave one small parquet file per micro-batch
    * (the classic streaming-writer small-files drag —
    * [[graft.operators.Compaction]]'s object doc), so a long-lived
    * admission index must be periodically rewritten. Compacts to a
    * sibling directory then swaps via two renames, preserving content
    * exactly — admission decisions are identical before and after
    * (the spec proves a pre-compaction doc still rejects its
    * near-dups afterwards). Run between triggers (the gate re-reads
    * the index per micro-batch; a swap mid-trigger could hand one
    * batch a partial listing — same contract as any external table
    * rewrite under a stream-static join). */
  def compactAdmissionIndex(spark: SparkSession, indexDir: String,
      targetBytes: Long): graft.operators.Compaction.Stats =
    swapIn(spark, indexDir, ".compacting", "compaction") { tmp =>
      graft.operators.Compaction.compactParquet(
        spark, indexDir, tmp, targetBytes)
    }

  /** The one table swap: `write` stages the new table at
    * `dir + staging`, two renames put it in place (`dir` → `dir.old`,
    * unless this is the first write, then staging → `dir`) and the old
    * table is deleted. A reader sees the whole old or the whole new
    * table, apart from the brief window between the renames
    * ([[cdcSnapshot]] reads `.old` there). A staging or `.old`
    * directory left by an interrupted `what` stops the swap before
    * anything is written; `staging` is "." + the job's verb
    * (".applying"), which that message reuses.
    * @return what `write` returned */
  private def swapIn[T](spark: SparkSession, dir: String,
      staging: String, what: String)(write: String => T): T = {
    import org.apache.hadoop.fs.Path
    val tmp = new Path(dir + staging)
    val old = new Path(dir + ".old")
    val dst = new Path(dir)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(tmp) && !fs.exists(old),
      s"stale $tmp / $old from an interrupted $what — resolve " +
        s"manually before ${staging.stripPrefix(".")} again")
    val out = write(tmp.toString)
    if (fs.exists(dst))
      require(fs.rename(dst, old), s"rename $dst -> $old failed")
    require(fs.rename(tmp, dst), s"rename $tmp -> $dst failed")
    fs.delete(old, true)
    out
  }

  /** Streaming VARIANT ingest — q124's semi-structured parse path
    * running per micro-batch: each record's JSON payload is parsed
    * ONCE to a Spark-4 VARIANT, typed fields come out through
    * `variant_get` paths (object step, nested step, array index),
    * and the stream folds into the same per-type additive aggregate
    * the batch query produces (counts and long sums — mergeable
    * across triggers, so cross-batch totals equal the batch answer
    * on the union of all micro-batches; the spec pins this).
    *
    * Scale shape: parse + extraction are per-row expressions inside
    * the micro-batch (no UDF, no extra exchange); streaming state is
    * one row per distinct vtype. Run in `complete` or `update`
    * output mode. */
  def variantIngest(records: DataFrame, jsonCol: String): DataFrame =
    records
      .withColumn("__v", parse_json(col(jsonCol)))
      .select(
        expr("variant_get(__v, '$.meta.type', 'string')").as("vtype"),
        expr("variant_get(__v, '$.meta.uid', 'long')").as("uid"),
        expr("variant_get(__v, '$.ks[1]', 'long')").as("k2"))
      .groupBy(col("vtype"))
      .agg(count(lit(1)).as("n"),
        sum(col("uid")).as("sum_uid"),
        sum(col("k2")).as("sum_k2"))

  /** Streaming media ingest — the multimodal twin of [[corpusIngest]]:
    * each trigger's binary payloads are exact-deduplicated by content
    * hash within the watermark (re-delivered bytes are dropped, state
    * evicted at the watermark), header-probed with the SAME pure-JVM
    * parsers as batch ([[graft.operators.Multimodal]] — ~50 bytes
    * touched per record, no codec), and folded into one additive row
    * per detected container format. Counts and byte sums are
    * mergeable across triggers, so cross-batch totals equal the batch
    * answer over the distinct payloads (the spec pins this). Run in
    * `update` output mode.
    *
    * Scale shape: dedup state is hash-sized and watermark-bounded;
    * the probe is a map-side byte walk; streaming state after the
    * aggregate is one row per format. */
  def mediaIngest(media: DataFrame, tsCol: String, binCol: String,
      watermark: String): DataFrame = {
    import media.sparkSession.implicits._
    import graft.operators.Multimodal
    val deduped = media
      .withColumn("__h", md5(col(binCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__h")
    // classification runs through the ACTUAL batch probe operator —
    // one precedence/parsing implementation for batch and stream, so
    // the cross-batch-equals-batch contract can't drift
    val records = deduped.select(col(binCol)).as[Array[Byte]]
      .map(b => Multimodal.MediaRecord(0L, "", b, ""))
    Multimodal.probe(records).toDF()
      .groupBy(col("format"))
      .agg(count(lit(1)).as("n"), sum(col("n_bytes")).as("total_bytes"))
  }

  /** One micro-batch of streaming CDC apply: merge a batch of change
    * rows (keys + seq + op + payload, the [[graft.operators.Cdc]]
    * contract) into the on-disk snapshot at `snapshotDir`. The
    * snapshot persists WITH tombstones (`last_op = "D"` rows stay),
    * so a late-arriving change with a lower seq than an applied
    * delete loses against the tombstone in a later batch instead of
    * resurrecting the key — cross-batch ordering is decided by seq,
    * never by arrival time. The rewritten snapshot lands in a
    * sibling directory and swaps in via two renames (the
    * [[compactAdmissionIndex]] protocol), so a concurrent reader
    * never sees a half-written table — though between the two
    * renames there is a brief window with no directory at the main
    * path, where a read can transiently fail ([[cdcSnapshot]] falls
    * back to the `.old` path for exactly that window; a crash inside
    * the window needs the documented manual `.old` recovery).
    *
    * Scale shape: each trigger is previous-snapshot ∪ batch through
    * the partial-aggregable struct-max — one key exchange sized by
    * live keys + batch, no sort, no driver state. At lake scale the
    * same apply runs per key-partition directory so each rewrite is
    * bounded (the standard MERGE-on-partitioned-table layout).
    *
    * @return the merged snapshot (with tombstones) that was written
    */
  def applyCdcBatch(batch: DataFrame, snapshotDir: String,
      keyCols: Seq[String], seqCol: String, opCol: String)
      : DataFrame = {
    import org.apache.hadoop.fs.Path
    import graft.operators.Cdc
    val spark = batch.sparkSession
    val dst = new Path(snapshotDir)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val merged =
      if (!fs.exists(dst))
        // first trigger only — later triggers must not pay a
        // checkpoint job for a frame they discard
        Cdc.mergeLatest(batch.transform(Ckpt.cut), keyCols, seqCol,
          opCol, keepTombstones = true)
      else {
        // prior snapshot re-enters the merge as its own change log
        val prev = spark.read.parquet(snapshotDir)
          .withColumnRenamed("last_seq", seqCol)
          .withColumnRenamed("last_op", opCol)
        Cdc.mergeLatest(
          prev.unionByName(batch.select(prev.columns.map(col): _*)),
          keyCols, seqCol, opCol, keepTombstones = true)
      }
    val out = merged.transform(Ckpt.cut)
    swapIn(spark, snapshotDir, ".applying", "apply")(
      out.write.mode("overwrite").parquet(_))
    out
  }

  /** One micro-batch of streaming subject erasure: remove every
    * snapshot row whose `fkCol` appears in the batch of erased keys
    * (first column of `batch`), via the same broadcast anti-join as
    * [[graft.operators.Erasure.retain]] and the same two-rename swap
    * as [[applyCdcBatch]]. Idempotent by construction — re-applying
    * a key that is already gone removes nothing — so replay after a
    * restart reproduces the identical snapshot.
    * @return rows purged this batch */
  def applyErasureBatch(batch: DataFrame, snapshotDir: String,
      fkCol: String): Long = {
    import org.apache.hadoop.fs.Path
    import graft.operators.Erasure
    val spark = batch.sparkSession
    val dst = new Path(snapshotDir)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(dst),
      s"applyErasureBatch: no snapshot at $snapshotDir — erasure " +
        "edits an existing table, it does not create one")
    val keys = batch.transform(Ckpt.cut)
    val prev = spark.read.parquet(snapshotDir)
    val before = prev.count()
    val out = Erasure.retain(prev, fkCol, keys).transform(Ckpt.cut)
    val after = out.count()
    swapIn(spark, snapshotDir, ".applying", "apply")(
      out.write.mode("overwrite").parquet(_))
    before - after
  }

  /** Standing streaming erasure: every micro-batch of
    * right-to-be-forgotten keys purges the on-disk snapshot via
    * [[applyErasureBatch]] — the operational form of [[graft
    * .operators.Erasure]] (requests trickle in; each trigger is one
    * broadcast anti-join + table swap). Exactly-once per micro-batch
    * from checkpointed offsets + the idempotent purge. */
  def startErasureApply(requests: DataFrame, snapshotDir: String,
      checkpointDir: String, fkCol: String): StreamingQuery =
    eachBatch(requests, checkpointDir) { (batch, _) =>
      applyErasureBatch(batch.toDF(), snapshotDir, fkCol)
    }.start()

  /** Standing streaming CDC apply: every micro-batch of change rows
    * folds into the snapshot via [[applyCdcBatch]]. Exactly-once
    * per micro-batch comes from the checkpointed source offsets +
    * the idempotent last-wins merge: re-applying a batch after a
    * restart reproduces the identical snapshot (seq decides, not
    * delivery count — the spec pins replay idempotence). */
  def startCdcApply(changes: DataFrame, snapshotDir: String,
      checkpointDir: String, keyCols: Seq[String], seqCol: String,
      opCol: String): StreamingQuery =
    eachBatch(changes, checkpointDir) { (batch, _) =>
      applyCdcBatch(batch.toDF(), snapshotDir, keyCols, seqCol, opCol)
    }.start()

  /** One micro-batch of the declarative streaming upsert: collapse
    * the batch to its per-key latest change ([[graft.operators.Cdc
    * .mergeLatest]], tombstones kept) and MERGE it into a catalog
    * table — the ANSI form of [[applyCdcBatch]], planned by Spark's
    * own `RewriteMergeIntoTable` against the target's row-level
    * operation ([[graft.sources.GraftCatalog]], in-memory or
    * parquet-persisted).
    *
    * Target schema contract: keyCols ++ payload ++ (last_seq,
    * last_op) — exactly [[graft.operators.Cdc.mergeLatest]]'s
    * keepTombstones=true output, so the table after any prefix of
    * batches equals mergeLatest over the union of those batches
    * (tombstone rows persist with last_op = "D"; readers filter,
    * same contract as [[cdcSnapshot]] — dropping them would let a
    * late lower-seq change resurrect a deleted key).
    *
    * Idempotence (the exactly-once half foreachBatch can't give
    * you): the matched clause guards on `s.last_seq >= t.last_seq`,
    * so replaying a batch after a restart-before-checkpoint-commit
    * re-applies equal-seq rows to their identical values — the
    * [[writeBatchIdempotent]] property, in MERGE form.
    *
    * Scale shape: per trigger, one batch-sized partial-aggregable
    * collapse + one MERGE whose source is batch-sized — the target
    * is touched only through the catalog's row-level scan/replace
    * contract, never rescanned driver-side. */
  def mergeUpsertBatch(batch: DataFrame, targetTable: String,
      keyCols: Seq[String], seqCol: String, opCol: String): Unit = {
    val spark = batch.sparkSession
    val collapsed = graft.operators.Cdc.mergeLatest(batch, keyCols,
      seqCol, opCol, keepTombstones = true)
    val view = "graft_upsert_src_" +
      targetTable.replaceAll("[^A-Za-z0-9]", "_")
    collapsed.createOrReplaceTempView(view)
    val on = keyCols.map(k => s"t.`$k` = s.`$k`").mkString(" AND ")
    spark.sql(
      s"""MERGE INTO $targetTable t USING $view s ON $on
          WHEN MATCHED AND s.last_seq >= t.last_seq
            THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *""")
    ()
  }

  /** Standing declarative streaming upsert: every micro-batch of
    * change rows MERGEs into `targetTable` via [[mergeUpsertBatch]]
    * — the deployment composition of [[startCdcApply]] (same change
    * log, same final snapshot) with the ANSI MERGE surface (q162).
    * Exactly-once = checkpointed offsets + the seq-guarded
    * idempotent MERGE. The target table must pre-exist with the
    * mergeLatest(keepTombstones) schema, in a PERSISTED catalog
    * (`spark.sql.catalog.<name>.path`): foreachBatch runs in a
    * cloned session whose own catalog instance resolves the table
    * from its parquet snapshot — a purely in-memory catalog table
    * isn't visible across the clone, and the snapshot-fingerprint
    * staleness check in [[graft.sources.GraftCatalog.loadTable]] is
    * what lets the user's session see each micro-batch's result. */
  def startMergeUpsert(changes: DataFrame, targetTable: String,
      checkpointDir: String, keyCols: Seq[String], seqCol: String,
      opCol: String): StreamingQuery =
    eachBatch(changes, checkpointDir) { (batch, _) =>
      mergeUpsertBatch(batch.toDF(), targetTable, keyCols, seqCol, opCol)
    }.start()

  /** Reader view of a [[startCdcApply]] snapshot: live rows only.
    * During the two-rename swap window the main path briefly doesn't
    * exist; this falls back to the `.old` snapshot (the pre-swap
    * table — a consistent, one-batch-stale view) instead of failing.
    * The residual race (swap completing between the existence check
    * and the read binding) surfaces as a retryable path-not-found. */
  def cdcSnapshot(spark: SparkSession, snapshotDir: String)
      : DataFrame = {
    import org.apache.hadoop.fs.Path
    val dst = new Path(snapshotDir)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val path =
      if (fs.exists(dst)) snapshotDir
      else if (fs.exists(new Path(snapshotDir + ".old")))
        snapshotDir + ".old"
      else snapshotDir
    spark.read.parquet(path).filter(col("last_op") =!= "D")
  }

  /** Replay a persisted [[graft.sources.GraftCatalog]] table's
    * change feed as an ORDERED stream of per-commit deltas — the
    * consumption shape for incremental retraining on a dataset pin
    * (q257's `tableChanges` × the streaming family): each commit
    * k→k+1 in the table's log is delivered once, in commit order,
    * as a [[graft.sources.GraftCatalog.tableChanges]] frame tagged
    * `_commit_version` (the arriving version). A durable high-water
    * mark under `ckptDir` (tmp-write + rename) makes the replayer
    * restart-safe: a new replayer over the same checkpoint resumes
    * at the first undelivered commit, so the concatenation of feeds
    * across restarts equals the batch change feed over the whole
    * window. First call with no checkpoint adopts the log's EARLIEST
    * retained version as the base pin and delivers deltas from there
    * (consumers needing the base itself read `VERSION AS OF` first).
    * Crash-healed logs with version gaps (e.g. 0→2) replay the
    * log's actual adjacent pairs. Exactly-once per commit holds when
    * the sink is idempotent per `_commit_version` — the same
    * contract foreachBatch gives batchIds (a crash between sink and
    * checkpoint write redelivers that one commit).
    *
    * Scale shape: per delivery, [[graft.operators.Cdc.snapshotDiff]]
    * over two retained snapshots — a full-outer hash join on the
    * keys, no driver-side rows; the replayer itself touches only the
    * commit log and one small checkpoint file per delivery.
    *
    * @return the new high-water mark (last delivered version) */
  def replayTableChanges(spark: SparkSession, catalog: String,
      table: String, keyCols: Seq[String], ckptDir: String)(
      sink: (DataFrame, Long) => Unit): Long = {
    import org.apache.hadoop.fs.Path
    import graft.sources.GraftCatalog
    val versions = GraftCatalog.history(spark, catalog, table)
      .select("version").orderBy("version")
      .collect().map(_.getLong(0)).toSeq
    require(versions.nonEmpty, s"$catalog.$table has no commits")
    val mark = new Path(ckptDir, "feed_version")
    val fs = mark.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val last: Long =
      if (fs.exists(mark)) {
        val in = fs.open(mark)
        try scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString.trim.toLong
        finally in.close()
      } else {
        // no checkpoint: pin the earliest retained version as base
        writeMark(fs, mark, versions.head)
        versions.head
      }
    var hwm = last
    versions.filter(_ > last).foreach { v =>
      val delta = GraftCatalog
        .tableChanges(spark, catalog, table, keyCols, hwm, v)
        .withColumn("_commit_version", lit(v))
      sink(delta, v)
      writeMark(fs, mark, v)
      hwm = v
    }
    hwm
  }

  private def writeMark(fs: org.apache.hadoop.fs.FileSystem,
      mark: org.apache.hadoop.fs.Path, v: Long): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(
      mark.getParent, mark.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    fs.delete(mark, false)
    if (!fs.rename(tmp, mark)) throw new java.io.IOException(
      s"could not publish change-feed checkpoint $mark")
  }

  /** [[replayTableChanges]] on a trigger: a one-row-per-trigger rate
    * source drives the poller, so new commits land at the consumer
    * within one trigger interval without the consumer scheduling
    * anything. The replay checkpoint lives under `ckptDir/feed`,
    * the trigger's own streaming checkpoint under `ckptDir/trigger`
    * — restarting the query resumes both. */
  def startTableChangesFeed(spark: SparkSession, catalog: String,
      table: String, keyCols: Seq[String], ckptDir: String,
      triggerInterval: String = "1 second")(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val ticks = spark.readStream.format("rate")
      .option("rowsPerSecond", 1).load()
    eachBatch(ticks, s"$ckptDir/trigger") { (_, _) =>
      replayTableChanges(spark, catalog, table, keyCols,
        s"$ckptDir/feed")(sink)
    }.trigger(Trigger.ProcessingTime(triggerInterval)).start()
  }

  /** Streaming OHLC bars — q169's candle downsampling as a
    * watermarked tumbling aggregate: open/close ride the same
    * `min_by`/`max_by` over an (event-time, id) struct the batch
    * operator uses, so a candle closes bit-identical to the batch
    * answer over the same events once its window passes the
    * watermark. State is one in-flight candle row per (key, window)
    * — evicted at the horizon; no per-event state. Run in `append`
    * mode to emit each candle exactly once, on close. */
  def ohlcStream(events: DataFrame, tsCol: String, keyCol: String,
      idCol: String, valueCol: String, windowLen: String,
      watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(
        min_by(col(valueCol), struct(col(tsCol), col(idCol)))
          .as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        max_by(col(valueCol), struct(col(tsCol), col(idCol)))
          .as("close"),
        count(lit(1)).as("n_trades"),
        sum(col(valueCol)).as("sum_value"))
      .select(col("window.start").as("bar_start"), col(keyCol),
        col("open"), col("high"), col("low"), col("close"),
        col("n_trades"), col("sum_value"))

  /** One SpaceSaving summary row: `est` overestimates the item's
    * true count by at most `err` (true ≤ est ≤ true + err); `ver`
    * is the bucket summary's update generation, so a consumer of
    * the update-mode emissions keeps max-`ver` rows per bucket. */
  final case class HhEntry(bucket: Long, item: Long, est: Long,
      err: Long, ver: Long)

  private[streaming] final case class SsState(
      entries: Seq[(Long, Long, Long)], ver: Long)

  /** Bounded-state streaming heavy hitters — SpaceSaving (Metwally
    * et al. '05) sharded over `buckets` independent summaries of
    * `capacity` counters each. THE state-bounded frequent-items
    * primitive: per-key counting state grows with the key universe,
    * but a SpaceSaving summary is O(capacity) forever while
    * guaranteeing (per bucket, N = items routed there): every item
    * with true count > N/capacity is IN the summary, and
    * true ≤ est ≤ true + err for every summarized item.
    *
    * Determinism: SpaceSaving is arrival-order-sensitive, so rows
    * carry an explicit sequence number and each micro-batch is
    * processed in seq order — shuffle order can't change the
    * summary. Eviction is the (min est, min item) victim. Run in
    * `update` mode; each trigger emits the touched buckets' full
    * summaries tagged with a new `ver`.
    *
    * @param items (seq, item) stream
    */
  def heavyHittersStream(items: Dataset[(Long, Long)], buckets: Int,
      capacity: Int): Dataset[HhEntry] = {
    require(buckets >= 1 && capacity >= 1,
      s"buckets and capacity must be >= 1: $buckets, $capacity")
    import items.sparkSession.implicits._
    items.groupByKey(r => java.lang.Math.floorMod(r._2, buckets.toLong))
      // not gapSessions: a bucket summary is keyed by hash, not time
      .flatMapGroupsWithState[SsState, HhEntry](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (bucket: Long, rows: Iterator[(Long, Long)],
         state: GroupState[SsState]) =>
          val s = state.getOption.getOrElse(SsState(Seq.empty, 0L))
          val entries = scala.collection.mutable.LinkedHashMap(
            s.entries.map(e => e._1 -> ((e._2, e._3))): _*)
          rows.toSeq.sortBy(_._1).foreach { case (_, item) =>
            entries.get(item) match {
              case Some((est, err)) => entries(item) = (est + 1, err)
              case None if entries.size < capacity =>
                entries(item) = (1L, 0L)
              case None =>
                val (vItem, (vEst, _)) = entries
                  .minBy { case (it, (est, _)) => (est, it) }
                entries.remove(vItem)
                entries(item) = (vEst + 1, vEst)
            }
          }
          val ver = s.ver + 1
          state.update(SsState(
            entries.toSeq.map { case (i, (e, r)) => (i, e, r) }, ver))
          entries.toSeq
            .map { case (i, (e, r)) => HhEntry(bucket, i, e, r, ver) }
            .iterator
      }
  }

  /** Streaming twin of [[graft.operators.Drift.histDrift]]: score
    * every closed event-time window of the stream against a FIXED
    * baseline histogram (the artifact [[graft.operators.Drift
    * .baselineOf]] materializes from the reference snapshot) — the
    * standing drift monitor a feature pipeline runs on its input
    * feed. Emits, per finalized window, the identical per-bin row
    * shape the batch pass produces (n_base/p_ppb are baseline
    * constants folded in at plan time; all scores are the
    * [[graft.operators.Drift]] integer-ppb contract — no double in
    * any emitted column), so
    * `driftStream(events, baselineOf(base)) ==
    *  histDrift(base ∪ windowEvents)` row-for-row per window — the
    * contract StreamDriftSpec pins across micro-batch splits.
    *
    * Scale shape: ONE watermarked windowed aggregation whose state
    * per window is `bins` conditional counters (not per-event rows);
    * the per-bin fan-out is a stateless post-agg projection
    * (array+explode). Append mode: a window's rows emit exactly
    * once, when the watermark passes its end.
    */
  def driftStream(events: DataFrame, tsCol: String, valueCol: String,
      windowLen: String, watermark: String, baseLo: Double,
      baseHi: Double, baseCounts: Seq[Long]): DataFrame = {
    val bins = baseCounts.size
    require(bins >= 2, s"need >= 2 baseline bins, got $bins")
    val baseTotal = baseCounts.sum
    val binned = events
      .withWatermark(tsCol, watermark)
      .withColumn("__bin", graft.operators.Drift.binOf(
        col(valueCol).cast("double"), lit(baseLo), lit(baseHi), bins))
    val counters = (0 until bins).map(b =>
      sum(when(col("__bin") === b, 1L).otherwise(0L)).as(s"c$b"))
    val agged = binned
      .groupBy(window(col(tsCol), windowLen))
      .agg(counters.head, counters.tail: _*)
    val total = (0 until bins).map(b => col(s"c$b"))
      .reduce(_ + _)
    val rows = array((0 until bins).map { b =>
      // p_ppb is a baseline constant: the same integer
      // (n+1)·10⁹ div (N+bins) the batch pass computes from its
      // columns, via the identical overflow-safe decomposition
      val a = baseCounts(b) + 1L
      val d = baseTotal + bins
      val pPpb = (a / d) * graft.operators.Drift.Ppb +
        ((a % d) * graft.operators.Drift.Ppb) / d
      struct(
        lit(b.toLong).as("bin"),
        lit(baseCounts(b)).as("n_base"),
        col(s"c$b").as("n_cur"),
        lit(pPpb).as("p_ppb"))
    }: _*)
    agged
      .select(col("window.start").as("window_start"),
        (total + lit(bins.toLong)).as("tcd"), explode(rows).as("r"))
      .select(col("window_start"), col("r.bin").as("bin"),
        col("r.n_base").as("n_base"), col("r.n_cur").as("n_cur"),
        col("r.p_ppb").as("p_ppb"),
        graft.operators.Drift.mulDivPpb("r.n_cur + 1", "tcd")
          .as("q_ppb"))
      .select(col("window_start"), col("bin"), col("n_base"),
        col("n_cur"), col("p_ppb"), col("q_ppb"),
        expr("abs(p_ppb - q_ppb) DIV 2").as("tv_ppb"),
        expr("((q_ppb - p_ppb) * (q_ppb - p_ppb)) DIV p_ppb")
          .as("chi_ppb"))
  }

  /** Streaming twin of [[graft.operators.Drift.ksBins]]: per closed
    * event-time window, the binned Kolmogorov-Smirnov gap between the
    * window's values and the FIXED baseline histogram — so a
    * monitoring deployment gets BOTH per-bin mass drift
    * ([[driftStream]]) and the location-shift score per window.
    * `ksDriftStream(events, baselineOf(base)) ==
    *  ksBins(base ∪ windowEvents)` row-for-row per closed window
    * (StreamDriftSpec pins it across micro-batch splits).
    *
    * Scale shape: the identical single watermarked windowed
    * aggregation as [[driftStream]] — `bins` conditional counters of
    * state per window; the cumulative sums are constant-folded
    * prefix sums over those counters (bins is a plan-time constant),
    * a stateless post-agg projection. All emitted scores are the
    * [[graft.operators.Drift]] integer-ppb contract.
    */
  def ksDriftStream(events: DataFrame, tsCol: String,
      valueCol: String, windowLen: String, watermark: String,
      baseLo: Double, baseHi: Double,
      baseCounts: Seq[Long]): DataFrame = {
    val bins = baseCounts.size
    require(bins >= 2, s"need >= 2 baseline bins, got $bins")
    val baseTotal = baseCounts.sum
    val binned = events
      .withWatermark(tsCol, watermark)
      .withColumn("__bin", graft.operators.Drift.binOf(
        col(valueCol).cast("double"), lit(baseLo), lit(baseHi), bins))
    val counters = (0 until bins).map(b =>
      sum(when(col("__bin") === b, 1L).otherwise(0L)).as(s"c$b"))
    val agged = binned
      .groupBy(window(col(tsCol), windowLen))
      .agg(counters.head, counters.tail: _*)
    val total = (0 until bins).map(b => col(s"c$b"))
      .reduce(_ + _)
    val rows = array((0 until bins).map { b =>
      // baseline cumulative share is a plan-time integer constant;
      // the stream side's cumulative count is a prefix sum over the
      // window's bin counters (bins is a constant, so the prefix is
      // an expression, not state)
      val cumBase = baseCounts.take(b + 1).sum
      val cumBasePpb = (cumBase / baseTotal) *
        graft.operators.Drift.Ppb +
        ((cumBase % baseTotal) * graft.operators.Drift.Ppb) /
          baseTotal
      val cumCur = (0 to b).map(i => col(s"c$i")).reduce(_ + _)
      struct(
        lit(b.toLong).as("bin"),
        lit(baseCounts(b)).as("n_base"),
        col(s"c$b").as("n_cur"),
        lit(cumBase).as("cum_base"),
        cumCur.as("cum_cur"),
        lit(cumBasePpb).as("cum_base_ppb"))
    }: _*)
    agged
      .select(col("window.start").as("window_start"),
        total.as("tc"), explode(rows).as("r"))
      .select(col("window_start"), col("r.bin").as("bin"),
        col("r.n_base").as("n_base"), col("r.n_cur").as("n_cur"),
        col("r.cum_base").as("cum_base"),
        col("r.cum_cur").as("cum_cur"),
        abs(col("r.cum_base_ppb") -
          graft.operators.Drift.mulDivPpb("r.cum_cur", "tc"))
          .as("d_ppb"))
  }

  /** Streaming embedding-centroid drift — [[graft.operators.Drift
    * .embeddingCentroidDrift]] (q230) per event-time window: each
    * closed window's per-label centroid compared against a STATIC
    * baseline snapshot, completing the drift trio's streaming side
    * (histogram [[driftStream]], KS [[ksDriftStream]], and now
    * embedding space — "the new crawl embeds somewhere else", live).
    *
    * Exactness: components snap to micro-ints inside the
    * [[graft.functions.Aggregators.VecMicroSum]] Aggregator — the
    * IDENTICAL floor(x·1e6 + 0.5) chain the batch operator's column
    * expression runs — so a closed window's drift equals the batch
    * operator on the same vectors bit-for-bit (spec'd). The
    * comparison is the same cross-multiplied integral form: numerator
    * in DECIMAL(38,0), one div, pico units.
    *
    * Scale shape: ONE watermarked windowed aggregation whose state
    * is a dim-length long array + count per (window, label) — the
    * partial-aggregable form of the batch per-dimension explode,
    * without dim× rows in the state store. The baseline aggregates
    * once (batch side) and broadcasts into a stream-static join
    * AFTER the aggregation, so it re-reads on dimension refresh like
    * [[enrichWithStatic]].
    *
    * @param baseline static (labelCol, embCol) snapshot frame
    * @return per closed (window, label): window_start, label,
    *         c_base, c_cand, drift_pico */
  def embeddingDriftStream(vectors: DataFrame, tsCol: String,
      labelCol: String, embCol: String, dim: Int,
      windowLen: String, watermark: String,
      baseline: DataFrame): DataFrame = {
    val vecSum =
      udaf(new graft.functions.Aggregators.VecMicroSum(dim))
    val base = baseline
      .groupBy(col(labelCol).as("label"))
      .agg(vecSum(col(embCol)).as("sB"),
        count(lit(1)).as("c_base"))
    // μ_cand − μ_base cross-multiplied: each side's SUM rides the
    // OTHER side's count (sA/c_cand − sB/c_base ∝ sA·c_base − sB·c_cand)
    val driftExpr = expr("""
      aggregate(
        zip_with(sA, sB, (a, b) ->
          CAST(a AS DECIMAL(38,0)) * c_base -
          CAST(b AS DECIMAL(38,0)) * c_cand),
        CAST(0 AS DECIMAL(38,0)),
        (acc, t) -> CAST(acc + t * t AS DECIMAL(38,0)))
      div ((CAST(c_base AS DECIMAL(38,0)) * c_cand) *
           (CAST(c_base AS DECIMAL(38,0)) * c_cand))""")
    vectors
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen),
        col(labelCol).as("label"))
      .agg(vecSum(col(embCol)).as("sA"),
        count(lit(1)).as("c_cand"))
      .join(broadcast(base), Seq("label"))
      .select(col("window.start").as("window_start"), col("label"),
        col("c_base"), col("c_cand"), driftExpr.as("drift_pico"))
  }

  /** Streaming calibration monitor — the q235 reliability diagram
    * ([[graft.operators.Evals.calibrationBins]]) per closed
    * event-time window: a deployed model's predicted confidences and
    * realized outcomes stream in; each closed window emits its
    * per-bin confidence mass, hit count, |Σconf − pos·1e6| gap, and
    * the window's ECE — calibration regression caught live, per
    * window, in the same exact integer-ppm algebra as the batch
    * operator.
    *
    * Equivalence contract (spec'd): per closed window, rows ==
    * `Evals.calibrationBins(windowEvents)` with `window_start`
    * prepended — empty bins are dropped post-projection to match the
    * batch groupBy, and the ECE is computed from the SAME row's
    * counters (all bins live in one pre-explode row), so no second
    * aggregation is needed.
    *
    * Scale shape: ONE watermarked windowed aggregation with 3·bins
    * conditional counters of state per window (never per-event
    * rows); the per-bin fan-out is a stateless post-agg projection —
    * the [[driftStream]] state contract. Append mode: each window
    * emits exactly once when the watermark passes its end.
    */
  def calibrationStream(preds: DataFrame, tsCol: String,
      confPpmCol: String, posCol: String, windowLen: String,
      watermark: String, bins: Int): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    val binned = preds
      .withWatermark(tsCol, watermark)
      .withColumn("__bin",
        expr(s"(`$confPpmCol` * $bins) div 1000000"))
      .withColumn("__y",
        when(col(posCol), 1L).otherwise(0L))
    // Conf-mass counters accumulate in DECIMAL(38,0) — the batch
    // twin's `wide` width — then cast back to long per bin: past
    // int64 the sum degrades to a loud NULL instead of wrapping
    // silently (the scaladoc's "same exact integer algebra" claim
    // only holds if the widths match too).
    val counters = (0 until bins).flatMap(b => Seq(
      sum(when(col("__bin") === b, 1L).otherwise(0L)).as(s"n$b"),
      sum(when(col("__bin") === b,
          col(confPpmCol).cast("decimal(38,0)"))
        .otherwise(lit(0L).cast("decimal(38,0)")))
        .cast("long").as(s"s$b"),
      sum(when(col("__bin") === b, col("__y")).otherwise(0L))
        .as(s"p$b")))
    val agged = binned
      .groupBy(window(col(tsCol), windowLen))
      .agg(counters.head, counters.tail: _*)
    val gapOf = (b: Int) => abs(col(s"s$b") -
      col(s"p$b").cast("decimal(38,0)") * lit(1000000L)).cast("long")
    val rows = array((0 until bins).map { b =>
      struct(lit(b.toLong).as("bin"), col(s"n$b").as("n"),
        col(s"s$b").as("sum_conf_ppm"), col(s"p$b").as("pos"),
        gapOf(b).as("gap"))
    }: _*)
    agged
      .select(col("window.start").as("window_start"),
        expr(s"(${(0 until bins).map(b =>
            s"abs(cast(s$b as decimal(38,0)) - " +
              s"cast(p$b as decimal(38,0)) * 1000000)")
            .mkString(" + ")}) div (${
            (0 until bins).map(b => s"n$b").mkString(" + ")})")
          .as("ece_ppm"),
        explode(rows).as("r"))
      .filter(col("r.n") > 0L)
      .select(col("window_start"), col("r.bin").as("bin"),
        col("r.n").as("n"), col("r.sum_conf_ppm").as("sum_conf_ppm"),
        col("r.pos").as("pos"), col("r.gap").as("gap"),
        col("ece_ppm"))
  }

  /** Streaming ranking-quality monitor — exact AUC of BINNED scores
    * per closed event-time window ([[graft.operators.Evals.exactAuc]]
    * over a bounded bin domain, live): label-score pairs stream in;
    * each closed window emits its positive/negative counts, the
    * exact rank-sum 2U over the bins, and auc_ppm — "did the model's
    * ranking power degrade this window?".
    *
    * Binning is the state bound: 2·bins conditional counters per
    * window (the [[driftStream]] contract), and the cumulative
    * negatives-below terms are constant-folded prefix sums over the
    * counters (bins is a plan-time constant) — a stateless post-agg
    * projection, no second aggregation. The emitted value is
    * EXACTLY `Evals.exactAuc` of the binned scores (spec-pinned per
    * window); binning coarsens ties like any histogram AUC.
    * Windows containing only one class have no defined AUC and are
    * dropped. Append mode: one row per window, at watermark close.
    *
    * @param binCol integral score bin in [0, bins)
    */
  def aucStream(scored: DataFrame, tsCol: String, binCol: String,
      posCol: String, windowLen: String, watermark: String,
      bins: Int): DataFrame = {
    require(bins >= 2, s"need >= 2 score bins, got $bins")
    val tagged = scored
      .withWatermark(tsCol, watermark)
      .withColumn("__y", when(col(posCol), 1L).otherwise(0L))
    val counters = (0 until bins).flatMap(b => Seq(
      sum(when(col(binCol) === b, col("__y")).otherwise(0L))
        .as(s"p$b"),
      sum(when(col(binCol) === b, lit(1L) - col("__y")).otherwise(0L))
        .as(s"q$b")))
    val agged = tagged
      .groupBy(window(col(tsCol), windowLen))
      .agg(counters.head, counters.tail: _*)
    val nPos = (0 until bins).map(b => col(s"p$b")).reduce(_ + _)
    val nNeg = (0 until bins).map(b => col(s"q$b")).reduce(_ + _)
    // 2U = Σ_b p_b·(2·q_below + q_b), q_below a folded prefix sum
    val twoU = (0 until bins).map { b =>
      val qBelow =
        if (b == 0) lit(0L)
        else (0 until b).map(j => col(s"q$j")).reduce(_ + _)
      col(s"p$b").cast("decimal(38,0)") *
        (lit(2L) * qBelow + col(s"q$b"))
    }.reduce(_ + _)
    agged
      .select(col("window.start").as("window_start"),
        nPos.as("n_pos"), nNeg.as("n_neg"),
        twoU.cast("decimal(38,0)").as("two_u_d"))
      .filter(col("n_pos") > 0L && col("n_neg") > 0L)
      .select(col("window_start"), col("n_pos"), col("n_neg"),
        col("two_u_d").cast("long").as("two_u"),
        expr("(two_u_d * 500000)" +
          " div (cast(n_pos as decimal(38,0)) * n_neg)")
          .as("auc_ppm"))
  }

  /** Streaming per-window percentile monitor — the q202 mergeable
    * quantile sketch ([[graft.operators.QuantileSketch]]) as a
    * watermarked windowed aggregation: each closed event-time window
    * emits its row count and the sketch estimates at `qs`. The state
    * store holds one O(k·log n) sketch buffer per open window (the
    * Aggregator's buffer encoder serializes it), so a latency
    * dashboard gets p50/p95-per-minute with bounded state at any
    * volume — the streaming member of the sketch-rollup family
    * (q115 HLL / q121 CMS / q202 quantiles).
    *
    * The estimate projection is a scalar function over the per-WINDOW
    * state (output cardinality = windows, not events), so the
    * non-codegen udf sits outside every hot path.
    *
    * Estimate contract (same as q202): sketch estimates depend on
    * micro-batch partitioning via merge order, so stream==batch holds
    * EXACTLY only while windows stay within one uncompacted level-0
    * buffer (n ≤ k); beyond that the deterministic rank-error bound
    * ≤ L·n/2k applies under any merge order (StreamQuantileSpec pins
    * both regimes). n is always exact. */
  def quantileStream(events: DataFrame, tsCol: String, valueCol: String,
      windowLen: String, watermark: String, k: Int,
      qs: Seq[Double]): DataFrame = {
    import graft.operators.QuantileSketch
    val sk = udaf(new QuantileSketch.SketchAgg(k),
      org.apache.spark.sql.Encoders.scalaDouble)
    val est = udf((s: Seq[Seq[Double]]) => QuantileSketch.estimate(s, qs))
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen))
      .agg(sk(col(valueCol).cast("double")).as("state"),
        count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("n"),
        est(col("state")).as("est"))
  }
}
