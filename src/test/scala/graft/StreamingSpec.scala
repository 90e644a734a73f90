package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamOps

/** Structured Streaming semantics (G12) under MemoryStream: window
  * aggregation across micro-batches, watermark late-data drop,
  * watermark-bounded dedup, and arbitrary keyed state.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def processAll(q: org.apache.spark.sql.streaming
      .StreamingQuery): Unit = {
    q.processAllAvailable()
  }

  test("tumbling agg with watermark drops late data") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, Double)]
    val events = in.toDF().toDF("ts", "key", "value")
    val out = StreamOps.tumblingAgg(events, "ts", "key",
      "10 minutes", "5 minutes")
    val q = out.writeStream.format("memory").queryName("tumble")
      .outputMode("update").start()

    in.addData((ts("2024-01-01 00:01:00"), 1L, 1.0),
      (ts("2024-01-01 00:04:00"), 1L, 2.0))
    processAll(q)
    // advance watermark far past the first window…
    in.addData((ts("2024-01-01 01:00:00"), 1L, 5.0))
    processAll(q)
    // …then a late event for the closed 00:00 window: dropped
    in.addData((ts("2024-01-01 00:02:00"), 1L, 100.0))
    processAll(q)
    q.stop()

    val rows = spark.table("tumble")
      .select(date_format($"window.start", "HH:mm").as("w"), $"n",
        $"sum_value")
      .as[(String, Long, Double)].collect().toSet
    assert(rows.contains(("00:00", 2L, 3.0))) // late 100.0 not added
    assert(!rows.exists(r => r._1 == "00:00" && r._3 > 3.0))
    assert(rows.contains(("01:00", 1L, 5.0)))
  }

  test("dropDuplicatesWithinWatermark suppresses dups inside the window") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val out = StreamOps.dedupWithinWatermark(
      in.toDF().toDF("ts", "k"), "ts", "10 minutes", Seq("k"))
    val q = out.writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    in.addData((ts("2024-01-01 00:00:00"), "a"),
      (ts("2024-01-01 00:01:00"), "a"),
      (ts("2024-01-01 00:02:00"), "b"))
    processAll(q)
    in.addData((ts("2024-01-01 00:03:00"), "a")) // still within watermark
    processAll(q)
    q.stop()
    val ks = spark.table("dedup").select($"k").as[String].collect()
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(ks == Map("a" -> 1, "b" -> 1))
  }

  test("session_window groups by gap") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, Double)]
    val events = in.toDF().toDF("ts", "user_id", "value")
    val out = StreamOps.sessionAgg(events, "ts", "user_id",
      "5 minutes", "1 minute")
    val q = out.writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    in.addData(
      (ts("2024-01-01 00:00:00"), 1L, 1.0),
      (ts("2024-01-01 00:03:00"), 1L, 1.0), // same session (3m gap)
      (ts("2024-01-01 00:20:00"), 1L, 1.0)) // new session
    processAll(q)
    // push watermark forward so sessions finalize (append mode)
    in.addData((ts("2024-01-01 02:00:00"), 9L, 0.0))
    processAll(q)
    q.stop()
    val sessions = spark.table("sess")
      .filter($"user_id" === 1L)
      .select($"n_events".as[Long]).collect().sorted.toSeq
    assert(sessions == Seq(1L, 2L))
  }

  test("mapGroupsWithState accumulates across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val out = StreamOps.runningCounts(in.toDS())
    val q = out.writeStream.format("memory").queryName("counts")
      .outputMode("update").start()
    in.addData((1L, ts("2024-01-01 00:00:00")),
      (1L, ts("2024-01-01 00:01:00")), (2L, ts("2024-01-01 00:00:30")))
    processAll(q)
    in.addData((1L, ts("2024-01-01 00:05:00")))
    processAll(q)
    q.stop()
    val last = spark.table("counts")
      .groupBy($"key").agg(max($"n").as("n"))
      .as[(Long, Long)].collect().toMap
    assert(last == Map(1L -> 3L, 2L -> 1L))
  }

  private val providerClass =
    "spark.sql.streaming.stateStore.providerClass"
  private val rocksDb = "org.apache.spark.sql.execution.streaming.state" +
    ".RocksDBStateStoreProvider"
  private val gap = 5 * 60 * 1000L

  /** Feeds each of `batches` to `op` as one micro-batch through an
    * append-mode memory sink named `name`; returns the emitted rows and
    * the custom state-store metric names the query reported. */
  private def runBatches[I: Encoder, O: Encoder](name: String,
      batches: Seq[Seq[I]])(op: Dataset[I] => Dataset[O])
      : (Seq[O], Set[String]) = {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[I]
    val q = op(in.toDS()).writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    batches.foreach { b => in.addData(b); processAll(q) }
    val metrics = q.recentProgress.flatMap(_.stateOperators)
      .flatMap(_.customMetrics.keySet.asScala).toSet
    q.stop()
    (spark.table(name).as[O].collect().toSeq, metrics)
  }

  // jump event time far forward → watermark passes, session times out
  private val sessBatches = Seq(
    Seq((1L, ts("2024-01-01 00:00:00")), (1L, ts("2024-01-01 00:02:00"))),
    Seq((1L, ts("2024-01-01 03:00:00"))),
    Seq((1L, ts("2024-01-01 06:00:00"))))
  private def sessionize(name: String) =
    runBatches(name, sessBatches)(StreamOps.sessionizeWithState(_, gap))
  private lazy val sessDefault = sessionize("fsess")._1

  // user 1's first session SPANS two micro-batches (a,b then c,d);
  // user 2 has a 3-event session in batch 1. In batch 3 the next
  // user-1 event is > 5 min after "d", so the first session closes at
  // the gap with grams a>b>c, b>c>d — crucially NOT d>e>f spanning the
  // gap. Batches 4 and 5 jump event time far forward for both keys →
  // watermark closes the remaining open sessions.
  private val pathBatches = Seq(
    Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, "a"),
      (1L, ts("2024-01-01 00:02:00"), 2L, "b"),
      (2L, ts("2024-01-01 00:00:00"), 3L, "x"),
      (2L, ts("2024-01-01 00:01:00"), 4L, "y"),
      (2L, ts("2024-01-01 00:02:00"), 5L, "z")),
    Seq(
      (1L, ts("2024-01-01 00:03:00"), 6L, "c"),
      (1L, ts("2024-01-01 00:04:00"), 7L, "d")),
    Seq(
      (1L, ts("2024-01-01 01:00:00"), 8L, "e"),
      (1L, ts("2024-01-01 01:01:00"), 9L, "f")),
    Seq((1L, ts("2024-01-01 09:00:00"), 10L, "g"),
      (2L, ts("2024-01-01 09:00:00"), 11L, "g")),
    Seq((1L, ts("2024-01-01 18:00:00"), 12L, "h"),
      (2L, ts("2024-01-01 18:00:00"), 13L, "h")))
  private def sessionPaths(name: String) =
    runBatches(name, pathBatches)(StreamOps.sessionPathsStream(_, gap, 3))
  private lazy val pathsDefault = sessionPaths("spaths")._1

  // user 1: a b (batch 1) then b c (batch 2) — one contiguous
  // a>b>b>c match that must survive the micro-batch boundary;
  // then a gap, then a c — NOT a match (b+ requires a b, and the
  // pre-gap events must not chain across). The last two batches are an
  // event-time jump that closes everything.
  private val matchBatches = Seq(
    Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, "a"),
      (1L, ts("2024-01-01 00:01:00"), 2L, "b"),
      (2L, ts("2024-01-01 00:00:00"), 3L, "a"),
      (2L, ts("2024-01-01 00:01:00"), 4L, "c")),
    Seq(
      (1L, ts("2024-01-01 00:02:00"), 5L, "b"),
      (1L, ts("2024-01-01 00:03:00"), 6L, "c")),
    Seq(
      (1L, ts("2024-01-01 01:00:00"), 7L, "a"),
      (1L, ts("2024-01-01 01:01:00"), 8L, "c")),
    Seq((1L, ts("2024-01-01 09:00:00"), 9L, "z"),
      (2L, ts("2024-01-01 09:00:00"), 10L, "z")),
    Seq((1L, ts("2024-01-01 18:00:00"), 11L, "z"),
      (2L, ts("2024-01-01 18:00:00"), 12L, "z")))
  private def matchRecognize(name: String) =
    runBatches(name, matchBatches)(
      StreamOps.matchRecognizeStream(_, gap, pattern = "a b+ c"))
  private lazy val matchDefault = matchRecognize("smatch")._1

  test("flatMapGroupsWithState sessionizer emits closed sessions") {
    val done = sessDefault
      .map(s => (s.key, s.start, s.end, s.nEvents))
    assert(done.map(_._4).contains(2L)) // first session (2 events) closed
    // each later event lands > gap after the open session, so it closes
    // that session in-batch; the 06:00 session is still open
    assert(done.sortBy(_._2.getTime) == Seq(
      (1L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:02:00"), 2L),
      (1L, ts("2024-01-01 03:00:00"), ts("2024-01-01 03:00:00"), 1L)),
      done.toString)
  }

  test("sessionPathsStream emits q148's per-session grams as sessions close") {
    val sessions = pathsDefault.map(s => (s.key, s.nEvents, s.paths))
    // user 1 session 1 crossed the micro-batch boundary intact
    assert(sessions.exists { case (k, ne, p) =>
      k == 1L && ne == 4L && p == Seq("a>b>c", "b>c>d") },
      s"cross-batch session wrong: $sessions")
    // user 2's batch-1 session closed by watermark with one gram
    assert(sessions.exists { case (k, ne, p) =>
      k == 2L && ne == 3L && p == Seq("x>y>z") }, sessions.toString)
    // no gram spans the 56-minute gap
    assert(!sessions.exists(_._3.exists(_.contains("d>e"))),
      s"gram spanned an inactivity gap: $sessions")
    // sub-n sessions emit zero grams (e.g. the 2-event e,f session)
    assert(sessions.exists { case (k, ne, p) =>
      k == 1L && ne == 2L && p.isEmpty }, sessions.toString)

    // closed-session grams match the BATCH operator on the same
    // events (restricted to sessions the stream has closed)
    val batchPaths = graft.operators.Journeys.topPathsSessionized(
        pathBatches.take(3).flatten
          .toDF("user_id", "ts", "event_id", "event_type"),
        "user_id", "event_type", "ts", "event_id",
        gapSec = 300L, n = 3, k = 100)
      .as[(String, Long)].collect().toMap
    val streamed = sessions.filter(s => s._1 <= 2L)
      .flatMap(_._3).groupBy(identity).view.mapValues(_.size.toLong)
      .toMap
    // drop the closer-event sessions (g/h) the batch frame lacks
    val expected = batchPaths
    assert(streamed.filter { case (p, _) => expected.contains(p) }
      == expected,
      s"stream grams $streamed vs batch $expected")
  }

  test("matchRecognizeStream == batch matchRecognize over the same " +
      "events, matches never span gaps or micro-batch boundaries") {
    val got = matchDefault
      .map(m => (m.key, m.match_no, m.match_path, m.match_len)).toSet
    assert(got === Set((1L, 1L, "a>b>b>c", 4L)),
      s"stream matches wrong: $got")
    // batch operator over the same events agrees
    val batch = graft.operators.Journeys.matchRecognize(
        matchBatches.take(3).flatten
          .toDF("user_id", "ts", "event_id", "event_type"),
        "user_id", "ts", "event_id", "event_type", "a b+ c",
        gapSec = 300L)
      .select($"user_id", $"match_no", $"match_path", $"match_len")
      .as[(Long, Long, String, Long)].collect().toSet
    assert(batch === got, s"batch $batch != stream $got")
  }

  /** The RocksDB state store (the provider for large keyed state) must
    * emit the same multiset as the default HDFS-backed store; the
    * provider's own custom metrics prove the conf took effect. */
  private def assertSameOnRocksDb[O](default: Seq[O],
      run: => (Seq[O], Set[String])): Unit = {
    val (rocks, metrics) = withConf(providerClass, rocksDb)(run)
    assert(metrics.exists(_.startsWith("rocksdb")),
      s"not on the RocksDB store: $metrics")
    def bag(rows: Seq[O]) = rows.groupMapReduce(identity)(_ => 1)(_ + _)
    assert(bag(rocks) == bag(default),
      s"RocksDB $rocks != default $default")
  }

  test("RocksDB state store: sessionizeWithState emits the default " +
      "store's sessions") {
    assertSameOnRocksDb(sessDefault, sessionize("fsess_rocksdb"))
  }

  test("RocksDB state store: sessionPathsStream emits the default " +
      "store's session paths") {
    assertSameOnRocksDb(pathsDefault, sessionPaths("spaths_rocksdb"))
  }

  test("RocksDB state store: matchRecognizeStream emits the default " +
      "store's matches") {
    assertSameOnRocksDb(matchDefault, matchRecognize("smatch_rocksdb"))
  }

  /** An out-of-order event inside the watermark and before the open
    * session's start moves the start back: the emitted span covers
    * both events, as batch `Sessionize` starts it at 00:00:30. */
  private def earlyEvent(name: String) =
    runBatches(name, Seq(Seq((1L, ts("2024-01-01 00:01:00"))),
        Seq((1L, ts("2024-01-01 00:00:30"))),
        Seq((1L, ts("2024-01-01 01:00:00")))))(
      StreamOps.sessionizeWithState(_, 60000L))

  /** A fractional-second gap gets a watermark of the whole gap: the
    * event 1.2 s behind, inside the 1.5 s gap, joins the session
    * instead of being dropped as late. */
  private def fractionalGap(name: String) =
    runBatches(name, Seq(Seq((1L, ts("2024-01-01 00:00:10"))),
        Seq((1L, ts("2024-01-01 00:00:08.8"))),
        Seq((1L, ts("2024-01-01 01:00:00")))))(
      StreamOps.sessionizeWithState(_, 1500L))

  test("an in-watermark event before the session start moves it back") {
    val want = Seq(StreamOps.Session(1L, ts("2024-01-01 00:00:30"),
      ts("2024-01-01 00:01:00"), 2L))
    assert(earlyEvent("sess_early")._1 == want)
    assertSameOnRocksDb(want, earlyEvent("sess_early_rocksdb"))
  }

  test("a fractional-second gap keeps a late event inside the gap") {
    val want = Seq(StreamOps.Session(1L, ts("2024-01-01 00:00:08.8"),
      ts("2024-01-01 00:00:10"), 2L))
    assert(fractionalGap("sess_frac")._1 == want)
    assertSameOnRocksDb(want, fractionalGap("sess_frac_rocksdb"))
  }

  test("gap sessionizers reject a non-positive gapMs, naming it") {
    implicit val sqlCtx = spark.sqlContext
    for (g <- Seq(0L, -60000L)) {
      val calls = Seq[() => Any](
        () => StreamOps.sessionizeWithState(
          MemoryStream[(Long, Timestamp)].toDS(), g),
        () => StreamOps.sessionPathsStream(
          MemoryStream[(Long, Timestamp, Long, String)].toDS(), g, 3),
        () => StreamOps.matchRecognizeStream(
          MemoryStream[(Long, Timestamp, Long, String)].toDS(), g, "a b"))
      calls.foreach { call =>
        val e = intercept[IllegalArgumentException](call())
        assert(e.getMessage.contains(s"gapMs must be > 0, got $g"),
          e.getMessage)
      }
    }
  }
}
