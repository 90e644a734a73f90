package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Metlink
import graft.plans.PreparedProjection
import graft.sources.{HttpEdge, Sources}

/** [[Metlink.snapshot]], the prepared form of the snapshot transform
  * behind `HttpEdge.runMetlink`: byte-identical to the DataFrame form
  * `featureCollection(pipeline(jsonDocument(body)))`, last-wins dedup
  * equal to a plain model of JS `Map.set`, planned once per Config and
  * conf snapshot, and safe to call from many threads. Also the
  * fallback paths' non-fatal catch. */
class MetlinkPreparedSpec extends SparkSpec {
  import spark.implicits._
  import MetlinkPreparedSpec._

  private val flags = Seq(Metlink.Config(),
    Metlink.Config(showBuses = false), Metlink.Config(showTrains = false),
    Metlink.Config(showShips = false))

  private def dataFrameForm(body: String, cfg: Metlink.Config): String =
    Metlink.featureCollection(Metlink.pipeline(
      Sources.jsonDocument(spark, body, Metlink.vehicleSchema), cfg))
      .as[String].head()

  test("prepared snapshot is byte-identical to the DataFrame form") {
    val edge = Seq("not json at all {{{", "", "{}", """{"entity": null}""",
      """{"header": {}}""", """{"header": {}, "entity": []}""",
      render(fixture))
    val random = (0 until 240).map(i => render(document(new Random(i))))
    for ((body, i) <- (edge ++ random).zipWithIndex;
         cfg <- if (i < edge.size) flags else Seq(flags(i % flags.size)))
      assert(Metlink.snapshot(spark, body, cfg) == dataFrameForm(body, cfg),
        s"body $i, $cfg")
  }

  test("last-wins dedup matches JS Map.set: first-seen order, last value") {
    val mapper = new ObjectMapper()
    for (seed <- 1000 until 1150; cfg <- flags) {
      val doc = document(new Random(seed))
      val fc = mapper.readTree(Metlink.snapshot(spark, render(doc), cfg))
      val got = fc.get("features").elements().asScala.map(f =>
        (Option(f.get("id")).map(_.asText),
          f.get("properties").get("metadata").get("id").asText)).toSeq
      assert(got == mapSetModel(doc, cfg), s"seed $seed, $cfg")
    }
  }

  test("correctRouteId equals JS split('__')[0]") {
    val ids = Seq("", "__x", "a__", "a___b", "no-delimiter", "23__0__x",
      "a_b__c", null)
    val got = ids.toDF("t").select(Metlink.correctRouteId($"t"),
        split($"t", "__").getItem(0))
      .as[(String, String)].collect().toSeq
    assert(got.map(_._1) == ids.map(jsRoute))
    assert(got.map(_._1) == got.map(_._2))
  }

  test("one evaluator per Config and conf; a time zone change re-plans") {
    val cfg = Metlink.Config(showShips = false, showTrains = false)
    val body = render(fixture)
    val (utc, jobs) = withJobs("metlink-prepared") {
      withConf("spark.sql.session.timeZone", "UTC") {
        val first = Metlink.snapshot(spark, body, cfg)
        val p = Metlink.prepared.get(cfg)
        (1 to 5).foreach(_ =>
          assert(Metlink.snapshot(spark, body, cfg) == first))
        assert(Metlink.prepared.get(cfg) eq p)
        first
      }
    }
    assert(jobs.isEmpty, s"snapshot launched jobs $jobs")
    val before = Metlink.prepared.get(cfg)
    withConf("spark.sql.session.timeZone", "Pacific/Auckland") {
      val nz = Metlink.snapshot(spark, body, cfg)
      assert(!(Metlink.prepared.get(cfg) eq before))
      assert(nz != utc && nz.contains("+13:00"), nz.take(400))
      assert(nz == dataFrameForm(body, cfg))
      assert(Metlink.prepared.get(cfg).confs == spark.conf.getAll)
    }
    assert(Metlink.prepared.keySet.asScala.count(_ == cfg) == 1)
  }

  test("8 threads x 25 prepared evaluations give the sequential results") {
    val cfg = Metlink.Config()
    val bodies = (0 until 10).map(i => render(document(new Random(500 + i))))
    val expected = bodies.map(Metlink.snapshot(spark, _, cfg))
    val pool = Executors.newFixedThreadPool(8)
    try {
      val runs = (0 until 8).map(t => pool.submit(new Callable[Seq[Boolean]] {
        def call(): Seq[Boolean] = (0 until 25).map { k =>
          val i = (t + k) % bodies.size
          Metlink.snapshot(spark, bodies(i), cfg) == expected(i)
        }
      }))
      assert(runs.flatMap(_.get(120, TimeUnit.SECONDS)).forall(identity))
    } finally pool.shutdownNow()
  }

  test("preparation refuses frozen, nondeterministic and non-Project plans") {
    def prepare(f: DataFrame => DataFrame) = new PreparedProjection(spark, f)
    val frozen = intercept[IllegalArgumentException](
      prepare(_.select(concat($"value", current_timestamp().cast("string")))))
    assert(frozen.getMessage.contains("current_timestamp"), frozen.getMessage)
    intercept[IllegalArgumentException](prepare(_.select(rand())))
    val notChain = intercept[IllegalStateException](
      prepare(_.filter($"value" =!= "x")))
    assert(notChain.getMessage.contains("Filter"), notChain.getMessage)
    val upcase = prepare(_.select(upper($"value")))
    assert(upcase(spark, "ab").getUTF8String(0).toString == "AB")
  }

  test("fallbacks catch non-fatal errors only") {
    val schema = StructType(Seq(StructField("id", StringType)))
    assert(Sources.withEmptyFallback(spark, schema)(
      throw new RuntimeException("boom")).count() == 0)
    intercept[InterruptedException](Sources.withEmptyFallback(spark, schema)(
      throw new InterruptedException("stop")))
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    @volatile var posted: String = null
    server.createContext("/feed", (ex: HttpExchange) => {
      Thread.sleep(2000)
      ex.sendResponseHeaders(500, -1)
      ex.close()
    })
    server.createContext("/submit", (ex: HttpExchange) => {
      posted = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      ex.sendResponseHeaders(200, -1)
      ex.close()
    })
    server.start()
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    try {
      // a malformed URL throws IllegalArgumentException: posted empty
      assert(HttpEdge.runMetlink(spark, "::no url", "k", s"$base/submit") ==
        HttpEdge.EmptyFeatureCollection)
      assert(posted == HttpEdge.EmptyFeatureCollection)
      posted = null
      Thread.currentThread().interrupt()
      try intercept[InterruptedException](
        HttpEdge.runMetlink(spark, s"$base/feed", "k", s"$base/submit"))
      finally Thread.interrupted()
      assert(posted == null)
    } finally server.stop(0)
  }
}

object MetlinkPreparedSpec {
  /** One entity: `vehicle` null (0), absent (1) or present (2). */
  final case class Ent(id: String, kind: Int, pos: Option[(Double, Double)],
      tripId: Option[String], vehicleId: Option[String], extra: String)

  private val trips = Seq("23__0__x", "HVL__1", "MEL__2", "QDF__1", "MIF__7",
    "29__0__y", "", "__x", "a___b", "KPL", "WRL__3", "MIFX__1")

  /** A snapshot of 0–40 entities with many repeated and null vehicle
    * ids and every filter branch. */
  def document(r: Random): Seq[Ent] = document(r, r.nextInt(41), 6)

  /** `n` entities over a fleet of `fleet` vehicle ids. */
  def document(r: Random, n: Int, fleet: Int): Seq[Ent] = (0 until n).map { i =>
    def maybe[T](p: Int)(v: => T): Option[T] =
      if (r.nextInt(100) < p) Some(v) else None
    val pos = r.nextInt(12) match {
      case 0 => None
      case 1 => Some((0.0, 0.0))
      case 2 => Some((0.0, 174.8))
      case _ => Some((-41.0 - r.nextInt(50) / 100.0, 174.5 + r.nextInt(50) / 100.0))
    }
    val extra = Seq(
      maybe(70)(s""""timestamp": ${1700000000L + r.nextInt(1000)}"""),
      maybe(60)(s""""occupancy_status": ${r.nextInt(9)}"""),
      maybe(50)(s""""current_stop_sequence": ${r.nextInt(30)}""")).flatten
    Ent(s"e$i", if (r.nextInt(15) == 0) r.nextInt(2) else 2, pos,
      maybe(92)(trips(r.nextInt(trips.size))),
      maybe(85)(s"v${r.nextInt(fleet)}"), extra.mkString(", "))
  }

  /** The reference's edge cases: every class, filter and dedup. */
  val fixture: Seq[Ent] = Seq(
    ("e1", 2, Some((-41.29, 174.78)), Some("23__0__x"), Some("b1"), ""),
    ("e2", 2, Some((-41.2, 174.9)), Some("HVL__1"), Some("t1"), ""),
    ("e3", 2, Some((-41.2, 174.9)), Some("MEL__1"), Some("t2"),
      """, "occupancy_status": 7"""),
    ("e4", 2, Some((-41.28, 174.78)), Some("QDF__1"), Some("s1"),
      """, "occupancy_status": 0"""),
    ("e5", 2, Some((-41.28, 174.79)), Some("MIF__7"), Some("s2"), ""),
    ("e6", 2, Some((0.0, 0.0)), Some("23__1__x"), Some("b2"), ""),
    ("e7", 2, Some((-41.1, 174.8)), Some(""), Some("b3"), ""),
    ("e8", 2, Some((-41.1, 174.8)), None, Some("b4"), ""),
    ("e9", 2, Some((-41.30, 174.70)), Some("29__0__y"), Some("b1"),
      """, "occupancy_status": 6"""),
    ("e10", 2, Some((-41.3, 174.7)), Some("5__a"), None, ""),
    ("e11", 1, None, None, None, ""),
    ("e12", 0, None, None, None, ""),
    ("e13", 2, Some((-41.3, 174.7)), Some("7__b"), None, "")
  ).zipWithIndex.map { case ((id, kind, pos, trip, vid, occ), i) =>
    Ent(id, kind, pos, trip, vid, s""""timestamp": ${1700000000L + i}$occ""")
  }

  private def str(s: Option[String]): String =
    s.map(v => s""""$v"""").getOrElse("null")

  def render(doc: Seq[Ent]): String = doc.zipWithIndex.map { case (e, i) =>
    e.kind match {
      case 0 => s"""{"id": "${e.id}", "vehicle": null}"""
      case 1 => s"""{"id": "${e.id}"}"""
      case _ =>
        val pos = e.pos.map { case (lat, lon) =>
          s"""{"latitude": $lat, "longitude": $lon, "bearing": ${i % 4 * 90.0}""" +
            (if (i % 3 == 0) "}" else s""", "speed": ${i % 5 * 2.75}}""")
        }.getOrElse("null")
        val trip = s"""{"trip_id": ${str(e.tripId)}, "direction_id": ${i % 2}""" +
          (if (i % 2 == 0) """, "start_time": "07:30:00"}""" else "}")
        val vehicle = e.vehicleId.map(v => s""", "vehicle": {"id": "$v"}""")
          .getOrElse(if (i % 2 == 0) """, "vehicle": {"id": null}""" else "")
        val extra = if (e.extra.isEmpty) "" else s", ${e.extra}"
        s"""{"id": "${e.id}", "vehicle": {"trip": $trip, "position": $pos""" +
          s"""$vehicle$extra}}"""
    }
  }.mkString("""{"header": {"gtfs_realtime_version": "2.0"}, "entity": [""",
    ", ", "]}")

  /** JS `tripId.split('__')[0]`. */
  def jsRoute(t: String): String =
    if (t == null) null else t.indexOf("__") match {
      case -1 => t
      case i => t.take(i)
    }

  /** The reference's filters and its `features` Map (task.ts:191-312)
    * in plain Scala: (cotId, entity id) in first-seen order with the
    * last-seen value; a missing vehicle id gives a null cotId. */
  def mapSetModel(doc: Seq[Ent], cfg: Metlink.Config): Seq[(Option[String], String)] = {
    val features = scala.collection.mutable.LinkedHashMap[Option[String], String]()
    for (e <- doc if e.kind == 2; (lat, lon) <- e.pos;
         t <- e.tripId if t.nonEmpty && !(lat == 0.0 && lon == 0.0)) {
      val cls =
        if (t.startsWith("QDF") || jsRoute(t) == "MIF") "Ship"
        else if (Seq("HVL", "JVL", "KPL", "MEL", "WRL", "MUL")
            .exists(t.startsWith)) "Train"
        else "Bus"
      val shown = cls match {
        case "Bus" => cfg.showBuses
        case "Train" => cfg.showTrains
        case _ => cfg.showShips
      }
      if (shown) features(e.vehicleId.map(v => s"WLG-Metlink$cls-$v")) = e.id
    }
    features.toSeq
  }
}
