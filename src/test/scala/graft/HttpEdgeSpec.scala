package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.LocalTableScanExec

import graft.operators.Metlink
import graft.sources.{HttpEdge, Sources}

/** End-to-end HTTP edge tests against a local stub server: the full
  * fetch → pipeline → submit loop (which launches no Spark job: one
  * snapshot plans to a LocalTableScan), the error →
  * empty-FeatureCollection fallback (task.ts:180-188), and the
  * partitioned Feature sink's equivalence to the single-document wrap.
  */
class HttpEdgeSpec extends SparkSpec {
  import spark.implicits._

  private val fixtureJson =
    """{"header": {"gtfs_realtime_version": "2.0"}, "entity": [
      {"id": "e1", "vehicle": {
        "trip": {"trip_id": "23__0__x", "route_id": 1, "direction_id": 0,
          "start_time": "07:30:00", "start_date": "20240115",
          "schedule_relationship": 0},
        "position": {"latitude": -41.29, "longitude": 174.78,
          "bearing": 90.0, "speed": 12.34},
        "timestamp": 1700000000, "vehicle": {"id": "b1"},
        "occupancy_status": 1}},
      {"id": "e2", "vehicle": {
        "trip": {"trip_id": "HVL__1", "route_id": 2, "direction_id": 1,
          "start_time": "08:00:00", "start_date": "20240115",
          "schedule_relationship": 0},
        "position": {"latitude": -41.2, "longitude": 174.9,
          "bearing": 10.0, "speed": 25.0},
        "timestamp": 1700000001, "vehicle": {"id": "t1"}}}]}"""

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def withServer[T](feedStatus: Int, feedBody: String)(
      f: (String, String, () => (String, String)) => T): T = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    @volatile var posted: String = null
    @volatile var apiKeySeen: String = null
    server.createContext("/feed", (ex: HttpExchange) => {
      apiKeySeen = ex.getRequestHeaders.getFirst("x-api-key")
      respond(ex, feedStatus, feedBody)
    })
    server.createContext("/submit", (ex: HttpExchange) => {
      posted = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      respond(ex, 200, "ok")
    })
    server.start()
    val port = server.getAddress.getPort
    try f(s"http://127.0.0.1:$port/feed",
      s"http://127.0.0.1:$port/submit", () => (posted, apiKeySeen))
    finally server.stop(0)
  }

  /** Runs `f` under job group `group` and returns its result with the
    * ids of the jobs it started: a marker job run after `f` flushes
    * the listener queue, which delivers job starts in order. */
  private def withJobs[T](group: String)(f: => T): (T, Seq[Int]) = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add((Option(e.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull, e.jobId))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = try f finally sc.clearJobGroup()
      val marker = s"$group-marker"
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10000000000L
      while (!seen.asScala.exists(_._1 == marker) &&
          System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.asScala.exists(_._1 == marker), "marker job not seen")
      (out, seen.asScala.collect { case (`group`, id) => id }.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  test("fetch → pipeline → submit round-trip with api key header") {
    withServer(200, fixtureJson) { (feedUrl, submitUrl, state) =>
      val (fc, jobs) = withJobs("metlink-edge") {
        HttpEdge.runMetlink(spark, feedUrl, "secret-key", submitUrl)
      }
      // one snapshot plans to a driver-side LocalRelation: no job
      assert(jobs.isEmpty, s"runMetlink launched jobs $jobs")
      val snapshot = Metlink.featureCollection(Metlink.pipeline(
        Sources.requireShape(Sources.jsonDocument(spark, fixtureJson,
          Metlink.vehicleSchema), "entity")))
      val plan = snapshot.queryExecution.executedPlan
      assert(plan.isInstanceOf[LocalTableScanExec], plan.treeString)
      val (posted, apiKey) = state()
      assert(apiKey == "secret-key")
      assert(posted == fc)
      assert(fc.startsWith("""{"type":"FeatureCollection""""))
      assert(fc.contains(""""id":"WLG-MetlinkBus-b1""""))
      assert(fc.contains(""""id":"WLG-MetlinkTrain-t1""""))
    }
  }

  test("fetch failure (HTTP 500) → empty FeatureCollection submitted") {
    withServer(500, "boom") { (feedUrl, submitUrl, state) =>
      val fc = HttpEdge.runMetlink(spark, feedUrl, "k", submitUrl)
      assert(fc == HttpEdge.EmptyFeatureCollection)
      assert(state()._1 == HttpEdge.EmptyFeatureCollection)
    }
  }

  test("unreachable feed endpoint → empty FeatureCollection submitted") {
    withServer(200, fixtureJson) { (_, submitUrl, state) =>
      val fc = HttpEdge.runMetlink(spark,
        "http://127.0.0.1:1/feed", "k", submitUrl)
      assert(fc == HttpEdge.EmptyFeatureCollection)
      assert(state()._1 == HttpEdge.EmptyFeatureCollection)
    }
  }

  test("garbage body → empty features, valid FeatureCollection") {
    withServer(200, "not json at all {{{") { (feedUrl, submitUrl, state) =>
      val fc = HttpEdge.runMetlink(spark, feedUrl, "k", submitUrl)
      assert(fc == HttpEdge.EmptyFeatureCollection)
      assert(state()._1 == HttpEdge.EmptyFeatureCollection)
    }
  }

  test("partitioned Feature sink emits the same documents as the single wrap") {
    val feed = spark.read.schema(Metlink.vehicleSchema)
      .json(Seq(fixtureJson).toDS)
    val features = Metlink.pipeline(feed)
    // single-document wrap → array entries
    val fc = Metlink.featureCollection(features)
      .as[String].collect().head
    // partitioned ndjson → one Feature document per line
    val dir = java.nio.file.Files
      .createTempDirectory("graft_fc_part").toString + "/out"
    Metlink.featureCollectionPartitioned(features, dir)
    val lines = spark.read.textFile(dir).collect().toSet
    assert(lines.size == 2)
    // every partitioned Feature document appears verbatim inside the
    // wrapped collection's features array (same schema → same JSON)
    lines.foreach(l => assert(fc.contains(l), s"missing: $l"))
  }
}
