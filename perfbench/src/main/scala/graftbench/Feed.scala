package graftbench

import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** One GTFS-RT vehicle-positions snapshot and the cotIds the
  * reference transform must post for it. */
final case class Snapshot(body: String, expected: Set[String])

/** Seeded Wellington-scale GTFS-RT snapshots. Every snapshot carries
  * each case of FIXTURES.md §A: every train prefix, ships by `QDF`
  * prefix and by route `MIF`, a lat=lon=0 row, empty and missing
  * trip ids, a missing position, duplicate vehicle ids (last wins),
  * zero speed and bearing, and occupancy absent or 7. The expected
  * cotIds come from how each entity was generated, not from
  * re-running the transform's rules. */
object Snapshots {
  private val mapper = new ObjectMapper()
  private val TrainPrefixes = Seq("HVL", "JVL", "KPL", "MEL", "WRL", "MUL")

  private sealed trait Kind
  private case object Bus extends Kind
  private case object Train extends Kind
  private case object ShipQdf extends Kind
  private case object ShipMif extends Kind
  private case object ZeroPosition extends Kind
  private case object EmptyTrip extends Kind
  private case object MissingTrip extends Kind
  private case object MissingPosition extends Kind

  /** The vehicle-type label a kept entity's cotId carries. */
  private def label(k: Kind): Option[String] = k match {
    case Bus => Some("Bus")
    case Train => Some("Train")
    case ShipQdf | ShipMif => Some("Ship")
    case _ => None
  }

  /** `count` consecutive feed ticks of `entities` entities each. */
  def generate(seed: Long, entities: Int, count: Int): IndexedSeq[Snapshot] = {
    val rnd = new scala.util.Random(seed)
    // Each fleet slot keeps its kind and vehicle across ticks; the
    // first slots pin one of every special case into every snapshot.
    val pinned: Seq[Kind] = Seq(Train, Train, Train, Train, Train, Train,
      ShipQdf, ShipMif, ZeroPosition, EmptyTrip, MissingTrip,
      MissingPosition)
    val kinds: IndexedSeq[Kind] = (pinned ++ Seq.fill(entities - pinned.size) {
      val u = rnd.nextDouble()
      if (u < 0.80) Bus else if (u < 0.92) Train
      else if (u < 0.94) ShipQdf else if (u < 0.95) ShipMif
      else if (u < 0.96) ZeroPosition else if (u < 0.97) EmptyTrip
      else if (u < 0.98) MissingTrip else MissingPosition
    }).toIndexedSeq
    // About 3 % of slots re-use an earlier vehicle of the same kind,
    // so its cotId repeats within the snapshot.
    val vehicle = kinds.indices.map { i =>
      val dupOf = if (i > 20 && rnd.nextDouble() < 0.03)
        (0 until i).find(j => kinds(j) == kinds(i)) else None
      dupOf.getOrElse(i)
    }.map(j => (4000 + j).toString)
    val route = kinds.indices.map(_ => 1 + rnd.nextInt(300))
    val base = kinds.indices.map(_ =>
      (-41.29 + rnd.nextGaussian() * 0.08, 174.78 + rnd.nextGaussian() * 0.08))
    (0 until count).map { tick =>
      val feed = mapper.createObjectNode()
      feed.putObject("header").put("gtfs_realtime_version", "2.0")
        .put("timestamp", (1718000000L + 30L * tick).toString)
      val arr = feed.putArray("entity")
      var expected = Set.empty[String]
      kinds.indices.foreach { i =>
        val k = kinds(i)
        val e = arr.addObject()
        e.put("id", s"e$tick-$i")
        val v = e.putObject("vehicle")
        val trip = v.putObject("trip")
        val tripId = k match {
          case Bus => s"${route(i)}__${i % 2}__${100 + i}__MNM__1"
          case Train =>
            s"${TrainPrefixes(i % TrainPrefixes.size)}__1__${200 + i}__RAIL"
          case ShipQdf => s"QDF__0__${300 + i}__EBF"
          case ShipMif => s"MIF__1__${400 + i}__EBF"
          case EmptyTrip => ""
          case _ => s"${route(i)}__0__${500 + i}__MNM__1"
        }
        if (k != MissingTrip) trip.put("trip_id", tripId)
        trip.put("route_id", route(i).toLong).put("direction_id", (i % 2).toLong)
          .put("start_time", f"${6 + i % 16}%02d:${i % 60}%02d:00")
          .put("start_date", "20240610").put("schedule_relationship", 0L)
        if (k != MissingPosition) {
          val (lat, lon) = if (k == ZeroPosition) (0.0, 0.0)
            else (base(i)._1 + 0.0004 * tick, base(i)._2 - 0.0003 * tick)
          val pos = v.putObject("position").put("latitude", lat)
            .put("longitude", lon)
          // Every seventh vehicle is stopped: the falsy zero the
          // reference renders as NaN. Every eleventh omits speed.
          if (i % 7 == 0) pos.put("bearing", 0.0).put("speed", 0.0)
          else {
            pos.put("bearing", rnd.nextInt(360).toDouble)
            if (i % 11 != 0) pos.put("speed", math.round(rnd.nextDouble() * 200) / 10.0)
          }
        }
        v.put("timestamp", 1718000000L + 30L * tick - rnd.nextInt(30))
        v.putObject("vehicle").put("id", vehicle(i))
        i % 5 match {
          case 0 => () // occupancy absent
          case 1 => v.put("occupancy_status", 7L)
          case _ => v.put("occupancy_status", rnd.nextInt(7).toLong)
        }
        if (i % 3 != 0) v.put("current_stop_sequence", (i % 40).toLong)
          .put("stop_id", s"${5000 + i % 900}").put("current_status", 2L)
        label(k).foreach(t => expected += s"WLG-Metlink$t-${vehicle(i)}")
      }
      Snapshot(mapper.writeValueAsString(feed), expected)
    }
  }

  /** The feature ids of a posted FeatureCollection, in posted order. */
  def postedIds(featureCollection: String): Seq[String] = {
    val root = mapper.readTree(featureCollection)
    root.path("features").elements().asScala.map(_.path("id").asText()).toSeq
  }
}

/** In-process Metlink API and CloudTAK sink: GET /feed serves the
  * current snapshot to a caller holding the API key, POST /sink keeps
  * the last body posted. */
final class FeedServer(apiKey: String) extends AutoCloseable {
  private val current = new AtomicReference[Array[Byte]](Array.emptyByteArray)
  private val posted = new AtomicReference[String](null)
  private val server =
    HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 0)

  private def reply(ex: HttpExchange, code: Int, body: Array[Byte]): Unit = {
    ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length.toLong)
    if (body.nonEmpty) ex.getResponseBody.write(body)
    ex.close()
  }

  server.createContext("/feed", (ex: HttpExchange) =>
    if (ex.getRequestHeaders.getFirst("x-api-key") != apiKey)
      reply(ex, 401, Array.emptyByteArray)
    else {
      ex.getResponseHeaders.add("content-type", "application/json")
      reply(ex, 200, current.get)
    })
  server.createContext("/sink", (ex: HttpExchange) => {
    posted.set(new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
    reply(ex, 200, Array.emptyByteArray)
  })
  server.start()

  private val base = s"http://127.0.0.1:${server.getAddress.getPort}"
  val feedUrl = s"$base/feed"
  val sinkUrl = s"$base/sink"

  def serve(s: Snapshot): Unit = {
    current.set(s.body.getBytes(StandardCharsets.UTF_8))
    posted.set(null)
  }

  /** The body posted since the last [[serve]], if any. */
  def lastPosted: Option[String] = Option(posted.get)

  def close(): Unit = server.stop(0)
}
