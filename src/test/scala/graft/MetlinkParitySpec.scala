package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators.Metlink

/** Golden-fixture parity tests against the reference's behavior
  * (/root/reference/task.ts), per FIXTURES.md §A: every branch of
  * the classification, every filter, the falsy-zero NaN rule, the
  * occupancy fallback, and last-wins dedup.
  */
class MetlinkParitySpec extends SparkSpec {
  import spark.implicits._

  /** One GTFS-RT snapshot exercising all edge cases. */
  private def fixtureJson: String = {
    def ent(id: String, tripId: Any, vehId: String, lat: Double,
        lon: Double, bearing: Double, speed: Option[Double],
        ts: Long, occ: Option[Long]): String = {
      val tid = tripId match {
        case null => "null"
        case s: String => s""""$s""""
      }
      val sp = speed.map(s => s""""speed": $s,""").getOrElse("")
      val oc = occ.map(o => s""", "occupancy_status": $o""").getOrElse("")
      s"""{"id": "$id", "vehicle": {
        "trip": {"trip_id": $tid, "route_id": 1, "direction_id": 0,
          "start_time": "07:30:00", "start_date": "20240115",
          "schedule_relationship": 0},
        "position": {"latitude": $lat, "longitude": $lon,
          "bearing": $bearing, $sp "dummy": 0},
        "timestamp": $ts,
        "vehicle": {"id": "$vehId"}$oc}}"""
    }
    val entities = Seq(
      // plain bus, speed present, occupancy 1
      ent("e1", "23__0__x", "b1", -41.29, 174.78, 90.0,
        Some(12.34), 1700000000L, Some(1L)),
      // train prefixes
      ent("e2", "HVL__1", "t1", -41.2, 174.9, 10.0,
        Some(25.0), 1700000001L, None),
      ent("e3", "MEL__1", "t2", -41.2, 174.9, 10.0, None,
        1700000002L, Some(7L)), // occupancy 7 → Unknown
      // ship via QDF prefix and via MIF route
      ent("e4", "QDF__1", "s1", -41.28, 174.78, 0.0, // bearing 0 → NaN
        Some(0.0), 1700000003L, Some(0L)), // speed 0 → NaN, remark "0.0 m/s"
      ent("e5", "MIF__7", "s2", -41.28, 174.79, 45.0,
        None, 1700000004L, None),
      // dropped: (0,0) coords
      ent("e6", "23__1__x", "b2", 0.0, 0.0, 1.0, None,
        1700000005L, None),
      // dropped: empty trip_id
      ent("e7", "", "b3", -41.1, 174.8, 1.0, None, 1700000006L, None),
      // dropped: null trip_id
      ent("e8", null, "b4", -41.1, 174.8, 1.0, None, 1700000007L, None),
      // dup cotId with e1 (same type+vehicle) — later wins
      ent("e9", "29__0__y", "b1", -41.30, 174.70, 270.0,
        Some(5.5), 1700000010L, Some(6L)))
    s"""{"header": {"gtfs_realtime_version": "2.0"},
         "entity": [${entities.mkString(",")}]}"""
  }

  // missing `vehicle` / `position` (F1) can't ride through the JSON
  // string fixture above (schema'd json gives structs with null
  // members); covered explicitly in the null-guard test below.

  private lazy val features = {
    val feed = spark.read.schema(Metlink.vehicleSchema)
      .json(Seq(fixtureJson).toDS)
    Metlink.pipeline(feed).cache()
  }

  test("classification: all three classes incl. MIF route rule") {
    val byId = features.select($"id", $"properties.type".as[String])
      .as[(String, String)].collect().toMap
    assert(byId("WLG-MetlinkBus-b1") == "a-f-G-E-V-C")
    assert(byId("WLG-MetlinkTrain-t1") == "a-u-G-E-V")
    assert(byId("WLG-MetlinkTrain-t2") == "a-u-G-E-V")
    assert(byId("WLG-MetlinkShip-s1") == "a-f-S-E-V")
    assert(byId("WLG-MetlinkShip-s2") == "a-f-S-E-V")
  }

  test("filters drop (0,0), empty and null trip_id") {
    val ids = features.select($"id").as[String].collect().toSet
    assert(features.count() == 5)
    assert(!ids.exists(_.contains("b2")))
    assert(!ids.exists(_.contains("b3")))
    assert(!ids.exists(_.contains("b4")))
  }

  test("falsy-zero: speed 0 and bearing 0 become NaN (task.ts:294-295)") {
    val s1 = features.filter($"id" === "WLG-MetlinkShip-s1")
      .select($"properties.speed", $"properties.course")
      .as[(Double, Double)].head()
    assert(s1._1.isNaN && s1._2.isNaN)
    // but remarks still show "0.0 m/s" (JS checks undefined, not falsy)
    val remarks = features.filter($"id" === "WLG-MetlinkShip-s1")
      .select($"properties.remarks").as[String].head()
    assert(remarks.contains("Speed: 0.0 m/s"))
    assert(remarks.contains("Occupancy: Empty"))
  }

  test("missing speed → NaN and no Speed remark") {
    val t2 = features.filter($"id" === "WLG-MetlinkTrain-t2")
    assert(t2.select($"properties.speed").as[Double].head().isNaN)
    val remarks = t2.select($"properties.remarks").as[String].head()
    assert(!remarks.contains("Speed:"))
    assert(remarks.contains("Occupancy: Unknown")) // occ 7 fallback
  }

  test("remarks block matches reference line order (task.ts:254-286)") {
    val remarks = features.filter($"id" === "WLG-MetlinkTrain-t1")
      .select($"properties.remarks").as[String].head()
    assert(remarks ==
      """Vehicle Type: Train
        |Vehicle ID: t1
        |Route ID: HVL
        |Trip ID: HVL__1
        |Direction: 0
        |Start Time: 07:30:00
        |Speed: 25.0 m/s""".stripMargin)
  }

  test("last-wins dedup: later entity overwrites earlier (task.ts:312)") {
    val b1 = features.filter($"id" === "WLG-MetlinkBus-b1")
    assert(b1.count() == 1)
    val (callsign, remarks) = b1
      .select($"properties.callsign", $"properties.remarks")
      .as[(String, String)].head()
    assert(callsign == "Route 29 - Bus b1") // from e9, not e1
    assert(remarks.contains("Occupancy: Not accepting passengers"))
  }

  test("feature order: first-seen position, last-seen value (task.ts:312)") {
    // JS Map.set on an existing key keeps its insertion position: b1
    // stays first although its value comes from e9
    val fc = Metlink.featureCollection(features).as[String].head()
    val ids = "\"id\":\"(WLG-[^\"]+)\"".r.findAllMatchIn(fc)
      .map(_.group(1)).toSeq
    assert(ids == Seq("WLG-MetlinkBus-b1", "WLG-MetlinkTrain-t1",
      "WLG-MetlinkTrain-t2", "WLG-MetlinkShip-s1", "WLG-MetlinkShip-s2"))
    assert(fc.contains("Route 29 - Bus b1"))
  }

  test("two documents in one frame dedup per snapshot (task.ts:191)") {
    def doc(tripId: String, ts: Long): String =
      s"""{"header": {}, "entity": [{"id": "e1", "vehicle": {
        "trip": {"trip_id": "$tripId"},
        "position": {"latitude": -41.1, "longitude": 174.8},
        "timestamp": $ts, "vehicle": {"id": "b1"}}}]}"""
    val feed = spark.read.schema(Metlink.vehicleSchema)
      .json(Seq(doc("23__a", 1700000000L), doc("29__b", 1700000060L)).toDS)
    val got = Metlink.pipeline(feed)
      .select($"id", $"properties.callsign").as[(String, String)]
      .collect().toSeq
    assert(got.sorted == Seq(
      "WLG-MetlinkBus-b1" -> "Route 23 - Bus b1",
      "WLG-MetlinkBus-b1" -> "Route 29 - Bus b1"))
  }

  test("jsToFixed1 matches ECMA toFixed on binary-tie values") {
    val cases = Seq(
      6.55 -> "6.5",   // binary 6.5499… → JS "6.5" (Java %.1f: "6.6")
      6.25 -> "6.3",   // exact binary tie → JS picks larger
      0.0 -> "0.0", 12.34 -> "12.3", 25.0 -> "25.0", 0.05 -> "0.1")
    val got = cases.map(_._1).toDF("x")
      .select(Metlink.jsToFixed1($"x")).as[String].collect().toSeq
    assert(got == cases.map(_._2))
  }

  test("jsToFixed1 negative exact ties resolve toward +Infinity (ECMA)") {
    // ECMA picks the LARGER n on exact ties: (-0.25).toFixed(1) is
    // "-0.2", (-1.75) → "-1.7"; non-ties round normally.
    val cases = Seq(
      -0.25 -> "-0.2", -1.75 -> "-1.7", 0.25 -> "0.3",
      -6.55 -> "-6.5", // binary -6.5499… → "-6.5" either way
      -0.26 -> "-0.3", -0.24 -> "-0.2")
    val got = cases.map(_._1).toDF("x")
      .select(Metlink.jsToFixed1($"x")).as[String].collect().toSeq
    assert(got == cases.map(_._2))
  }

  test("absent start_time renders the JS-template literal 'undefined'") {
    val rows = Seq(
      """{"header": {}, "entity": [
        {"id": "u1", "vehicle": {
          "trip": {"trip_id": "23__u"},
          "position": {"latitude": -41.1, "longitude": 174.8,
            "bearing": 5.0},
          "timestamp": 1700000000, "vehicle": {"id": "vu"}}}
      ]}""")
    val feed = spark.read.schema(Metlink.vehicleSchema).json(rows.toDS)
    val remarks = Metlink.pipeline(feed)
      .select($"properties.remarks").as[String].head()
    assert(remarks.contains("Start Time: undefined"))
    // Direction keeps its ?? 'Unknown' guard (task.ts:260)
    assert(remarks.contains("Direction: Unknown"))
  }

  test("geometry is GeoJSON [lon, lat] order (task.ts:201)") {
    val coords = features.filter($"id" === "WLG-MetlinkShip-s2")
      .select($"geometry.coordinates").as[Seq[Double]].head()
    assert(coords == Seq(174.79, -41.28))
  }

  test("constants: stale, marker colors, icons (task.ts:22-24,297)") {
    val row = features.filter($"id" === "WLG-MetlinkBus-b1")
      .select($"properties.stale", $"properties.`marker-color`",
        $"properties.icon").as[(Long, String, String)].head()
    assert(row == ((180000L, "#007F00", Metlink.BusIcon)))
  }

  test("null-guard F1: entities missing vehicle or position drop") {
    val rows = Seq(
      """{"header": {}, "entity": [
        {"id": "x1", "vehicle": null},
        {"id": "x2", "vehicle": {"trip": {"trip_id": "23__a"},
          "position": null, "timestamp": 1, "vehicle": {"id": "v"}}}
      ]}""")
    val feed = spark.read.schema(Metlink.vehicleSchema).json(rows.toDS)
    assert(Metlink.pipeline(feed).count() == 0)
  }

  test("config filter F4 hides classes (task.ts:245-249)") {
    val feed = spark.read.schema(Metlink.vehicleSchema)
      .json(Seq(fixtureJson).toDS)
    val noBuses = Metlink.pipeline(feed,
      Metlink.Config(showBuses = false))
    assert(noBuses.count() == 4)
    val nothing = Metlink.pipeline(feed,
      Metlink.Config(false, false, false))
    assert(nothing.count() == 0)
  }

  test("feature collection wrap (task.ts:335-338)") {
    val fc = Metlink.featureCollection(features).as[String].head()
    assert(fc.startsWith("""{"type":"FeatureCollection","features":["""))
    assert(fc.contains(""""type":"Point""""))
  }

  test("C3 debug sample (task.ts:169-171): gated, 1000 chars, '...' suffix") {
    val feed = spark.read.schema(Metlink.vehicleSchema)
      .json(Seq(fixtureJson).toDS)
    // disabled -> the reference logs nothing
    assert(Metlink.debugSample(feed, enabled = false).isEmpty)
    val s = Metlink.debugSample(feed, enabled = true).get
    // first 1000 chars of the re-serialized envelope + unconditional
    // "..." (the fixture JSON is longer than 1000 chars)
    assert(s.length == 1003 && s.endsWith("..."), s.length.toString)
    assert(s.startsWith("""{"header":{"""), s.take(40))
    assert(s.contains(""""entity":[{"id":"e1""""), s.take(120))
    // shorter than the cap: still suffixed, nothing padded
    val short = Metlink.debugSample(feed, enabled = true,
      maxChars = 20).get
    assert(short.length == 23 && short.endsWith("..."))
  }
}
