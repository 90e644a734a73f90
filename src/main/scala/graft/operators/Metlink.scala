package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reference-parity pipeline (SURVEY.md §2.A): the complete
  * behavior of the reference's `task.ts` vehicle-position transform,
  * re-expressed as composable Spark column functions. Every rule
  * cites its `/root/reference/task.ts` line.
  *
  * The reference processes one JSON snapshot in a single fused loop
  * (task.ts:194-321); here each step is a declarative Column and
  * Catalyst re-fuses them. The per-entity rules live once, in the
  * [[keep]] predicate and the [[feature]] struct; two forms apply
  * them. [[pipeline]] takes snapshot documents and dedups inside each
  * one, with no shuffle, as the reference's per-invocation Map does;
  * [[transform]] takes entity rows and dedups across the whole frame
  * with a window partitioned by cotId, its only shuffle.
  */
object Metlink {

  /** Input schema mirroring the TypeBox `MetlinkResponse` feed
    * envelope (task.ts:85-113 wrapped per task.ts:174: header +
    * entity[]). Declared, not inferred — PERMISSIVE json reads give
    * the same tolerate-junk behavior as the reference's guards. */
  val vehicleSchema: StructType = StructType(Seq(
    StructField("header", MapType(StringType, StringType)),
    StructField("entity", ArrayType(entitySchema))))

  lazy val entitySchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("vehicle", StructType(Seq(
      StructField("trip", StructType(Seq(
        StructField("trip_id", StringType),
        StructField("route_id", LongType),
        StructField("direction_id", LongType),
        StructField("start_time", StringType),
        StructField("start_date", StringType),
        StructField("schedule_relationship", LongType)))),
      StructField("position", StructType(Seq(
        StructField("latitude", DoubleType),
        StructField("longitude", DoubleType),
        StructField("bearing", DoubleType),
        StructField("speed", DoubleType)))),
      StructField("timestamp", LongType),
      StructField("vehicle", StructType(Seq(
        StructField("id", StringType)))),
      StructField("occupancy_status", LongType),
      StructField("current_stop_sequence", LongType),
      StructField("stop_id", StringType),
      StructField("current_status", LongType))))))

  /** Show/hide config (task.ts:30-51 Env schema defaults). */
  final case class Config(
      showBuses: Boolean = true,
      showTrains: Boolean = true,
      showShips: Boolean = true)

  // Constants (task.ts:17, 22-24, task.ts:297)
  val BusIcon = "ad78aafb-83a6-4c07-b2b9-a897a8b6a38f/Shapes/bus.png"
  val TrainIcon =
    "34ae1613-9645-4222-a9d2-e5f243dea2865/Transportation/Train4.png"
  val ShipIcon =
    "34ae1613-9645-4222-a9d2-e5f243dea2865/Transportation/Ship.png"
  val StaleMs = 180000L

  /** P1 (task.ts:213): route id = trip_id before the first "__".
    * JS split is literal; "__" has no regex metachars so Spark's
    * regex split is byte-identical. */
  def correctRouteId(tripId: Column): Column =
    split(tripId, "__").getItem(0)

  /** P2 (task.ts:225-242): trip prefix / route → vehicle class
    * struct {vehicleType, icon, cotType, markerColor}. */
  def classifyVehicle(tripId: Column): Column = {
    val route = correctRouteId(tripId)
    val isShip = tripId.startsWith("QDF") || route === "MIF"
    val isTrain = Seq("HVL", "JVL", "KPL", "MEL", "WRL", "MUL")
      .map(p => tripId.startsWith(p)).reduce(_ || _)
    when(isShip, struct(
        lit("Ship").as("vehicleType"), lit(ShipIcon).as("icon"),
        lit("a-f-S-E-V").as("cotType"), lit("#00FFFF").as("markerColor")))
      .when(isTrain, struct(
        lit("Train").as("vehicleType"), lit(TrainIcon).as("icon"),
        lit("a-u-G-E-V").as("cotType"), lit("#7F007F").as("markerColor")))
      .otherwise(struct(
        lit("Bus").as("vehicleType"), lit(BusIcon).as("icon"),
        lit("a-f-G-E-V-C").as("cotType"), lit("#007F00").as("markerColor")))
  }

  /** P4 (task.ts:266-275): occupancy_status 0-6 → label, anything
    * else (incl. null) → 'Unknown'. */
  def decodeOccupancy(status: Column): Column =
    coalesce(
      element_at(typedLit(Map(
        0L -> "Empty", 1L -> "Many seats available",
        2L -> "Few seats available", 3L -> "Standing room only",
        4L -> "Crushed standing room only", 5L -> "Full",
        6L -> "Not accepting passengers")), status),
      lit("Unknown"))

  /** P3 (task.ts:251): derived dedup key. */
  def cotId(vehicleType: Column, vehicleId: Column): Column =
    concat(lit("WLG-Metlink"), vehicleType, lit("-"), vehicleId)

  /** P8 (task.ts:294-295): JS `x || NaN` — null OR falsy zero become
    * NaN. Deliberate parity with the reference's falsy-zero bug
    * (speed 0 m/s / bearing 0° rendered as unknown). */
  def falsyToNaN(c: Column): Column =
    when(c.isNull || c === 0d, lit(Double.NaN)).otherwise(c)

  /** JS-exact `toFixed(1)` (task.ts:280): ECMA toFixed rounds the
    * EXACT binary expansion of the double to 1 decimal, ties toward
    * +∞. Java's `%.1f` differs (it HALF_UPs the SHORTEST decimal
    * repr: 6.55 → "6.6", where JS gives "6.5" because the exact
    * binary value is 6.5499…), and `floor(x*10+0.5)` is corrupted
    * by the ×10 multiply itself rounding. Only
    * `new java.math.BigDecimal(x)` preserves the exact expansion,
    * so this one formatting step is a (documented) UDF — confined
    * to the remarks string, off every numeric path. */
  val jsToFixed1 = udf { (x: Double) =>
    if (x.isNaN) "NaN"
    else if (x.isInfinite) { if (x > 0) "Infinity" else "-Infinity" }
    else {
      // ECMA resolves exact ties by the LARGER n (toward +∞):
      // HALF_UP (away from zero) for x >= 0, HALF_DOWN (toward
      // zero) for x < 0 — e.g. (-0.25).toFixed(1) === "-0.2".
      val mode =
        if (x >= 0) java.math.RoundingMode.HALF_UP
        else java.math.RoundingMode.HALF_DOWN
      new java.math.BigDecimal(x).setScale(1, mode).toPlainString
    }
  }

  /** P5+P6 (task.ts:254-286): ordered "Key: Value" remarks block —
    * 6 fixed lines, Occupancy only when occupancy_status is present,
    * Speed (toFixed(1) m/s) only when speed is present (0 included:
    * JS checks `!== undefined`, not falsiness). */
  def buildRemarks(vehicleType: Column, vehicleId: Column,
      routeId: Column, tripId: Column, directionId: Column,
      startTime: Column, occupancyStatus: Column,
      speed: Column): Column =
    concat_ws("\n",
      concat(lit("Vehicle Type: "), vehicleType),
      // JS template interpolation renders absent fields as the
      // literal "undefined" (task.ts:257,261,283-285) — only
      // Direction gets the `?? 'Unknown'` guard (task.ts:260).
      concat(lit("Vehicle ID: "), coalesce(vehicleId, lit("undefined"))),
      concat(lit("Route ID: "), routeId),
      concat(lit("Trip ID: "), tripId),
      concat(lit("Direction: "),
        coalesce(directionId.cast("string"), lit("Unknown"))),
      concat(lit("Start Time: "),
        coalesce(startTime, lit("undefined"))),
      when(occupancyStatus.isNotNull,
        concat(lit("Occupancy: "), decodeOccupancy(occupancyStatus))),
      when(speed.isNotNull,
        concat(lit("Speed: "), jsToFixed1(speed), lit(" m/s"))))

  /** F1-F4 (task.ts:195-249): whether an entity with this `vehicle`
    * struct and class struct `cls` ([[classifyVehicle]]) survives the
    * reference's filters. Shared by [[transform]] and [[pipeline]]. */
  def keep(vehicle: Column, cls: Column, cfg: Config): Column = {
    val pos = vehicle.getField("position")
    val tripId = vehicle.getField("trip").getField("trip_id")
    val shownTypes = Seq("Bus" -> cfg.showBuses,
      "Train" -> cfg.showTrains, "Ship" -> cfg.showShips)
      .collect { case (t, true) => t }
    // F1 (task.ts:195)
    vehicle.isNotNull && pos.isNotNull &&
      // F2 (task.ts:204-206)
      !(pos.getField("latitude") === 0d &&
        pos.getField("longitude") === 0d) &&
      // F3 (task.ts:209-212): JS falsy — null or empty string
      tripId.isNotNull && tripId =!= "" &&
      // F4 (task.ts:245-249)
      (if (shownTypes.isEmpty) lit(false)
       else cls.getField("vehicleType").isin(shownTypes: _*))
  }

  /** The GeoJSON Feature a kept entity becomes (task.ts:251-320):
    * struct {id (the P3 cotId), type, properties, geometry}. Shared by
    * [[transform]] and [[pipeline]], so both emit the same JSON. */
  def feature(entityId: Column, vehicle: Column, cls: Column): Column = {
    val trip = vehicle.getField("trip")
    val pos = vehicle.getField("position")
    val vehicleType = cls.getField("vehicleType")
    val vehicleId = vehicle.getField("vehicle").getField("id")
    val route = correctRouteId(trip.getField("trip_id"))
    val time = timestamp_seconds(vehicle.getField("timestamp"))
    struct(
      cotId(vehicleType, vehicleId).as("id"),
      lit("Feature").as("type"),
      struct(
        cls.getField("cotType").as("type"),
        concat(lit("Route "), route, lit(" - "), vehicleType, lit(" "),
          vehicleId).as("callsign"),
        time.as("time"),
        time.as("start"),
        falsyToNaN(pos.getField("speed")).as("speed"),
        falsyToNaN(pos.getField("bearing")).as("course"),
        cls.getField("markerColor").as("marker-color"),
        lit(StaleMs).as("stale"),
        struct(
          entityId.as("id"),
          vehicle.as("vehicle"),
          vehicleType.as("vehicleType"),
          route.as("routeId"),
          trip.getField("direction_id").as("directionId"),
          vehicleId.as("vehicleId"),
          decodeOccupancy(vehicle.getField("occupancy_status"))
            .as("occupancy")).as("metadata"),
        buildRemarks(vehicleType, vehicleId, route,
          trip.getField("trip_id"), trip.getField("direction_id"),
          trip.getField("start_time"),
          vehicle.getField("occupancy_status"),
          pos.getField("speed")).as("remarks"),
        cls.getField("icon").as("icon")).as("properties"),
      struct(
        lit("Point").as("type"),
        array(pos.getField("longitude"), pos.getField("latitude"))
          .as("coordinates")).as("geometry"))
  }

  /** The row form of the per-entity transform (task.ts:194-321), over
    * an already-exploded entity frame: one GeoJSON-feature row per
    * surviving cotId. `seq` is the arrival-order column driving A1
    * last-wins dedup (task.ts:191,312: a Map.set overwrite — later
    * entity wins), applied across the WHOLE frame by a window
    * partitioned by cotId — the form for entity rows that arrive from
    * many sources at scale (q39/q40). For snapshot documents use
    * [[pipeline]], which dedups per document without a shuffle.
    */
  def transform(entities: DataFrame, seq: Column,
      cfg: Config = Config()): DataFrame = {
    val lastWins = Window.partitionBy(col("id"))
      .orderBy(col("__seq").desc)
    entities
      .select(seq.as("__seq"), col("id"), col("vehicle"),
        classifyVehicle(col("vehicle.trip.trip_id")).as("__cls"))
      .filter(keep(col("vehicle"), col("__cls"), cfg))
      .select(col("__seq"),
        feature(col("id"), col("vehicle"), col("__cls")).as("__f"))
      .select(col("__seq"), col("__f.*"))
      // A1 (task.ts:191,312): last write wins per cotId
      .withColumn("__rn", row_number().over(lastWins))
      .filter(col("__rn") === 1)
      .drop("__rn", "__seq")
  }

  /** C3 (task.ts:169-171): the DEBUG raw-response sample — when
    * enabled, the first `maxChars` characters of the raw feed
    * envelope serialized back to JSON, with the reference's
    * unconditional `"..."` suffix; `None` when disabled (the
    * reference logs nothing). Driver-side BY DESIGN — it reproduces
    * a log line — and bounded by construction: one row re-serialized
    * and truncated, never a collect of the frame. */
  def debugSample(feed: DataFrame, enabled: Boolean,
      maxChars: Int = 1000): Option[String] =
    if (!enabled) None
    else feed.select(to_json(struct(col("*"))).as("j"))
      .limit(1).collect().headOption
      .map(_.getString(0).take(maxChars) + "...")

  /** The document form: one row per GTFS-RT snapshot (the feed
    * envelope), one GeoJSON-feature row per surviving cotId out. A1
    * last-wins dedup (task.ts:191,312) runs inside each document's
    * `entity` array, as the reference's per-invocation `features` Map
    * does: each cotId keeps its first-seen position and its last-seen
    * value (JS `Map.set` semantics), and two documents in one frame
    * (two files of a stream micro-batch) never dedup against each
    * other. Rows come out in document order, then first-seen order.
    *
    * No window and no shuffle: every step is a per-row array
    * expression, so on a one-document local frame (the HTTP edge's
    * [[graft.sources.Sources.jsonDocument]]) the whole plan up to the
    * explode folds on the driver. The dedup costs one key scan per
    * distinct cotId, O(n·d) in a document of n entities with d
    * distinct cotIds — documents are snapshot-sized (O(1000)). */
  def pipeline(feed: DataFrame, cfg: Config = Config()): DataFrame = {
    val classified = functions.transform(col("entity"), e => struct(
      e.getField("id").as("id"), e.getField("vehicle").as("vehicle"),
      classifyVehicle(e.getField("vehicle").getField("trip")
        .getField("trip_id")).as("cls")))
    val feats = functions.transform(
      filter(classified, e => keep(e("vehicle"), e("cls"), cfg)),
      e => feature(e("id"), e("vehicle"), e("cls")))
    // Dedup keys, reversed so that array_position finds a key's LAST
    // occurrence. A null cotId gets key "-" (every other key starts
    // with "+"), so null ids share one key, as in transform's window.
    val rkeys = reverse(functions.transform(col("__feats"),
      f => coalesce(concat(lit("+"), f("id")), lit("-"))))
    // A1 (task.ts:191,312): distinct keys in first-seen order, each
    // mapped to the feature at its last occurrence
    val lastWins = functions.transform(
      array_distinct(reverse(col("__rkeys"))),
      k => element_at(col("__feats"),
        -array_position(col("__rkeys"), k).cast("int")))
    // One select per array, each referenced twice below, so that
    // CollapseProject keeps them apart and each is built once rather
    // than re-derived inside the next lambda.
    feed
      .select(feats.as("__feats"))
      .select(col("__feats"), rkeys.as("__rkeys"))
      .select(explode(lastWins).as("__f"))
      .select(col("__f.*"))
  }

  /** K1 (task.ts:324-341): wrap all features into one
    * FeatureCollection JSON document — the reference's exact wire
    * format. `collect_list` funnels every feature through one row,
    * so this sink is for the reference's snapshot sizes (O(1000)
    * vehicles); at scale use [[featureCollectionPartitioned]].
    *
    * Over [[pipeline]] on a one-document local frame, graft's
    * [[graft.plans.FoldCollectOverExplode]] rule turns the
    * collect-over-explode into one array expression, so the whole
    * plan folds into a driver-side LocalRelation and `collect()`
    * launches no Spark job. Without the rule the same plan runs with
    * one exchange. */
  def featureCollection(features: DataFrame): DataFrame =
    features
      .agg(collect_list(struct(col("id"), col("type"),
        col("properties"), col("geometry"))).as("features"))
      .select(to_json(struct(lit("FeatureCollection").as("type"),
        col("features"))).as("fc"))

  /** K1 at scale: the SAME features as [[featureCollection]], written
    * as partitioned newline-delimited GeoJSON — one Feature document
    * per line, one file per partition, nothing ever collected to a
    * single row/executor. A downstream consumer re-wraps lines into
    * a FeatureCollection trivially; the feature documents themselves
    * are byte-identical to the single-document wrap's array entries
    * (same struct schema → same JSON field order). */
  def featureCollectionPartitioned(features: DataFrame,
      path: String): Unit =
    graft.sources.Sources.writeJson(
      features.select(col("id"), col("type"), col("properties"),
        col("geometry")),
      path)
}
