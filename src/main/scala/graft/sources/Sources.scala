package graft.sources

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Ingest/egress boundary (SURVEY.md §2.A S1-S3, K1): the engine
  * equivalents of the reference's HTTP fetch → validate → submit
  * edges. Spark has no HTTP source; the boundary pattern is: fetch
  * driver-side (or file-drop), then hand the payload to a schema'd
  * reader — after which everything is distributed.
  *
  * All readers take a DECLARED StructType (never inference): same
  * "tolerate junk rows" behavior as the reference's shape guards
  * (task.ts:174-179) via PERMISSIVE mode + corrupt-record filtering.
  */
object Sources {

  /** S1: parse an in-memory JSON document (one HTTP response body)
    * into rows under a declared schema — `spark.createDataset(body)`
    * + `from_json`, the exact ingest edge of the reference's
    * `res.json()` (task.ts:167). */
  def jsonDocument(spark: SparkSession, body: String,
      schema: StructType): DataFrame = {
    import spark.implicits._
    spark.createDataset(Seq(body))
      .select(from_json(col("value"), schema).as("doc"))
      .select(col("doc.*"))
  }

  /** S1 (file form): schema'd JSON reader, PERMISSIVE with explicit
    * corrupt-record capture. */
  def jsonFiles(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read
      .schema(schema.add("_corrupt_record", "string"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** S2: shape validation — fail fast when a required top-level
    * column is null/absent across the batch (the reference throws on
    * a missing `entity` array, task.ts:174-179). */
  def requireShape(df: DataFrame, requiredCol: String): DataFrame = {
    if (df.schema.fieldNames.contains("_corrupt_record")) {
      // Spark disallows filtering on ONLY the corrupt-record column
      // of a lazy json scan — cache first (documented requirement).
      val materialized = df.cache()
      val bad = materialized.filter(col("_corrupt_record").isNotNull)
        .limit(1)
      if (bad.count() > 0)
        throw new IllegalArgumentException(
          s"malformed input rows present (see _corrupt_record)")
    }
    if (!df.schema.fieldNames.contains(requiredCol))
      throw new IllegalArgumentException(
        s"missing required column: $requiredCol")
    df
  }

  /** S3: error → empty-output fallback (task.ts:180-188): run the
    * pipeline; on any non-fatal failure return an empty frame with
    * the right schema so downstream sinks receive a valid (empty)
    * batch instead of crashing — markers go stale, not frozen. */
  def withEmptyFallback(spark: SparkSession, outputSchema: StructType)(
      pipeline: => DataFrame): DataFrame =
    try {
      val out = pipeline
      out.queryExecution.assertAnalyzed()
      out
    } catch {
      case NonFatal(e) =>
        // the reference logs and submits an empty FeatureCollection;
        // e.toString names the class even when the message is null
        System.err.println(s"[graft] pipeline failed, emitting " +
          s"empty output: $e")
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          outputSchema)
    }

  /** K1 (scale form): partitioned columnar sink — at 100 TB the
    * reference's single-document submit becomes a partitioned write;
    * `partitionCols` gives pruning to every downstream reader. */
  def writeParquet(df: DataFrame, path: String,
      partitionCols: Seq[String] = Nil,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*)
     else w).parquet(path)
  }

  /** K1 (wire form): newline-delimited GeoJSON-ish export. */
  def writeJson(df: DataFrame, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).json(path)
}
