package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Metlink
import graft.sources.Sources

/** Ingest/egress boundary behavior (S1-S3, K1). */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("jsonDocument parses an HTTP-response body under the declared schema") {
    val body = """{"header": {"v": "2.0"}, "entity": [
      {"id": "e1", "vehicle": {"trip": {"trip_id": "23__x"},
       "position": {"latitude": -41.3, "longitude": 174.8,
       "bearing": 5.0}, "timestamp": 1700000000,
       "vehicle": {"id": "v1"}}}]}"""
    val df = Sources.jsonDocument(spark, body, Metlink.vehicleSchema)
    assert(df.select(size($"entity")).as[Int].head() == 1)
    assert(Metlink.pipeline(df).count() == 1)
  }

  test("requireShape raises on malformed rows, passes clean input") {
    val dir = Files.createTempDirectory("graft-src").toFile
    val f = new java.io.File(dir, "in.json")
    Files.writeString(f.toPath,
      """{"a": 1, "b": "x"}
        |{"a": 2, "b": "y"}
        |not json at all{{{
        |""".stripMargin)
    val schema = StructType(Seq(StructField("a", LongType),
      StructField("b", StringType)))
    val df = Sources.jsonFiles(spark, f.getAbsolutePath, schema)
    intercept[IllegalArgumentException] {
      Sources.requireShape(df, "a")
    }
    val clean = df.filter($"_corrupt_record".isNull)
    assert(Sources.requireShape(clean, "a").count() == 2)
  }

  test("withEmptyFallback: failing pipeline yields empty frame with schema") {
    val schema = StructType(Seq(StructField("id", StringType),
      StructField("n", LongType)))
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true))
    val out =
      try Sources.withEmptyFallback(spark, schema) {
        spark.read.parquet("/nonexistent/path/xyz").select($"boom")
      } finally System.setErr(saved)
    assert(out.schema == schema)
    assert(out.count() == 0)
    // the logged line names the exception class, not just its message
    // (which may be null)
    val line = err.toString.linesIterator
      .find(_.contains("pipeline failed")).getOrElse("")
    assert(line.contains("org.apache.spark.sql.AnalysisException"), line)
  }

  test("partitioned parquet sink round-trips with partition pruning") {
    val dir = Files.createTempDirectory("graft-sink").toString + "/out"
    val df = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0))
      .toDF("id", "part", "v")
    Sources.writeParquet(df, dir, partitionCols = Seq("part"))
    val back = spark.read.parquet(dir).filter($"part" === "a")
    assert(back.count() == 2)
    // partition pruning visible in the scan
    val scan = back.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("part"))
  }

  test("featureCollection json export round-trips") {
    val body = """{"header": {}, "entity": [
      {"id": "e1", "vehicle": {"trip": {"trip_id": "QDF__1"},
       "position": {"latitude": -41.3, "longitude": 174.8,
       "bearing": 5.0}, "timestamp": 1700000000,
       "vehicle": {"id": "s9"}}}]}"""
    val fc = Metlink.featureCollection(Metlink.pipeline(
      Sources.jsonDocument(spark, body, Metlink.vehicleSchema)))
    val dir = Files.createTempDirectory("graft-fc").toString + "/fc"
    Sources.writeJson(fc, dir)
    val back = spark.read.json(dir)
    assert(back.count() == 1)
    val s = back.select($"fc").as[String].head()
    assert(s.contains("WLG-MetlinkShip-s9"))
  }
}
