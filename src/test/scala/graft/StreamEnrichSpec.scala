package graft

import java.sql.Timestamp

import org.apache.spark.sql.Observation
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamOps

/** Stream-static enrichment join and observe() telemetry (the
  * streaming-safe form of the reference's A2 counters).
  */
class StreamEnrichSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("stream-static join enriches each micro-batch from the dimension") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("key", "tier")
    val in = MemoryStream[(Long, Double)]
    val out = StreamOps.enrichWithStatic(
      in.toDF().toDF("key", "value"), dim, "key")
    val q = out.writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()

    in.addData((1L, 10.0), (2L, 20.0), (3L, 30.0))
    q.processAllAvailable()
    in.addData((1L, 11.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("enriched")
      .select($"key", $"value", $"tier")
      .as[(Long, Double, Option[String])].collect().toSet
    assert(rows == Set(
      (1L, 10.0, Some("gold")), (2L, 20.0, Some("silver")),
      (3L, 30.0, None), // left join: unknown key survives unenriched
      (1L, 11.0, Some("gold"))))
  }

  test("observe() metrics accumulate per micro-batch in streaming") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Double)]
    val out = StreamOps.withTelemetry(
      in.toDF().toDF("key", "value"), "batch_stats", "value")
    @volatile var seen = List.empty[(Long, Double)]
    val q = out.writeStream.format("memory").queryName("telemetry")
      .outputMode("append").start()
    in.addData((1L, 1.5), (2L, 2.5))
    q.processAllAvailable()
    in.addData((3L, 4.0))
    q.processAllAvailable()
    // observed metrics surface on recentProgress per completed batch
    seen = q.recentProgress.toList
      .flatMap(p => Option(p.observedMetrics.get("batch_stats")))
      .map(r => (r.getAs[Long]("n_rows"), r.getAs[Double]("sum_value")))
    q.stop()
    assert(seen.contains((2L, 4.0)))
    assert(seen.contains((1L, 4.0)))
  }

  test("transformWithState keeps running per-key counts across batches") {
    implicit val sqlCtx = spark.sqlContext
    withConf("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state" +
          ".RocksDBStateStoreProvider") {
      val in = MemoryStream[(Long, java.sql.Timestamp)]
      val out = StreamOps.runningCountsTws(in.toDS())
      val q = out.writeStream.format("memory").queryName("tws")
        .outputMode("update").start()
      in.addData((1L, ts("2024-01-01 00:00:01")),
        (1L, ts("2024-01-01 00:00:02")), (2L, ts("2024-01-01 00:00:03")))
      q.processAllAvailable()
      in.addData((1L, ts("2024-01-01 00:00:09")))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("tws")
        .select($"key", $"n").as[(Long, Long)].collect().toSet
      assert(rows.contains((1L, 2L))) // batch 1: two events for key 1
      assert(rows.contains((2L, 1L)))
      assert(rows.contains((1L, 3L))) // batch 2: state carried over
    }
  }

  test("observe() works identically on the batch path via Observation") {
    val obs = Observation("batch_obs")
    val df = Seq((1L, 2.0), (2L, 3.0), (3L, 5.0)).toDF("key", "value")
      .observe(obs, count(lit(1)).as("n_rows"),
        sum(col("value")).as("sum_value"))
    df.write.format("noop").mode("overwrite").save()
    val m = obs.get
    assert(m("n_rows") == 3L)
    assert(m("sum_value") == 10.0)
  }
}
