package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Cdc
import graft.streaming.StreamOps

/** Streaming CDC apply (G12 twin of q162): micro-batched change logs
  * fold into an on-disk snapshot with tombstone persistence — the
  * incremental form must equal the batch merge over the full log,
  * late low-seq changes must lose to applied tombstones, and replay
  * must be idempotent.
  */
class StreamCdcSpec extends SparkSpec {
  import spark.implicits._

  private def chg(rows: (Long, Long, String, Long)*) =
    rows.toDF("k", "seq", "op", "v")

  private def live(dir: String) =
    StreamOps.cdcSnapshot(spark, dir)
      .select("k", "v", "last_seq").as[(Long, Long, Long)]
      .collect().toSeq.sortBy(_._1)

  test("incremental applies equal one batch merge over the full log") {
    val dir = Files.createTempDirectory("graft-cdc").toString + "/s"
    val b1 = chg((1L, 0L, "I", 10L), (2L, 0L, "I", 20L),
      (3L, 0L, "I", 30L))
    val b2 = chg((1L, 1L, "U", 11L), (3L, 1L, "D", 0L))
    val b3 = chg((2L, 2L, "U", 22L), (4L, 2L, "I", 40L))
    Seq(b1, b2, b3).foreach(b =>
      StreamOps.applyCdcBatch(b, dir, Seq("k"), "seq", "op"))
    val batch = Cdc.mergeLatest(
        b1.unionByName(b2).unionByName(b3), Seq("k"), "seq", "op")
      .select("k", "v", "last_seq").as[(Long, Long, Long)]
      .collect().toSeq.sortBy(_._1)
    assert(live(dir) === batch)
    assert(live(dir) === Seq((1L, 11L, 1L), (2L, 22L, 2L),
      (4L, 40L, 2L)))
  }

  test("a late lower-seq change loses to an applied tombstone") {
    val dir = Files.createTempDirectory("graft-cdc").toString + "/s"
    StreamOps.applyCdcBatch(chg((1L, 0L, "I", 10L), (1L, 5L, "D", 0L)),
      dir, Seq("k"), "seq", "op")
    // late update with seq 3 < 5 arrives in a LATER micro-batch
    StreamOps.applyCdcBatch(chg((1L, 3L, "U", 99L)),
      dir, Seq("k"), "seq", "op")
    assert(live(dir) === Seq.empty, "tombstone must win over late seq")
    // but a genuinely newer change resurrects
    StreamOps.applyCdcBatch(chg((1L, 7L, "I", 70L)),
      dir, Seq("k"), "seq", "op")
    assert(live(dir) === Seq((1L, 70L, 7L)))
  }

  test("replaying a micro-batch leaves the snapshot unchanged") {
    val dir = Files.createTempDirectory("graft-cdc").toString + "/s"
    val b = chg((1L, 0L, "I", 10L), (2L, 0L, "I", 20L),
      (2L, 1L, "U", 21L))
    StreamOps.applyCdcBatch(b, dir, Seq("k"), "seq", "op")
    val first = live(dir)
    StreamOps.applyCdcBatch(b, dir, Seq("k"), "seq", "op")
    assert(live(dir) === first)
  }

  test("a stale swap directory stops the apply and the compaction, " +
      "naming the interrupted job") {
    val dir = Files.createTempDirectory("graft-cdc").toString + "/s"
    StreamOps.applyCdcBatch(chg((1L, 0L, "I", 10L)),
      dir, Seq("k"), "seq", "op")
    Files.createDirectory(Paths.get(dir + ".old"))
    val apply = intercept[IllegalArgumentException](
      StreamOps.applyCdcBatch(chg((1L, 1L, "U", 11L)),
        dir, Seq("k"), "seq", "op"))
    assert(apply.getMessage.contains(s"$dir.old from an interrupted " +
      "apply — resolve manually before applying again"), apply.getMessage)
    val compact = intercept[IllegalArgumentException](
      StreamOps.compactAdmissionIndex(spark, dir, 1L << 20))
    assert(compact.getMessage.contains(s"$dir.old from an interrupted " +
      "compaction — resolve manually before compacting again"),
      compact.getMessage)
    assert(live(dir) === Seq((1L, 10L, 0L)), "nothing was swapped in")
  }

  test("restart from checkpoint resumes the stream without replaying applied batches") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft-cdc-rs")
    val dir = root.toString + "/snap"
    val ckpt = root.toString + "/ckpt"
    val in = MemoryStream[(Long, Long, String, Long)]
    val df = in.toDF().toDF("k", "seq", "op", "v")
    val q1 = StreamOps.startCdcApply(df, dir, ckpt,
      Seq("k"), "seq", "op")
    in.addData((1L, 0L, "I", 10L), (2L, 0L, "I", 20L))
    q1.processAllAvailable()
    q1.stop()
    // data arrives while the query is down; the restart must pick up
    // from the committed offset and apply only the new batch
    in.addData((1L, 1L, "U", 11L), (3L, 1L, "I", 30L))
    val q2 = StreamOps.startCdcApply(df, dir, ckpt,
      Seq("k"), "seq", "op")
    q2.processAllAvailable()
    q2.stop()
    assert(live(dir) === Seq((1L, 11L, 1L), (2L, 20L, 0L),
      (3L, 30L, 1L)))
  }

  test("standing stream folds triggers into the snapshot") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft-cdc-st")
    val dir = root.toString + "/snap"
    val ckpt = root.toString + "/ckpt"
    val in = MemoryStream[(Long, Long, String, Long)]
    val q = StreamOps.startCdcApply(
      in.toDF().toDF("k", "seq", "op", "v"), dir, ckpt,
      Seq("k"), "seq", "op")
    in.addData((1L, 0L, "I", 10L), (2L, 0L, "I", 20L))
    q.processAllAvailable()
    in.addData((1L, 1L, "D", 0L), (3L, 1L, "I", 30L))
    q.processAllAvailable()
    q.stop()
    assert(live(dir) === Seq((2L, 20L, 0L), (3L, 30L, 1L)))
  }
}
