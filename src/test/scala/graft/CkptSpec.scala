package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Ckpt, Components, Graph}

/** The reliable-checkpoint knob ([[graft.operators.Ckpt]]): iterative
  * kernels default to localCheckpoint (blocks pinned to executors —
  * fine on local[n], unrecoverable after executor loss on a
  * cluster); setting `spark.graft.checkpoint.dir` switches every
  * lineage cut to reliable `checkpoint()` into that directory, the
  * mode a multi-hour 100 TB iterative job runs with. The two modes
  * must be OUTPUT-IDENTICAL — only the storage of the materialized
  * round frames differs.
  */
class CkptSpec extends SparkSpec {
  import spark.implicits._

  private def edges = Seq(
    // two components: a 6-cycle with a chord (its 2-core is all 6)
    // and a 3-chain tail hanging off a triangle
    (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 1L),
    (1L, 4L),
    (10L, 11L), (11L, 12L), (12L, 10L), (12L, 13L), (13L, 14L))
    .toDF("a", "b")

  private def nodes = edges.select(col("a").as("id"))
    .unionByName(edges.select(col("b").as("id"))).distinct()

  private def withReliable[A](f: => A): A = {
    val dir = Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(Ckpt.DirKey, dir)
    try f
    finally spark.conf.unset(Ckpt.DirKey)
  }

  test("reliable and local modes are output-identical on kernels") {
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    val src = Seq(1L, 13L).toDF("s")
    val docs = Seq((1L, "the quick brown fox jumps over a lazy dog"),
      (2L, "the quick brown fox jumps over a lazy dog"),
      (3L, "a stitch in time saves nine"))
      .toDF("doc_id", "text")
    def run() = {
      val cc = Components.connectedComponents(nodes, "id", edges,
          "a", "b")
        .as[(Long, Long)].collect().toSet
      val (core, _) = Graph.kCoreWithRounds(edges, "a", "b", k = 2,
        maxRounds = 20)
      // the three BFS entry points share one level loop; Curate's
      // exact-dedup frame is a plain (non-loop) cut
      val more = Seq(
        Graph.bfsHops(edges, "a", "b", src, "s", 3),
        Graph.perSourceHops(edges, "a", "b", src, "s", 3),
        Graph.directedHops(edges, "a", "b", 1L, 3),
        operators.Curate.curate(docs, "doc_id", "text"))
      (cc, core.select(col("id"), col("deg").cast("int"))
        .as[(Long, Int)].collect().toSet, more.map(rows))
    }
    val local = run()
    val reliable = withReliable(run())
    assert(local == reliable)
    assert(local._1.map(_._2).toSet == Set(1L, 10L))
    assert(local._3.forall(_.nonEmpty))
  }

  test("reliable mode actually writes round frames to the dir") {
    val dir = Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(Ckpt.DirKey, dir)
    try {
      Components.connectedComponents(nodes, "id", edges, "a", "b")
        .count()
      // Spark nests <dir>/<context-uuid>/rdd-*; at least one rdd
      // checkpoint directory must exist after the run. The context
      // keeps its first checkpoint dir for the session, which may be
      // a dir from an earlier test — walk the CONTEXT's dir.
      val ckRoot = spark.sparkContext.getCheckpointDir.get
      val rdds = new java.io.File(new java.net.URI(ckRoot).getPath)
        .listFiles()
      assert(rdds != null && rdds.exists(_.getName.startsWith("rdd-")))
    } finally spark.conf.unset(Ckpt.DirKey)
  }

  test("unset conf falls back to localCheckpoint (no checkpoint dir needed)") {
    // would throw "Checkpoint directory has not been set" if the
    // fallback broke — the default path must never require one
    assert(Components.connectedComponents(nodes, "id", edges, "a", "b")
      .count() == 11L)
  }

  test("cutCounted rejects a non-integral metric naming its index " +
      "and class") {
    val err = intercept[IllegalArgumentException] {
      Ckpt.cutCounted(edges, count(lit(1)), avg(col("a")))
    }
    assert(err.getMessage.contains("metric 1") &&
      err.getMessage.contains("java.lang.Double"), err.getMessage)
  }
}
