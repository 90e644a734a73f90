package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.operators.Metlink
import graft.sources.{HttpEdge, Sources}

/** One operation of a workload. `run` is timed; `check` validates its
  * output afterwards, untimed, and throws when the output is wrong. */
final case class Op(name: String, run: Tracer => Unit, check: () => Unit)

trait Workload {
  /** The operations of one pass, in order. */
  def ops: IndexedSeq[Op]
  /** Untimed warm-up at the benchmark's own scale, plus any untimed
    * correctness pass. Returns (operations attempted, failures). */
  def setup(): (Int, Seq[String])
}

/** The reference's own job: one `HttpEdge.runMetlink` call per
  * operation against the in-process feed and sink, cycling through
  * `Snapshots` consecutive feed ticks. One pass serves each tick once. */
final class FeedWorkload(spark: SparkSession, seed: Long, warmupPasses: Int)
    extends Workload with AutoCloseable {
  private val ApiKey = "graftbench"
  private val Entities = 600
  private val Ticks = 8

  private val server = new FeedServer(ApiKey)
  private val snapshots = Snapshots.generate(seed, Entities, Ticks)
  /** Per traced invocation: bytes fetched, and planning phase ms. */
  val bytesIn = mutable.ArrayBuffer[Double]()
  val planPhases = mutable.ArrayBuffer[Map[String, Double]]()

  private def invoke(tr: Tracer): Unit =
    if (!tr.on) HttpEdge.runMetlink(spark, server.feedUrl, ApiKey, server.sinkUrl)
    else {
      // runMetlink's steps, each timed as a call into its layer.
      val body = tr.span("fetch") {
        HttpEdge.fetchJson(server.feedUrl, Map("x-api-key" -> ApiKey))
      }
      bytesIn += body.getBytes(StandardCharsets.UTF_8).length.toDouble
      val parsed = tr.span("parse_build") {
        Sources.requireShape(
          Sources.jsonDocument(spark, body, Metlink.vehicleSchema), "entity")
      }
      val fc = tr.span("build") {
        Metlink.featureCollection(Metlink.pipeline(parsed))
      }
      tr.span("plan")(fc.queryExecution.executedPlan)
      planPhases += fc.queryExecution.tracker.phases.map {
        case (k, v) => k -> v.durationMs.toDouble }
      val doc = tr.span("exec") {
        fc.collect().headOption.map(_.getString(0))
          .getOrElse(HttpEdge.EmptyFeatureCollection)
      }
      tr.span("post")(HttpEdge.postJson(server.sinkUrl, doc))
    }

  private def check(s: Snapshot): Unit = {
    val ids = Snapshots.postedIds(server.lastPosted.getOrElse(
      throw new IllegalStateException("nothing was posted to the sink")))
    val got = ids.toSet
    if (ids.size != got.size || got != s.expected)
      throw new IllegalStateException(s"posted ${ids.size} features " +
        s"(${got.size} distinct) but expected ${s.expected.size}; " +
        s"missing ${(s.expected -- got).take(3)}, extra ${(got -- s.expected).take(3)}")
  }

  val ops: IndexedSeq[Op] = snapshots.zipWithIndex.map { case (s, k) =>
    Op(s"invocation $k", tr => { server.serve(s); invoke(tr) }, () => check(s))
  }

  def setup(): (Int, Seq[String]) = {
    val failures = for {
      _ <- 1 to warmupPasses
      op <- ops
      err <- Main.attempt(op.run(Tracer.Off), op.check())
    } yield s"warm-up ${op.name}: $err"
    (warmupPasses * ops.size, failures)
  }

  def close(): Unit = server.close()
}

/** Registry queries run to the noop sink, in an order fixed by the
  * seed. Set-up runs each query once, writing its result in Verify's
  * layout (`<name>/` parquet plus `oracle_sql.json`) for the DuckDB
  * compare in `tools/check.py`; that pass is also the warm-up. */
final class QueryWorkload(spark: SparkSession, names: Seq[String], seed: Long,
    dataDir: String, dumpDir: String) extends Workload {
  private val registry = SparkEntry.queries
  private val order = new scala.util.Random(seed).shuffle(names)
  private val fns = order.map(n => n -> registry.getOrElse(n,
    throw new IllegalArgumentException(s"no registry query named $n")))

  private def run(fn: (SparkSession, String) => DataFrame)(tr: Tracer): Unit =
    if (!tr.on) fn(spark, dataDir).write.format("noop").mode("overwrite").save()
    else {
      val df = tr.span("build")(fn(spark, dataDir))
      tr.span("plan")(df.queryExecution.executedPlan)
      tr.span("exec")(df.write.format("noop").mode("overwrite").save())
    }

  val ops: IndexedSeq[Op] = fns.map { case (n, fn) =>
    Op(s"query $n", run(fn), () => ())
  }.toIndexedSeq

  def setup(): (Int, Seq[String]) = {
    val failures = fns.flatMap { case (n, fn) =>
      Main.attempt(fn(spark, dataDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$dumpDir/$n"), ()).map(e => s"dump $n: $e")
    }
    val oracle = new ObjectMapper().createObjectNode()
    val sqls = SparkEntry.oracleSql
    order.foreach(n => sqls.get(n).foreach(oracle.put(n, _)))
    Files.writeString(Paths.get(dumpDir, "oracle_sql.json"), oracle.toString)
    (fns.size, failures)
  }
}

object QueryWorkload {
  // Each list is a subset of its family sized so that one warm pass
  // takes about 10 s at sf0.1 on local[4]: the whole family (45 s and
  // 65 s a pass) does not fit the benchmark's time budget. See
  // perfbench/README.md for the per-query probe behind the choice.

  /** Iterative graph kernels (core numbers, PageRank, label
    * propagation): dozens of Spark jobs each, bound by driver
    * round-trips and checkpoint state. */
  val Graph: Seq[String] = Seq("q191_core_numbers", "q94_pagerank",
    "q183_label_propagation")

  /** Corpus curation: task-time-bound, through the custom kernels
    * (`shingles`, `vec_dot` by SQL and by rewrite, `pq_assign`). */
  val Curation: Seq[String] = Seq("q57_corpus_curate", "q31_cosine_topk",
    "q46_sql_vec_dot", "q137_pq_adc_ann")
}
