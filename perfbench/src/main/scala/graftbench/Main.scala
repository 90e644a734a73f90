package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.Tables

/** One measured stretch of passes. Times are epoch milliseconds. */
final case class Measured(samples: Seq[(String, Double)],
    passes: Seq[(Double, Double)], failures: Seq[String])

/** The benchmark's JVM side: sets up one workload, runs it in a closed
  * loop with one client for the requested time, and writes
  * `result.json` (plus `spans.json` when traced) to its work dir.
  *
  * Usage: graftbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --cores <n> --data <dir> --work <dir> --spawn-ms <ms>
  */
object Main {
  private val mapper = new ObjectMapper()

  /** Runs `body` then `check`; the error message if either throws. */
  def attempt(body: => Unit, check: => Unit): Option[String] =
    try { body; check; None }
    catch { case e: Throwable =>
      Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    }

  /** Runs `ops` in pass order, pass after pass, until `stop(passes
    * completed, elapsed ms)` holds between two operations. Only
    * completed passes count as passes; every operation run is a sample. */
  def measure(ops: IndexedSeq[Op], tr: Tracer, label: String,
      stop: (Int, Double) => Boolean, afterOp: () => Unit): Measured = {
    val samples = mutable.ArrayBuffer[(String, Double)]()
    val passes = mutable.ArrayBuffer[(Double, Double)]()
    val failures = mutable.ArrayBuffer[String]()
    val t0 = Tracer.nowMs
    def stopNow = stop(passes.size, Tracer.nowMs - t0)
    while (!stopNow) {
      val ps = Tracer.nowMs
      var ran = 0
      tr.span(s"$label ${passes.size}") {
        ops.iterator.takeWhile(_ => !stopNow).foreach { op =>
          val s = Tracer.nowMs
          var timed = 0.0
          attempt(tr.span(op.name)(try op.run(tr) finally timed = Tracer.nowMs - s),
            op.check()).foreach(e => failures += s"${op.name}: $e")
          samples += op.name -> timed
          ran += 1
          afterOp()
        }
      }
      if (ran == ops.size) passes += ((ps, Tracer.nowMs))
    }
    Measured(samples.toSeq, passes.toSeq, failures.toSeq)
  }

  /** The end-to-end metrics of a measured stretch, except setup_s.
    * The p50 is the median over operations of each one's median, so
    * on a workload of unequal queries it does not jump between two
    * queries as their run counts change. */
  def endToEnd(m: Measured): Seq[(String, Double)] = {
    val perOp = m.samples.groupBy(_._1).values.map(v => Stats.median(v.map(_._2))).toSeq
    Seq("invocation_p50_ms" -> Stats.median(perOp),
      "invocation_p95_ms" -> Stats.percentile(m.samples.map(_._2), 95),
      "pass_s" -> Stats.median(m.passes.map(p => (p._2 - p._1) / 1000)),
      "query_geomean_s" -> Stats.geomean(perOp.map(_ / 1000)))
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = opt.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val cores = arg("cores").toInt
    val dataDir = arg("data")
    val work = Paths.get(arg("work"))
    val spawnMs = arg("spawn-ms").toDouble
    val stealAtStart = Steal.sample()

    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val listener = if (traced) Some(new ExecListener) else None
    listener.foreach(sc.addSparkListener)
    val tr: Tracer = if (traced) new Recorder(sc) else Tracer.Off

    val wl: Workload = workload match {
      case "metlink_feed" => new FeedWorkload(spark, seed, warmupPasses = 2)
      case "graph_fixpoint" => new QueryWorkload(spark, QueryWorkload.Graph,
        seed, dataDir, work.resolve("dump").toString)
      case "corpus_curation" => new QueryWorkload(spark, QueryWorkload.Curation,
        seed, dataDir, work.resolve("dump").toString)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val (setupAttempted, setupFailures) = tr.span("setup")(wl.setup())

    // Storage held in the block manager after each operation (traced).
    var storageMb = 0.0
    var cachedRdds = 0
    val afterOp: () => Unit = if (!traced) () => () else () => {
      val info = sc.getRDDStorageInfo
      storageMb = math.max(storageMb,
        info.map(i => i.memSize + i.diskSize).sum / 1048576.0)
      cachedRdds = math.max(cachedRdds, info.count(_.numCachedPartitions > 0))
    }
    val gcBefore = gcMillis()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    val firstOpMs = Tracer.nowMs
    val stealAtFirstOp = Steal.sample()
    val m = measure(wl.ops, tr, "pass",
      (done, elapsed) => done > 0 && elapsed >= seconds * 1000, afterOp)
    val gcPauseS = (gcMillis() - gcBefore) / 1000.0

    // Times are reported net of host CPU steal: each is scaled by the
    // share of busy time the host did not take away over its stretch
    // (set-up, or the timed passes). Raw times go to result.json.
    val setupSteal = Steal.share(stealAtStart, stealAtFirstOp)
    val runSteal = Steal.share(stealAtFirstOp, Steal.sample())
    val rawE2e = ("setup_s" -> (firstOpMs - spawnMs) / 1000) +: endToEnd(m)
    val e2e = rawE2e.map {
      case ("setup_s", v) => "setup_s" -> v * (1 - setupSteal)
      case (k, v) => k -> v * (1 - runSteal)
    }
    var attempted = setupAttempted + m.samples.size
    val failures = mutable.ArrayBuffer[String]() ++ setupFailures ++ m.failures
    val metrics: Seq[(String, Double)] = if (!traced) e2e else {
      val layers = new Layers(tr.asInstanceOf[Recorder], listener.get,
        cores, m, wl.ops.size)
      // The feed's layers are also measured on the query workloads,
      // by a short feed run after the workload's own passes.
      val feed = wl match {
        case f: FeedWorkload => f
        case _ =>
          val f = new FeedWorkload(spark, seed, warmupPasses = 1)
          tr.span("probe setup")(f.setup())
          measure(f.ops, tr, "probe", (done, _) => done >= 1, () => ())
          f
      }
      if (feed ne wl) feed.close()
      val (kernels, kernelFailures) =
        tr.span("kernels")(Kernels.measure(spark, dataDir))
      attempted += 2
      failures ++= kernelFailures
      listener.get.drain(sc)
      Files.writeString(work.resolve("spans.json"),
        layers.spansArtifact(workload, seed).toPrettyString)
      e2e.map { case (k, v) => s"traced.$k" -> v } ++
        layers.sources(feed) ++ layers.metlink(feed) ++ layers.queries ++
        layers.exec ++ layers.ckpt(storageMb, cachedRdds) ++ kernels ++
        // Executors share this JVM in local mode: their GC time is the
        // collectors' time, per completed pass.
        Seq("exec.gc_s" -> gcPauseS / m.passes.size,
          "jvm.heap_peak_mb" -> heapPeakMb(), "jvm.gc_pause_s" -> gcPauseS,
          "jvm.jit_ms" -> ManagementFactory.getCompilationMXBean
            .getTotalCompilationTime.toDouble)
    }
    wl match { case f: FeedWorkload => f.close(); case _ => () }

    val out = mapper.createObjectNode()
    out.put("workload", workload).put("seed", seed).put("cores", cores)
      .put("traced", traced).put("ops_per_pass", wl.ops.size)
      .put("passes", m.passes.size).put("samples", m.samples.size)
      .put("attempted", attempted)
      .put("steal_share_setup", setupSteal).put("steal_share_run", runSteal)
    val raw = out.putObject("raw_metrics")
    rawE2e.foreach { case (k, v) => raw.put(k, v) }
    val fails = out.putArray("failures")
    failures.foreach(f => fails.add(f))
    val opMs = out.putObject("op_ms")
    m.samples.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (n, v) =>
      val a = opMs.putArray(n)
      v.foreach(x => a.add(x._2))
    }
    val mo = out.putObject("metrics")
    metrics.foreach { case (k, v) => mo.put(k, v) }
    Files.writeString(work.resolve("result.json"), out.toPrettyString)
    spark.stop()
  }

  private def gcMillis(): Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Sum of each heap pool's peak since the measured phase began. */
  private def heapPeakMb(): Double = ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0
}
