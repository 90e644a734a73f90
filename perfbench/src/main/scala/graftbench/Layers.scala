package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** Per-layer metrics of a traced run, derived from the recorded spans,
  * the scheduler listener and the measured passes. Read only after the
  * run's last span has closed and the listener has drained. */
final class Layers(rec: Recorder, ls: ExecListener,
    cores: Int, m: Measured, opsPerPass: Int) {
  private lazy val spans = rec.spans.toSeq
  private lazy val byId = spans.map(s => s.id -> s).toMap
  private def dur(s: Span) = s.end - s.start
  private val MB = 1048576.0

  /** Durations (ms) of spans named `name` directly under an operation
    * whose name starts with `op`. */
  private def phase(name: String, op: String): Seq[Double] =
    spans.filter(s => s.name == name &&
      byId.get(s.parent).exists(_.name.startsWith(op))).map(dur)

  private def med(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs)

  def sources(f: FeedWorkload): Seq[(String, Double)] = Seq(
    "sources.fetch_ms" -> med(phase("fetch", "invocation ")),
    "sources.parse_build_ms" -> med(phase("parse_build", "invocation ")),
    "sources.post_ms" -> med(phase("post", "invocation ")),
    "sources.bytes_in" -> med(f.bytesIn.toSeq))

  def metlink(f: FeedWorkload): Seq[(String, Double)] = {
    // The planning tracker counts whole milliseconds: a mean keeps
    // the sub-millisecond part a median of integers would drop.
    def planMs(p: String) = {
      val xs = f.planPhases.toSeq.map(_.getOrElse(p, 0.0))
      if (xs.isEmpty) Double.NaN else xs.sum / xs.size
    }
    Seq("metlink.build_ms" -> med(phase("build", "invocation ")),
      "metlink.plan_analysis_ms" -> planMs("analysis"),
      "metlink.plan_optimizer_ms" -> planMs("optimization"),
      "metlink.plan_physical_ms" -> planMs("planning"),
      "metlink.exec_ms" -> med(phase("exec", "invocation ")))
  }

  /** Build, plan and exec time per completed pass, whatever the
    * operations are: the feed's DataFrame is a query too. */
  def queries: Seq[(String, Double)] = {
    val passIds = spans.filter(_.name.startsWith("pass ")).map(_.id).toSet
    val opIds = spans.filter(s => passIds(s.parent)).map(s => s.id -> s.parent).toMap
    val perPass = spans.filter(s => opIds.contains(s.parent))
      .groupBy(s => opIds(s.parent))
      .filter { case (p, _) => opIds.values.count(_ == p) == opsPerPass }.values
    def perPassSum(names: Set[String]) =
      med(perPass.map(_.filter(s => names(s.name)).map(dur).sum / 1000).toSeq)
    Seq("queries.build_s" -> perPassSum(Set("build", "parse_build")),
      "queries.plan_s" -> perPassSum(Set("plan")),
      "queries.exec_s" -> perPassSum(Set("exec")))
  }

  /** Scheduler and executor counters per measured pass, medians. */
  def exec: Seq[(String, Double)] = {
    val jobs = ls.jobs
    val tasks = ls.tasks
    val per = m.passes.map { case (s, e) =>
      val ts = tasks.filter(t => t.launch >= s && t.launch <= e)
      val taskS = ts.map(_.runMs).sum / 1000.0
      val wallS = (e - s) / 1000
      Map("exec.jobs" -> jobs.count(j => j.start >= s && j.start <= e).toDouble,
        "exec.stages" -> ts.map(_.stage).distinct.size.toDouble,
        "exec.tasks" -> ts.size.toDouble,
        "exec.job_gap_s" -> (e - s - Intervals.coveredWithin(s, e,
          ts.map(t => (t.launch.toDouble, t.finish.toDouble)))) / 1000,
        "exec.task_s" -> taskS,
        "exec.core_util" -> taskS / (wallS * cores),
        "exec.shuffle_read_mb" -> ts.map(_.shuffleRead).sum / MB,
        "exec.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / MB,
        "exec.spill_mb" -> ts.map(_.spill).sum / MB,
        "exec.peak_exec_mem_mb" -> ts.map(_.peakMem).maxOption.getOrElse(0L) / MB)
    }
    per.head.keys.toSeq.sorted.map(k => k -> med(per.map(_(k))))
  }

  def ckpt(storageMb: Double, cachedRdds: Int): Seq[(String, Double)] = Seq(
    "ckpt.storage_mb_after_query" -> storageMb,
    "ckpt.cached_rdds_after_query" -> cachedRdds.toDouble)

  /** Every span, with each Spark job hung under the span whose job
    * description launched it (or, for a job launched on another
    * thread without one, the innermost span open when it started),
    * and self time = duration minus the part its children cover. */
  def spansArtifact(workload: String, seed: Long): ObjectNode = {
    var byDescription = 0
    val jobSpans = ls.jobs.map { j =>
      val parent = j.span.filter(byId.contains) match {
        case Some(p) => byDescription += 1; p
        case None => spans.filter(s => s.start <= j.start && s.end >= j.start)
          .sortBy(-_.start).headOption.map(_.id).getOrElse(0)
      }
      Span(1000000 + j.id, s"job ${j.id}", parent, j.start.toDouble, j.end.toDouble)
    }
    val all = spans ++ jobSpans
    val kids = all.groupBy(_.parent)
    def self(s: Span) = dur(s) - Intervals.coveredWithin(s.start, s.end,
      kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
    val root = new ObjectMapper().createObjectNode()
    root.put("workload", workload).put("seed", seed).put("cores", cores)
      .put("jobs_tied_by_description", byDescription)
      .put("jobs_tied_by_time", jobSpans.size - byDescription)
    // Self time by span name, numbered names (pass 3, job 17) pooled.
    val bySelf = root.putObject("self_ms_by_name")
    all.groupBy(_.name.replaceAll(" \\d+$", "")).toSeq.sortBy(_._1)
      .foreach { case (n, ss) => bySelf.put(n, ss.map(self).sum) }
    val arr = root.putArray("spans")
    all.sortBy(_.start).foreach { s =>
      arr.addObject().put("id", s.id).put("name", s.name).put("parent", s.parent)
        .put("start_ms", s.start).put("end_ms", s.end).put("self_ms", self(s))
    }
    root
  }
}
