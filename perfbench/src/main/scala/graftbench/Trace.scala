package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed call at a layer boundary. Times are epoch milliseconds
  * with sub-millisecond precision; `parent` is 0 for a root span. */
final case class Span(id: Int, name: String, parent: Int, start: Double,
    end: Double)

/** Where the harness records what it times. The untraced run uses
  * [[Tracer.Off]]: no spans, no job descriptions, no listener. */
trait Tracer {
  def span[T](name: String)(body: => T): T
  def on: Boolean
}

object Tracer {
  object Off extends Tracer {
    def span[T](name: String)(body: => T): T = body
    def on = false
  }

  /** Milliseconds since the epoch, from the monotonic clock. */
  private val anchorNanos = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNanos) / 1e6
}

/** In-memory span recorder for the traced run. Every span sets the
  * Spark job description to `graftbench#<span id>`, so the
  * [[ExecListener]] can hang each job under the span that launched it. */
final class Recorder(sc: SparkContext) extends Tracer {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 1

  def on = true

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    sc.setJobDescription(s"graftbench#$id $name")
    val start = Tracer.nowMs
    try body
    finally {
      spans += Span(id, name, parent, start, Tracer.nowMs)
      stack = stack.tail
      sc.setJobDescription(
        stack.headOption.map(p => s"graftbench#$p").orNull)
    }
  }
}

/** Scheduler counters for the traced run. Events arrive on Spark's
  * listener-bus thread, so every read goes through [[drain]] first. */
final class ExecListener extends SparkListener {
  import ExecListener._

  private val jobStarts = mutable.Map[Int, (Long, Option[Int])]()
  private val jobsDone = mutable.ArrayBuffer[Job]()
  private val taskLog = mutable.ArrayBuffer[Task]()
  private var drained = 0

  private val SpanRef = """graftbench#(\d+).*""".r
  private val Description = "spark.job.description"

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc: Option[String] = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Description)))
    desc match {
      case Some("graftbench-drain") => ()
      case _ => jobStarts(e.jobId) = (e.time, desc.collect {
        case SpanRef(id) => id.toInt })
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId) match {
      case Some((start, span)) => jobsDone += Job(e.jobId, start, e.time, span)
      case None => drained += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) taskLog += Task(e.stageId, i.launchTime, i.finishTime,
      m.executorRunTime, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory)
  }

  /** Block until every event posted before this call is delivered:
    * the listener bus is FIFO, so once a marker job's end arrives,
    * so has everything before it. */
  def drain(sc: SparkContext): Unit = {
    val before = synchronized(drained)
    val desc = sc.getLocalProperty(Description)
    sc.setJobDescription("graftbench-drain")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setJobDescription(desc)
    val deadline = System.currentTimeMillis() + 60000
    while (synchronized(drained) == before) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException("listener bus did not drain in 60 s")
      Thread.sleep(5)
    }
  }

  def jobs: Seq[Job] = synchronized(jobsDone.toSeq)
  def tasks: Seq[Task] = synchronized(taskLog.toSeq)
}

object ExecListener {
  final case class Job(id: Int, start: Long, end: Long, span: Option[Int])
  final case class Task(stage: Int, launch: Long, finish: Long,
      runMs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long,
      peakMem: Long)
}

object Intervals {
  /** Total length of the union of `[start, end)` intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Part of `[s, e)` covered by the given intervals, each clipped. */
  def coveredWithin(s: Double, e: Double, iv: Seq[(Double, Double)])
      : Double =
    covered(iv.map(x => (math.max(s, x._1), math.min(e, x._2))))
}
