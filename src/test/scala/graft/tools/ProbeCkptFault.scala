package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Ckpt, Components, Graph}

/** Dev-only fault-injection probe for the reliable-checkpoint knob
  * (r13 VERDICT ask 1): [[graft.operators.Ckpt]] exists precisely so
  * a multi-hour iterative 100 TB run survives executor loss — this
  * probe actually LOSES an executor and measures what happens.
  *
  * `fault` mode (master = `local-cluster[2,2,2048]` — real separate
  * executor JVMs, unlike `local[n]` where "executor loss" cannot be
  * staged):
  *
  *  1. baseline: connected components over a deterministic
  *     segmented-chain graph (segment length ~= round count, so the
  *     fixpoint runs long enough to aim a kill into) with
  *     `spark.graft.checkpoint.dir` SET → result digest + wall time;
  *  2. fault run: the same job re-run while a watchdog thread
  *     `destroyForcibly()`s one CoarseGrainedExecutorBackend child
  *     JVM mid-fixpoint (SIGKILL — no shutdown hooks, the honest
  *     crash). The standalone master relaunches the executor; every
  *     lost block re-reads from the reliable checkpoint files, and
  *     the probe asserts the job COMPLETES with a digest equal to
  *     baseline;
  *  3. negative control: the same kill staged against the DEFAULT
  *     `localCheckpoint` mode, where lineage is severed and the
  *     pinned blocks die with the executor. Expected outcome is a
  *     failed job (the reason the knob exists); the observed outcome
  *     is recorded either way, not asserted — kill timing can
  *     occasionally land after the last cut, in which case the run
  *     legitimately completes.
  *
  * The session launches with
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (see the
  * Ckpt scaladoc: a START-TIME conf) and reports the number of
  * checkpoint RDD dirs left on disk at the end — with the cleaner
  * on, O(live frames), not O(total cuts).
  *
  * `overhead` mode (master = `local[n]`, the bench topology): times
  * the registry's heaviest Ckpt-cutting kernels (q191 core numbers,
  * q171-family connected components) with the conf UNSET
  * (localCheckpoint) vs SET (reliable, local FS) so the knob's price
  * is a measured number per scale, not prose.
  *
  * Usage: Test/runMain graft.ProbeCkptFault fault
  *        Test/runMain graft.ProbeCkptFault overhead <sfDir> <reps>
  */
object ProbeCkptFault {

  private def j(fields: (String, Any)*): String =
    fields.map {
      case (k, v: String) => s""""$k":"$v""""
      case (k, v: Double) => f""""$k":$v%.3f"""
      case (k, v) => s""""$k":$v"""
    }.mkString("{", ",", "}")

  /** Segmented chain: vertices 0..n-1, edge i—(i+1) except where
    * (i+1) % segLen == 0 — components are segLen-long chains whose
    * min-label fixpoint needs segLen-1 propagation rounds, so round
    * count (and therefore the kill window) is set by segLen alone. */
  private def chain(spark: SparkSession, n: Long, segLen: Int)
      : (DataFrame, DataFrame) = {
    val nodes = spark.range(n).select(col("id"))
    val edges = spark.range(n - 1)
      .filter((col("id") + 1) % segLen =!= 0)
      .select(col("id").as("a"), (col("id") + 1).as("b"))
    (nodes, edges)
  }

  /** Order/partitioning-independent result digest. */
  private def digest(df: DataFrame): String =
    df.agg(sum(xxhash64(col("id"), col("component"))
      .cast("decimal(38,0)")).cast("string")).head.getString(0)

  private def executorPids(): Seq[ProcessHandle] =
    ProcessHandle.current().descendants().iterator().asScala
      .filter(_.info().commandLine().orElse("")
        .contains("CoarseGrainedExecutorBackend"))
      .toSeq

  private def addOpens: String = Seq(
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    .map(p => s"--add-opens java.base/$p=ALL-UNNAMED").mkString(" ")

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("fault") => faultMode()
    case Some("overhead") =>
      overheadMode(args.lift(1).getOrElse("/root/testdata/sf0.1"),
        args.lift(2).map(_.toInt).getOrElse(3))
    case other => sys.error(s"unknown mode $other (fault | overhead)")
  }

  private def faultMode(): Unit = {
    val ckptDir = Files.createTempDirectory("graft-ckpt-fault").toString
    // the probe's own closures live in test-classes
    val classesDir = Seq("classes", "test-classes")
      .map(d => Paths.get(s"target/scala-2.13/$d").toAbsolutePath.toString)
      .mkString(java.io.File.pathSeparator)
    val spark = Tables.configure(SparkSession.builder()
      .master("local-cluster[2,2,2048]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.executor.memory", "1500m")
      .config("spark.executor.extraClassPath", classesDir)
      .config("spark.executor.extraJavaOptions", addOpens)
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.graft.checkpoint.dir", ckptDir)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val SegLen = 24
    val (nodes, edges) = chain(spark, 600000L, SegLen)
    def run(): (String, Double) = {
      val t0 = System.nanoTime()
      val cc = Components.connectedComponents(nodes, "id", edges,
        "a", "b", maxIters = SegLen + 4)
      (digest(cc), (System.nanoTime() - t0) / 1e9)
    }

    // wait until both executor JVMs registered (descendants visible)
    var waited = 0
    while (executorPids().size < 2 && waited < 120) {
      Thread.sleep(1000); waited += 1
    }
    require(executorPids().size >= 2,
      s"local-cluster executors did not come up (saw ${executorPids().size})")

    // 1. baseline (reliable mode, undisturbed)
    val (hash0, t0) = run()
    println(j("metric" -> "baseline_reliable", "sec" -> t0,
      "digest" -> hash0))

    // 2. fault run: SIGKILL one executor JVM mid-fixpoint
    @volatile var killedPid = -1L
    def killer(delaySec: Double): Thread = {
      val th = new Thread(() => {
        Thread.sleep((delaySec * 1000).toLong)
        executorPids().headOption.foreach { h =>
          killedPid = h.pid()
          h.destroyForcibly()
        }
      })
      th.setDaemon(true); th.start(); th
    }
    val k1 = killer(t0 * 0.4)
    val (hash1, t1) = run()
    k1.join(1000)
    require(killedPid > 0, "watchdog never fired — no executor killed; " +
      "the fault run proved nothing (lengthen the chain)")
    println(j("metric" -> "fault_reliable", "sec" -> t1,
      "digest" -> hash1, "killed_pid" -> killedPid,
      "survived" -> true, "hash_equal" -> (hash1 == hash0)))
    require(hash1 == hash0, s"reliable-mode run under executor loss " +
      s"diverged: $hash1 != $hash0")

    // 3. negative control: default localCheckpoint mode, same kill.
    spark.conf.unset(Ckpt.DirKey)
    // wait for the replacement executor before staging the next kill
    waited = 0
    while (executorPids().size < 2 && waited < 120) {
      Thread.sleep(1000); waited += 1
    }
    killedPid = -1L
    val k2 = killer(t0 * 0.4)
    val outcome =
      try { val (h, t) = run(); ("completed", h, t) }
      catch { case e: Throwable =>
        ("failed:" + e.getClass.getSimpleName, "-", -1.0) }
    k2.join(1000)
    println(j("metric" -> "fault_local_checkpoint",
      "outcome" -> outcome._1, "sec" -> outcome._3,
      "killed_pid" -> killedPid,
      "expected" -> "failed (lineage severed, blocks died with the executor)"))

    // checkpoint-dir hygiene: cleaner-on should leave O(live frames)
    System.gc(); Thread.sleep(3000)
    val left = {
      val d = Paths.get(ckptDir)
      if (Files.exists(d))
        Files.walk(d).iterator().asScala.count(p =>
          p.getFileName.toString.startsWith("rdd-"))
      else 0
    }
    println(j("metric" -> "ckpt_dirs_left", "count" -> left,
      "note" -> "cleanCheckpoints=true; total cuts across runs ~3x28"))
    spark.stop()
  }

  private def overheadMode(sfDir: String, reps: Int): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val ckptDir = Files.createTempDirectory("graft-ckpt-ovh").toString
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()

    def time(label: String, mode: String)(f: => Long): Unit =
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        val out = f
        println(j("metric" -> label, "mode" -> mode, "rep" -> i,
          "sf" -> sfDir, "out" -> out,
          "sec" -> ((System.nanoTime() - t0) / 1e9)))
      }
    def withMode(reliable: Boolean)(body: => Unit): Unit = {
      if (reliable) spark.conf.set(Ckpt.DirKey, ckptDir)
      else spark.conf.unset(Ckpt.DirKey)
      body
    }

    val q191 = queries.ComponentsQ.q191.fn
    val q171 = queries.ComponentsQ.all.find(_.name.startsWith("q171"))
      .map(_.fn)
    Seq(false, true).foreach { rel =>
      val mode = if (rel) "reliable" else "localCheckpoint"
      withMode(rel) {
        time("q191_core_numbers", mode)(q191(spark, sfDir).count())
        q171.foreach(fn =>
          time("q171_components", mode)(fn(spark, sfDir).count()))
      }
    }
    spark.stop()
  }
}
