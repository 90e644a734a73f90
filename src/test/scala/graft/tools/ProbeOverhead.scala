package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Dev-only probe (r15): decompose a query's wall time into executor
  * task time vs everything else (driver planning, job scheduling,
  * checkpoint round-trips). For iterative kernels the "everything
  * else" share is the per-round fixed overhead the optimization
  * round targets; for scan-bound queries task time dominates.
  *
  * Usage: Test/runMain graft.ProbeOverhead <sfDir> <reps> <q1,q2,...>
  * Prints per query: wall s, #jobs, #stages, #tasks, sum task time s,
  * sum task time / cpus (the perfect-parallelism floor).
  */
object ProbeOverhead {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val names = args.lift(2).map(_.split(",").map(_.trim).toSeq)
      .getOrElse(Seq("q191_core_numbers"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()

    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    val gcMs = new java.util.concurrent.atomic.AtomicLong
    val verbose = sys.env.get("PROBE_STAGES").contains("1")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        if (verbose) {
          val si = s.stageInfo
          val m = si.taskMetrics
          println(f"[stage] id=${si.stageId} tasks=${si.numTasks} " +
            f"run=${m.executorRunTime / 1e3}%.2fs " +
            f"gc=${m.jvmGCTime / 1e3}%.2fs " +
            f"spillD=${m.diskBytesSpilled} " +
            f"shufW=${m.shuffleWriteMetrics.bytesWritten} " +
            f"name=${si.name.takeWhile(_ != '\n').take(60)}")
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
        if (t.taskMetrics != null) gcMs.addAndGet(t.taskMetrics.jvmGCTime)
      }
    })

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warm
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (1 to reps).foreach { i =>
        jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0L); gcMs.set(0L)
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        // listener events drain asynchronously; give them a beat
        Thread.sleep(200)
        println(f"""{"q":"$name","rep":$i,"wall":$wall%.3f,""" +
          f""""jobs":${jobs.get},"stages":${stages.get},"tasks":${tasks.get},""" +
          f""""task_sec":${taskMs.get / 1e3}%.3f,""" +
          f""""gc_sec":${gcMs.get / 1e3}%.3f,""" +
          f""""task_floor_sec":${taskMs.get / 1e3 / cpus.toInt}%.4f}""")
      }
    }
    spark.stop()
  }
}
