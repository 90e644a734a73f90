package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one JVM-wide session —
  * getOrCreate — so suites don't churn contexts). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Runs `f` with session conf `key` set to `value`, then restores
    * the prior setting. */
  protected def withConf[T](key: String, value: String)(f: => T): T = {
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Runs `f` under job group `group` and returns its result with the
    * ids of the jobs it started: a marker job run after `f` flushes
    * the listener queue, which delivers job starts in order. */
  protected def withJobs[T](group: String)(f: => T): (T, Seq[Int]) = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add((Option(e.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull, e.jobId))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = try f finally sc.clearJobGroup()
      val marker = s"$group-marker"
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10000000000L
      while (!seen.asScala.exists(_._1 == marker) &&
          System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.asScala.exists(_._1 == marker), "marker job not seen")
      (out, seen.asScala.collect { case (`group`, id) => id }.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Tables.configure(SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
