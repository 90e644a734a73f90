package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Dev-only probe (r15): dump `.explain("formatted")` for a set of
  * queries to `<outDir>/<qname><suffix>.txt` — the committed
  * before/after plan evidence the optimization rounds require.
  *
  * Usage: Test/runMain graft.PlanDump <sfDir> <outDir> <suffix> q1,q2,...
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>")
    val Array(sfDir, outDir, suffix, names) = args.take(4)
    val spark = Tables.configure(SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.split(",").map(_.trim).filter(_.nonEmpty).foreach { q =>
      val df = SparkEntry.queries(q)(spark, sfDir)
      // QueryExecution.explainString is what explain() prints
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(outDir, s"$q$suffix.txt"),
        txt.getBytes(StandardCharsets.UTF_8))
      println(s"[plandump] wrote $q$suffix (${txt.length} chars)")
    }
    spark.stop()
  }
}
