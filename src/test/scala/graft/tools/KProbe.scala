package graft
import org.apache.spark.sql.SparkSession

/** Dev-only probe (not part of the driver contract): times the
  * PRE-r15 link-prediction per-query shape — each query building its
  * own `adamicAdarCandidates` expansion + TakeOrdered, no shared
  * materialization — cold (rep1) and warm (rep2) in one fresh JVM.
  * Baseline for the r15 `LinkPredKernel` accounting contract
  * (ComponentsQ scaladoc): the kernel's one-shot build+read vs this
  * probe is the honest family comparison; the pooled per-query
  * minima are registry-warm readings on both sides. Measured at sf1,
  * clean machine, shuffle=32: old shape 48.8 s cold / 45.9 s warm
  * per query; kernel 82.1 s build+read, 0.85 s per subsequent read
  * (BENCH_lp_kernel_oneshot_r15.json, NOTES_r15).
  *
  * Usage: tools/run_main.sh graft.KProbe <sfDir> */
object KProbe {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val spark = Tables.configure(SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[kprobe] $label: ${(System.nanoTime()-t0)/1e9}%.2f s"); r }
    def und() = graft.operators.Graph.coOccurrencePairs(
        Tables.lineitem(spark, d), "l_orderkey", "l_partkey")
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2).select(col("src"), col("dst"))
    def old() = graft.operators.Graph.adamicAdarCandidates(und(), "src", "dst")
      .orderBy(col("aa_ppm").desc, col("cn").desc, col("u"), col("v")).limit(20)
    // warm at sf0.001 like Bench does
    val warm = d.replaceAll("sf[0-9.]+$", "sf0.001")
    time("warmup sf0.001") {
      graft.operators.Graph.adamicAdarCandidates(
        graft.operators.Graph.coOccurrencePairs(
          Tables.lineitem(spark, "/root/testdata/sf0.001"), "l_orderkey", "l_partkey")
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2).select(col("src"), col("dst")), "src", "dst")
      .orderBy(col("aa_ppm").desc).limit(20)
      .write.format("noop").mode("overwrite").save() }
    time("old shape rep1") { old().write.format("noop").mode("overwrite").save() }
    time("old shape rep2") { old().write.format("noop").mode("overwrite").save() }
    spark.stop()
  }
}
