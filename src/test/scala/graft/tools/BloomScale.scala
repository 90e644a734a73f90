package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.BloomJoin

/** Dev tool (not library surface): measures what the explicit
  * Bloom-pruned join (q249, [[BloomJoin.bloomPrunedEquiJoin]]) is
  * FOR — a fact⋈dim join where the dim matches a small fraction of
  * fact keys, so pruning before the shuffle is the whole cost story.
  *
  * Generator: `n` fact rows over a 1M key space; the dim holds
  * `selPct`% of the key space (md5-scrambled so neither side is
  * range-clustered). The probe times the plain shuffled join against
  * the bloom-pruned form end-to-end (same aggregate on top) and
  * asserts result identity in-run — the speedup is only reportable
  * because the answer is provably the same.
  *
  * Usage: Test/runMain graft.BloomScale [n] [selPct] [reps]
  */
object BloomScale {

  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toLong).getOrElse(20000000L)
    val selPct = args.lift(1).map(_.toInt).getOrElse(1)
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // measure OUR pruning, not the optimizer's sibling feature
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled",
        "false")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val keySpace = 1000000L
    val dimKeys = keySpace * selPct / 100L
    def fact = spark.range(n).selectExpr(
      s"CAST(conv(substring(md5(CAST(id AS STRING)), 1, 8), 16, 10)" +
        s" AS BIGINT) % $keySpace AS fk",
      "CAST(id % 1000 AS DOUBLE) AS amount")
    // dim keys are an md5-scrambled subset of the key space
    def dim = spark.range(keySpace)
      .selectExpr("id AS dk",
        s"CAST(conv(substring(md5(CAST(id + 7 AS STRING)), 1, 8)," +
          s" 16, 10) AS BIGINT) % 100 AS b")
      .where(s"b < $selPct").select(col("dk"))
      .localCheckpoint(true)

    def plain(): (Long, Double) = {
      val r = fact.join(dim, col("fk") === col("dk"))
        .agg(count(lit(1)), sum(col("amount")))
        .collect().head
      (r.getLong(0), r.getDouble(1))
    }
    def bloomed(): (Long, Double) = {
      val r = BloomJoin.bloomPrunedEquiJoin(fact, "fk", dim, "dk",
          expectedItems = math.max(dimKeys, 1L))
        .agg(count(lit(1)), sum(col("amount")))
        .collect().head
      (r.getLong(0), r.getDouble(1))
    }

    // warmup + identity check
    val w1 = plain(); val w2 = bloomed()
    require(w1 == w2, s"bloom changed the answer: $w1 != $w2")

    def timed(tag: String, run: () => (Long, Double)): Double = {
      val times = (1 to reps).map { r =>
        val t0 = System.nanoTime()
        val out = run()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"""{"metric":"$tag","rep":$r,"n":$n,""" +
          f""""sel_pct":$selPct,"rows":${out._1},""" +
          f""""value":$dt%.4f,"unit":"sec"}""")
        dt
      }
      times.min
    }
    val p = timed("plain_shuffle_join", () => plain())
    val b = timed("bloom_pruned_join", () => bloomed())
    println(f"""{"metric":"bloom_scale_min","n":$n,""" +
      f""""sel_pct":$selPct,"plain_sec":$p%.4f,""" +
      f""""bloom_sec":$b%.4f,"speedup":${p / b}%.2f}""")
    spark.stop()
  }
}
