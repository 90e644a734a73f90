package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VecDot
import graft.operators.TextOps

/** Each custom Catalyst kernel timed alone against the built-in form
  * it replaces, over the same cached input rows. Each pair is first
  * checked to agree on every row; a pair that does not is a failed
  * operation of the run. */
object Kernels {
  private val DotRule = "graft.functions.VectorizeDotProduct"
  private val Reps = 3
  private val ShingleN = 3

  /** The `zip_with`/`aggregate` dot product. The optimizer rewrites
    * this shape into `vec_dot` unless the rule is excluded. */
  private def builtinDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0d), (s, v) => s + v)

  /** The `transform`+`slice` shingles the kernel is bit-equal to. */
  private def builtinShingles(toks: Column, n: Int): Column =
    array_distinct(when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n))))))

  /** Rows per second of `f` applied to every row of `input`, the
    * median of [[Reps]] timed runs after one untimed run. */
  private def rowsPerSecond(input: DataFrame, rows: Long)(f: => Column)
      : Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      input.select(f.as("k")).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    rows / Stats.median(Seq.fill(Reps)(once()))
  }

  private def withDotRuleExcluded[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.optimizer.excludedRules"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, DotRule)
    try body
    finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Metric name → rows/s for both kernel pairs, and the failed
    * equality checks (of 2). */
  def measure(spark: SparkSession, dataDir: String)
      : (Seq[(String, Double)], Seq[String]) = {
    // Every embedding against the first 64: enough rows to time.
    val emb = Tables.embeddings(spark, dataDir).select(col("vec_id"), col("embedding"))
    val pairs = emb.as("a").crossJoin(broadcast(emb.filter(col("vec_id") < 64).as("b")))
      .select(col("a.embedding").as("x"), col("b.embedding").as("y"))
      .repartition(spark.sparkContext.defaultParallelism).cache()
    val pairRows = pairs.count()
    val dot = call_function("vec_dot", col("x"), col("y"))
    val dotDiff = withDotRuleExcluded(spark) {
      val rewritten = pairs.select(builtinDot(col("x"), col("y")))
        .queryExecution.optimizedPlan
        .find(_.expressions.exists(_.find(_.isInstanceOf[VecDot]).isDefined))
      require(rewritten.isEmpty, "the built-in dot product was rewritten into vec_dot")
      pairs.filter(!(dot <=> builtinDot(col("x"), col("y")))).count()
    }
    val dotRate = rowsPerSecond(pairs, pairRows)(dot)
    val dotBuiltinRate = withDotRuleExcluded(spark) {
      rowsPerSecond(pairs, pairRows)(builtinDot(col("x"), col("y")))
    }
    pairs.unpersist(blocking = true)

    // Every document 4 times over.
    val toks = Tables.documents(spark, dataDir)
      .select(TextOps.tokens(col("text")).as("t"))
      .crossJoin(spark.range(4).hint("broadcast"))
      .select(col("t")).repartition(spark.sparkContext.defaultParallelism).cache()
    val docRows = toks.count()
    val sh = call_function("shingles", col("t"), lit(ShingleN), lit(true))
    val shDiff = toks.filter(!(sh <=> builtinShingles(col("t"), ShingleN))).count()
    val shRate = rowsPerSecond(toks, docRows)(sh)
    val shBuiltinRate = rowsPerSecond(toks, docRows)(builtinShingles(col("t"), ShingleN))
    toks.unpersist(blocking = true)

    (Seq("functions.vec_dot_rows_per_s" -> dotRate,
      "functions.vec_dot_builtin_rows_per_s" -> dotBuiltinRate,
      "functions.shingles_rows_per_s" -> shRate,
      "functions.shingles_builtin_rows_per_s" -> shBuiltinRate),
      Seq(s"vec_dot differs from zip_with/aggregate on $dotDiff rows" -> dotDiff,
        s"shingles differs from transform+slice on $shDiff rows" -> shDiff)
        .collect { case (msg, n) if n != 0 => s"kernels: $msg" })
  }
}
