package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** `Tables.load`'s schema cache: the same schema and rows as an
  * uncached read, no job on a repeat load of an unchanged table, and
  * re-inference when the files or the reader confs change. Also
  * `Tables.configure`'s generated-code cache size. */
class TablesSpec extends SparkSpec {

  private val all = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("all 10 tables: a cached load equals the uncached read") {
    for (t <- all) {
      Tables.load(spark, sf(), t)
      val got = Tables.load(spark, sf(), t)
      val want = Tables.normalize(t,
        spark.read.parquet(s"${sf()}/$t.parquet"))
      assert(got.schema == want.schema, t)
      assert(rows(got) == rows(want), t)
    }
  }

  test("a second load of an unchanged table starts no job") {
    val dir = Files.createTempDirectory("graft-tables").toString
    spark.range(3).toDF("a").write.parquet(s"$dir/t.parquet")
    val (_, first) = withJobs("tables-first") {
      Tables.load(spark, dir, "t")
    }
    assert(first.nonEmpty, "the first load should infer with a job")
    for (t <- all) Tables.load(spark, sf(), t)
    val (_, again) = withJobs("tables-again") {
      Tables.load(spark, dir, "t")
      all.foreach(Tables.load(spark, sf(), _))
    }
    assert(again.isEmpty, s"repeat loads launched jobs $again")
  }

  test("a rewritten table and a changed reader conf are re-inferred, one entry per path") {
    val dir = Files.createTempDirectory("graft-tables").toString
    val path = s"$dir/t.parquet"
    spark.sql("SELECT 1 AS a").write.parquet(path)
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("a"))
    spark.sql("SELECT 'x' AS b, 7L AS c")
      .write.mode("overwrite").parquet(path)
    val v2 = Tables.load(spark, dir, "t")
    assert(v2.columns.toSeq == Seq("b", "c"))
    assert(v2.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("x", 7L)))
    // Spark-written files carry Spark's own schema in the footer, which
    // the NTZ inference conf does not override: use the fixture's
    // orders file, whose o_orderdate is a non-UTC-adjusted timestamp
    val p = new java.io.File(path)
    p.listFiles().foreach(_.delete())
    Files.copy(java.nio.file.Paths.get(s"${sf()}/orders.parquet"),
      p.toPath.resolve("part-0.parquet"))
    val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    def dateType = Tables.load(spark, dir, "t").schema("o_orderdate")
      .dataType
    withConf(ntz, "true") { assert(dateType == TimestampNTZType) }
    withConf(ntz, "false") { assert(dateType == TimestampType) }
    assert(Tables.cachedSchemaPaths.count(_.startsWith(dir)) == 1)
  }

  test("a self-join of two orders loads resolves both sides") {
    val a = Tables.orders(spark, sf())
    val b = Tables.orders(spark, sf())
    val ids = (df: DataFrame) =>
      df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty)
    val j = a.join(b, a("o_orderkey") === b("o_orderkey"))
      .select(a("o_orderkey"), b("o_orderdate"))
    assert(j.count() == a.count())
  }

  test("the session's generated-code cache holds a working set past Spark's default 100") {
    val key = "spark.sql.codegen.cache.maxEntries"
    assert(spark.conf.get(key) == "8192")
    // 120 distinct classes compiled twice in the same order: an LRU
    // cache of 100 misses on nearly all of the second round
    val projections = (0 until 120).map(i => Seq(
      Add(BoundReference(0, LongType, nullable = false),
        Literal(7340000L + i))))
    def compiles(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      projections.foreach(GenerateUnsafeProjection.generate(_))
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    assert(compiles() == 120)
    assert(compiles() == 0)
  }
}
