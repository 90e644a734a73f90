package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.functions._

import graft.operators.Metlink
import graft.plans.FoldCollectOverExplode
import graft.sources.{HttpEdge, Sources}

/** [[FoldCollectOverExplode]]: a global collect_list over explode of
  * one local row folds to a LocalTableScan; every other shape keeps
  * its plan, and every shape returns what it returns with the rule
  * excluded. */
class FoldCollectOverExplodeSpec extends SparkSpec {
  import spark.implicits._

  private val excluded = "spark.sql.optimizer.excludedRules"

  private def withoutRule[T](f: => T): T = {
    spark.conf.set(excluded, FoldCollectOverExplode.ruleName)
    try f finally spark.conf.unset(excluded)
  }

  /** One local row per element of `docs`: an id and an int array. */
  private def local(docs: Seq[(String, Seq[Int])]): DataFrame =
    docs.toDF("k", "arr")

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** Asserts `build` gives the same rows with and without the rule;
    * returns whether the rule folded the plan to a LocalTableScan. */
  private def folds(build: () => DataFrame): Boolean = {
    val ref = withoutRule {
      val df = build()
      assert(df.queryExecution.optimizedPlan.exists(
        _.isInstanceOf[Aggregate]), "rule exclusion had no effect")
      rows(df)
    }
    val df = build()
    assert(rows(df) == ref)
    df.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec]
  }

  /** The optimized plan with the rule is the one without it. */
  private def leftAlone(build: () => DataFrame): Unit = {
    val without = withoutRule(build().queryExecution.optimizedPlan)
    val `with` = build().queryExecution.optimizedPlan
    assert(`with`.sameResult(without), s"rule rewrote:\n${`with`}")
    assert(!folds(build))
  }

  private def collectStructs(df: DataFrame,
      gen: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        explode(_)): DataFrame =
    df.select(col("k"), gen(col("arr")).as("x"))
      .agg(collect_list(struct(col("k"), col("x"))).as("xs"))

  test("one local row: folds to a LocalTableScan, same result") {
    assert(folds(() =>
      collectStructs(local(Seq("a" -> Seq(3, 1, 2, 1))))))
    // collect_list nested inside the aggregate expression, as after
    // CollapseProject merges a to_json Project into the Aggregate
    assert(folds(() => collectStructs(local(Seq("a" -> Seq(3, 1))))
      .select(to_json(struct(lit("c").as("t"), col("xs"))))))
  }

  test("null and empty arrays fold to an empty collect") {
    assert(folds(() => collectStructs(local(Seq("a" -> Seq())))))
    assert(folds(() => collectStructs(local(Seq("a" -> null)))))
  }

  test("zero and two rows keep their plan") {
    leftAlone(() => collectStructs(local(Seq())))
    leftAlone(() =>
      collectStructs(local(Seq("a" -> Seq(1, 2), "b" -> Seq(3)))))
  }

  test("explode_outer and posexplode keep their plan") {
    leftAlone(() => collectStructs(local(Seq("a" -> Seq(1, 2))),
      explode_outer(_)))
    leftAlone(() => local(Seq("a" -> Seq(1, 2)))
      .select(posexplode(col("arr")))
      .agg(collect_list(struct(col("pos"), col("col")))))
  }

  test("DISTINCT, FILTER and a second aggregate keep their plan") {
    val one = () => local(Seq("a" -> Seq(2, 1, 2)))
      .select(explode(col("arr")).as("x"))
    leftAlone(() => one().agg(collect_set(struct(col("x")))))
    leftAlone(() => {
      one().createOrReplaceTempView("fold_one")
      spark.sql("SELECT collect_list(DISTINCT struct(x)) FROM fold_one")
    })
    leftAlone(() => {
      one().createOrReplaceTempView("fold_one")
      spark.sql("SELECT collect_list(struct(x)) FILTER (WHERE x > 1) " +
        "FROM fold_one")
    })
    leftAlone(() =>
      one().agg(collect_list(struct(col("x"))), count(lit(1))))
  }

  test("a nullable collected expression keeps its plan") {
    // collect_list drops the null element; transform would keep it
    leftAlone(() => Seq(Tuple1(Seq[Integer](1, null, 3))).toDF("arr")
      .select(explode(col("arr")).as("x"))
      .agg(collect_list(col("x"))))
  }

  private def snapshot(entities: String): DataFrame =
    Metlink.featureCollection(Metlink.pipeline(Sources.requireShape(
      Sources.jsonDocument(spark, s"""{"header": {}, $entities}""",
        Metlink.vehicleSchema), "entity")))

  test("Metlink snapshot: empty or null entity array, no features") {
    Seq(""""entity": []""", """"entity": null""").foreach { e =>
      assert(folds(() => snapshot(e)))
      assert(snapshot(e).as[String].collect().toSeq ==
        Seq(HttpEdge.EmptyFeatureCollection), e)
    }
  }

  test("Metlink snapshot: folded document equals the exchange plan's") {
    val entity =
      """"entity": [{"id": "e1", "vehicle": {"trip": {"trip_id": "23__x"},
        "position": {"latitude": -41.1, "longitude": 174.8},
        "timestamp": 1700000000, "vehicle": {"id": "b1"}}}]"""
    assert(folds(() => snapshot(entity)))
  }
}
