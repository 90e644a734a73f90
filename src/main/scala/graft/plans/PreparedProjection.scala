package graft.plans

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `build` over a one-string-column frame (`value`) on an empty
  * `LogicalRDD`, a leaf the optimizer cannot evaluate away, optimized
  * once and then evaluated per string as the chain of bound
  * projections: no Dataset, no job. Planning freezes the SQL confs
  * (`confs`, for the caller to key on); clock, catalog and
  * nondeterministic expressions are refused. Evaluations are
  * serialized: lambda variables keep state in the shared expressions. */
private[graft] final class PreparedProjection(spark: SparkSession,
    build: DataFrame => DataFrame) {
  val confs: Map[String, String] = spark.conf.getAll

  private val projections: List[Seq[Expression]] = {
    val qe = build(spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      new StructType().add("value", StringType))).queryExecution
    val refused = qe.analyzed.flatMap(_.expressions.flatMap(_.collect {
      case e @ (_: CurrentTimestampLike | _: LocalTimestamp | _: CurrentDate |
          _: CurrentTime | _: CurrentTimeZone | _: CurrentDatabase |
          _: CurrentCatalog | _: CurrentUser) => e
      case e if !e.deterministic && e.children.forall(_.deterministic) => e
    }))
    require(refused.isEmpty, "PreparedProjection: cannot prepare frozen " +
      s"or nondeterministic ${refused.mkString(", ")}")
    def chain(p: LogicalPlan): List[Seq[Expression]] = p match {
      case Project(list, child) =>
        BindReferences.bindReferences(list, child.output) :: chain(child)
      case _: LogicalRDD => Nil
      case other => throw new IllegalStateException("PreparedProjection: " +
        s"not Projects over the leaf (${other.nodeName}):\n${qe.optimizedPlan}")
    }
    chain(qe.optimizedPlan).reverse
  }

  /** The output row for `value`, under `spark`'s SQL conf. */
  def apply(spark: SparkSession, value: String): InternalRow = synchronized {
    SQLConf.withExistingConf(spark.sessionState.conf) {
      projections.foldLeft(InternalRow(UTF8String.fromString(value)))(
        (row, exprs) => InternalRow.fromSeq(exprs.map(_.eval(row))))
    }
  }
}
