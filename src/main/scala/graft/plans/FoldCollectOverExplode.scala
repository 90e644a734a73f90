package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias,
  ArrayTransform, Attribute, AttributeMap, AttributeSet, Coalesce,
  Explode, Expression, LambdaFunction, Literal, NamedExpression,
  NamedLambdaVariable}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, CollectList, Complete}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate,
  LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.AGGREGATE
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.ArrayType

/** Optimizer rule: a global `collect_list(e)` over `explode(arr)` of
  * an exactly-one-row local relation is the array `arr` mapped
  * through `e`:
  * {{{
  *   Aggregate([], [.. collect_list(e(x)) ..],
  *     Generate(explode(arr), x, <one-row LocalRelation under Projects>))
  *   =>
  *   Project([.. coalesce(transform(arr, v -> e(v)), array()) ..], <same>)
  * }}}
  * The explode yields one row per element in array order, so
  * collecting them back is the element-wise map; a null or empty
  * `arr` yields no rows, and the empty collect is the `array()`
  * fallback. Once the Aggregate is gone, Spark's own
  * ConvertToLocalRelation folds the Project on the driver, so the
  * query plans to a bare LocalTableScan and runs no job.
  * [[graft.operators.Metlink.featureCollection]] over
  * [[graft.operators.Metlink.pipeline]] of one fetched snapshot is
  * the shape this serves.
  *
  * The match is conservative; anything else keeps the plan:
  *   - the input is exactly one row, a LocalRelation under Projects
  *     only (zero rows would make the Project emit no row where the
  *     global Aggregate emits one);
  *   - the generator is a plain inner `explode` of an array
  *     (`explode_outer` emits a null row, `posexplode` a position);
  *   - every aggregate is a plain `collect_list`: no DISTINCT, no
  *     FILTER, nothing beside it;
  *   - each collected expression is non-nullable and deterministic
  *     (`collect_list` drops nulls, `transform` keeps them).
  * `collect_list` may sit anywhere inside the aggregate expressions
  * (CollapseProject merges a `to_json` Project above the Aggregate
  * into it), and one deterministic Project between the Aggregate and
  * the Generate is inlined (ColumnPruning keeps the nested-field
  * extraction of a `select("x.*")` there).
  */
object FoldCollectOverExplode extends Rule[LogicalPlan] {

  private def oneRow(p: LogicalPlan): Boolean = p match {
    case Project(_, child) => oneRow(child)
    case l: LocalRelation => l.data.size == 1
    case _ => false
  }

  private def collected(a: AggregateExpression): Option[Expression] =
    a match {
      case AggregateExpression(CollectList(e, _, _), Complete, false,
          None, _) if !e.nullable && e.deterministic => Some(e)
      case _ => None
    }

  /** A Generate, possibly under one deterministic Project (the
    * nested-field pruning ColumnPruning leaves above a Generate),
    * with that Project's aliases to inline. */
  private object UnderProject {
    def unapply(p: LogicalPlan)
        : Option[(AttributeMap[Expression], Generate)] = p match {
      case g: Generate => Some((AttributeMap.empty[Expression], g))
      case Project(pl, g: Generate) if pl.forall(_.deterministic) =>
        Some((AttributeMap(pl.collect {
          case a: Alias => a.toAttribute -> a.child }), g))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(AGGREGATE)) {
      case agg @ Aggregate(Nil, aggExprs, UnderProject(aliases,
          Generate(Explode(arr), _, false, _, Seq(x), child)), _)
          if arr.dataType.isInstanceOf[ArrayType] && arr.deterministic &&
            oneRow(child) =>
        def inline(e: Expression): Expression = e.transform {
          case a: Attribute if aliases.contains(a) => aliases(a) }
        val aggs = aggExprs.flatMap(_.collect {
          case a: AggregateExpression => a })
        // checked BEFORE substitution: a NamedLambdaVariable's
        // references contain the variable itself
        val scope = child.outputSet ++ AttributeSet(x)
        val foldable = aggs.nonEmpty && aggs.forall(a =>
          collected(a).exists(e => inline(e).references.subsetOf(scope)))
        if (!foldable) agg
        else Project(aggExprs.map(_.transformDown {
          case a: AggregateExpression =>
            val v = NamedLambdaVariable(x.name, x.dataType, x.nullable)
            val body = inline(collected(a).get).transform {
              case r: Attribute if r.exprId == x.exprId => v }
            Coalesce(Seq(
              ArrayTransform(arr, LambdaFunction(body, Seq(v))),
              Literal.create(new GenericArrayData(Array.empty[Any]),
                a.dataType)))
        }.asInstanceOf[NamedExpression]), child)
    }
}
