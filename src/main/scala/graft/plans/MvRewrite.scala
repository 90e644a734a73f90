package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Alias, And,
  AttributeReference, Cast, Coalesce, Expression, Literal,
  NamedExpression, Round}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter,
  LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DecimalType, DoubleType, StructField,
  StructType}

import graft.functions.Exact

/** Materialized-view answering: the classic OLAP summary-table
  * rewrite, as a Catalyst optimizer rule. A registered MV records a
  * base table (by scan path), its dimension columns, and its
  * pre-aggregated measures; any later Aggregate over that base whose
  * grouping is a SUBSET of the dims (roll-up), whose filters touch
  * only dims, and whose every aggregate maps onto a recorded measure
  * is rewritten to read the materialized summary instead — at 100 TB
  * this turns a full fact scan into a rollup over a summary that is
  * typically 4-6 orders of magnitude smaller. The rewrite preserves
  * output attribute ids and (via an exact widening-reversal cast)
  * data types, so parent plan nodes are untouched.
  *
  * Soundness contract (why an accidental match is still correct):
  * the rule fires only when (a) the scan path IS the registered
  * base — same files, same data; (b) EVERY output expression rewrites
  * (no partial answers); (c) sums/mins/maxs match the recorded base
  * expression structurally ([[MvRewrite.key]]) and COUNT maps to the
  * summary's count column (re-aggregated as SUM, the standard
  * count-rollup identity). Decimal-exact measures stay exact: the
  * summary holds per-group DECIMAL partial sums, and decimal
  * addition is associative, so sum-of-partial-sums equals the direct
  * sum bit-for-bit. A measure `round(x, s).cast(decimal(p, s))` also
  * answers [[graft.functions.Exact.sum]]`(x, s, p)` (what
  * [[graft.queries.Q.dsum]] computes): that whole expression matches
  * structurally too, and becomes the summary column's SUM cast to
  * double, the same value.
  *
  * Scope (documented, not silently wrong — anything outside returns
  * the plan unchanged): single Aggregate per registered base per
  * query — ENFORCED: [[MvRewrite.apply]] counts would-rewrite
  * Aggregates first and bails when more than one matches, because
  * grafting the same analyzed summary plan (identical exprIds) into
  * two branches of one tree would produce ambiguous attribute
  * bindings. No DISTINCT aggregates, no agg-level FILTER clauses, no
  * AVG (callers decompose into SUM/COUNT), filters only on dim
  * columns and only DETERMINISTIC ones (a rand()-style predicate
  * references no columns but re-applying it over summary rows would
  * change semantics).
  *
  * Staleness: MV identity includes a fingerprint of the base's file
  * listing (path, length, modification time per file) captured at
  * [[MvRegistry.register]] time; files appended, rewritten, or
  * removed at the registered path after registration make the
  * fingerprint mismatch and the rule refuses to rewrite — answering
  * from a stale summary silently is the one failure mode a summary
  * rewrite must never have.
  *
  * Registered via `SparkSessionExtensions.injectOptimizerRule` (the
  * [[graft.functions.VectorizeDotProduct]] precedent) — the batch
  * runs post-optimization, where the child tree has settled into
  * attr-only Projects / dim Filters over the scan, which is exactly
  * the shape [[MvRewrite.unwrap]] matches. Gate:
  * `spark.graft.mv.rewrite` (default true; the registry starts empty
  * so the rule is inert until something registers).
  */
object MvRegistry {

  /** One registered summary.
    * @param dims    base dim column name → summary column name
    * @param sums    [[MvRewrite.key]] of base SUM term → summary col
    * @param mins    likewise for MIN
    * @param maxs    likewise for MAX
    * @param exact   [[MvRewrite.key]] of a whole `Exact.sum` over a
    *                decimal SUM measure's term → that summary col
    * @param cnt     summary column holding per-group COUNT(*)
    * @param summary the MATERIALIZED summary frame (callers pass a
    *                checkpointed/cached frame — registering a lazy
    *                plan would re-scan the base on every use) */
  final case class MvDef(path: String, fingerprint: String,
      dims: Map[String, String],
      sums: Map[String, String], mins: Map[String, String],
      maxs: Map[String, String], exact: Map[String, String],
      cnt: Option[String], summary: DataFrame)

  @volatile private var mvs: Map[String, MvDef] = Map.empty

  private[plans] def get(path: String): Option[MvDef] = mvs.get(path)
  private[plans] def isEmpty: Boolean = mvs.isEmpty

  def clear(): Unit = synchronized { mvs = Map.empty }

  /** Register `summary` as the MV of `base`. Measure columns are
    * keyed by the STRUCTURAL fingerprint of their base expression,
    * taken from the optimized form so it matches what the optimizer
    * hands the rule at rewrite time. */
  def register(base: DataFrame, dims: Map[String, String],
      sums: Seq[(Column, String)], cnt: Option[String],
      summary: DataFrame,
      mins: Seq[(Column, String)] = Nil,
      maxs: Seq[(Column, String)] = Nil): Unit = {
    val (path, fp) = scanIdentity(base.queryExecution.analyzed)
      .getOrElse(throw new IllegalArgumentException(
        "MV base must be a single file-relation scan"))
    def measure(c: Column): Expression = {
      val plan = base.select(c.as("__m")).queryExecution.optimizedPlan
      plan.collectFirst { case p: Project => p.projectList.head }
        .map { case Alias(e, _) => e; case e => e }
        .getOrElse(throw new IllegalArgumentException(
          s"cannot derive measure expression for ${c.toString}"))
    }
    def m(xs: Seq[(Column, String)]) =
      xs.map { case (c, n) => MvRewrite.key(measure(c)) -> n }.toMap
    // a decimal term round(x, s).cast(decimal(p, s)) also keys the
    // whole Exact.sum(x, s, p): built over a stand-in column of x's
    // type, whose key is then swapped for x's
    def exactKey(c: Column): Option[String] = measure(c) match {
      case cast: Cast => (cast.child, cast.dataType) match {
        case (r: Round, d: DecimalType)
            if r.scale == Literal(d.scale) &&
              Exact.supports(d.scale, d.precision) =>
          val slot = "__exact_x"
          val spark = base.sparkSession
          val stand = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
            StructType(Seq(StructField(slot, r.child.dataType,
              r.child.nullable))))
          stand.agg(Exact.sum(col(slot), d.scale, d.precision))
            .queryExecution.optimizedPlan
            .collectFirst { case a: Aggregate => a.aggregateExpressions }
            .collect { case Seq(Alias(e, _)) =>
              MvRewrite.key(e).replace(s"attr($slot)", MvRewrite.key(r.child))
            }
        case _ => None
      }
      case _ => None
    }
    val exact = sums.flatMap { case (c, n) => exactKey(c).map(_ -> n) }
    val mv = MvDef(path, fp, dims, m(sums), m(mins), m(maxs),
      exact.toMap, cnt, summary)
    synchronized { mvs = mvs + (path -> mv) }
  }

  /** (root path, file-listing fingerprint) of the single file
    * relation under `plan`, if any. The fingerprint hashes every
    * file's (path, length, modification time), so an append, rewrite
    * or delete at the same root path changes it — the staleness
    * check that keeps a registered summary from answering for data
    * it no longer summarizes. The listing rides the relation's
    * already-built file index (no extra filesystem walk). */
  private[plans] def scanIdentity(plan: LogicalPlan)
      : Option[(String, String)] =
    plan.collectLeaves() match {
      case Seq(lr: LogicalRelation) => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.headOption.map { root =>
            val files = fs.location.listFiles(Nil, Nil)
              .flatMap(_.files)
              .map(f => s"${f.getPath}|${f.getLen}|${f.getModificationTime}")
              .sorted
            val md = java.security.MessageDigest.getInstance("MD5")
            files.foreach(s => md.update(s.getBytes("UTF-8")))
            (root.toString, md.digest().map("%02x".format(_)).mkString)
          }
        case _ => None
      }
      case _ => None
    }
}

object MvRewrite extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    SQLConf.get.getConfString("spark.graft.mv.rewrite", "true") == "true"

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (MvRegistry.isEmpty || !enabled) plan
    else {
      // single-rewrite enforcement: the summary plan is grafted with
      // its analyzed exprIds, so rewriting two Aggregates in one tree
      // (join/union of two rollups over the registered base) would
      // duplicate attribute ids — count first, bail unless exactly one
      val hits = plan.collect {
        case agg: Aggregate if tryRewrite(agg).isDefined => agg
      }
      if (hits.sizeIs != 1) plan
      else plan.transformUp {
        case agg: Aggregate if agg eq hits.head =>
          tryRewrite(agg).getOrElse(agg)
      }
    }

  /** Structural fingerprint of an expression: node class + literals +
    * attribute NAMES (ids differ across plan instances of the same
    * scan, names don't). Cast carries its target type. */
  private[plans] def key(e: Expression): String = e match {
    case a: AttributeReference => s"attr(${a.name.toLowerCase})"
    case l: Literal => s"lit(${l.dataType.simpleString}:${l.value})"
    case c: Cast => s"cast(${key(c.child)}:${c.dataType.simpleString})"
    case _ =>
      s"${e.getClass.getSimpleName}(${e.children.map(key).mkString(",")})"
  }

  /** Strip attr-only Projects and collect Filters between the
    * Aggregate and the scan. */
  @annotation.tailrec
  private def unwrap(p: LogicalPlan, fs: List[Expression])
      : (LogicalPlan, List[Expression]) = p match {
    case Project(list, c) if list.forall(_.isInstanceOf[AttributeReference]) =>
      unwrap(c, fs)
    case Filter(cond, c) => unwrap(c, cond :: fs)
    case other => (other, fs)
  }

  private def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
    val (leaf, filters) = unwrap(agg.child, Nil)
    for {
      (path, fp) <- MvRegistry.scanIdentity(leaf)
      mv <- MvRegistry.get(path)
      // staleness: refuse when the file listing changed since register
      if mv.fingerprint == fp
      plan <- rewrite(agg, filters, mv)
    } yield plan
  }

  private def rewrite(agg: Aggregate, filters: List[Expression],
      mv: MvRegistry.MvDef): Option[LogicalPlan] = {
    val sumOut = mv.summary.queryExecution.analyzed.output
      .map(a => a.name -> a).toMap
    def dimAttr(baseName: String): Option[AttributeReference] =
      mv.dims.get(baseName).flatMap(sumOut.get)
        .collect { case a: AttributeReference => a }

    // groupings: attribute refs over registered dims only
    val newGroupings = agg.groupingExpressions.map {
      case a: AttributeReference => dimAttr(a.name)
      case _ => None
    }
    // filters: every referenced column must be a dim, and the
    // predicate must be deterministic — a rand()-style filter has no
    // references, would pass the dim check, and re-evaluating it over
    // summary group rows instead of base rows changes semantics
    val dimOnly = filters.forall(f =>
      f.deterministic &&
        f.references.forall(a => mv.dims.contains(a.name)))

    def rewriteAgg(ae: AggregateExpression): Option[Expression] = {
      if (ae.isDistinct || ae.filter.nonEmpty) return None
      ae.aggregateFunction match {
        case s: Sum => mv.sums.get(key(s.child)).flatMap(sumOut.get)
          .map(Sum(_).toAggregateExpression())
        case m: Min => mv.mins.get(key(m.child)).flatMap(sumOut.get)
          .map(Min(_).toAggregateExpression())
        case m: Max => mv.maxs.get(key(m.child)).flatMap(sumOut.get)
          .map(Max(_).toAggregateExpression())
        case c: Count if c.children.forall(_.foldable) =>
          // COUNT(*) → SUM(cnt), coalesced to 0: a global (no-group)
          // aggregate whose filter kills every summary row must yield
          // 0 like COUNT does, not SUM's NULL — and coalescing keeps
          // the output non-nullable, matching Count's contract
          mv.cnt.flatMap(sumOut.get).map(a => Coalesce(Seq(
            Sum(a).toAggregateExpression(), Literal(0L))))
        case _ => None
      }
    }

    // Rewrite every embedded AggregateExpression (dsum-style outputs
    // wrap the SUM in a Cast, so aggs sit at arbitrary depth), each
    // cast back to its original type so the surrounding expression —
    // and the plan above the Aggregate — see unchanged types. Any
    // base attribute left OUTSIDE an agg (a grouping column used in
    // an output expression) then remaps to its summary dim.
    val sumAttrIds = mv.summary.queryExecution.analyzed.output
      .map(_.exprId).toSet
    def rewriteExpr(e: Expression): Option[Expression] = {
      var failed = false
      def exactSum(x: Expression): Option[Expression] =
        mv.exact.get(key(x)).flatMap(sumOut.get).map(a =>
          Cast(Sum(a).toAggregateExpression(), DoubleType))
      val exactDone =
        if (mv.exact.isEmpty) e
        else e.transformDown(Function.unlift(exactSum))
      val aggsDone = exactDone.transformUp {
        case ae: AggregateExpression
            if ae.references.nonEmpty &&
              ae.references.forall(a => sumAttrIds.contains(a.exprId)) =>
          ae // an Exact sum already answered from the summary
        case ae: AggregateExpression =>
          rewriteAgg(ae) match {
            case Some(r) =>
              if (r.dataType == ae.dataType) r else Cast(r, ae.dataType)
            case None => failed = true; ae
          }
      }
      val remapped = aggsDone.transformUp {
        case a: AttributeReference if !sumAttrIds.contains(a.exprId) =>
          dimAttr(a.name).getOrElse { failed = true; a }
      }
      if (failed) None else Some(remapped)
    }

    val newOut: Seq[Option[NamedExpression]] =
      agg.aggregateExpressions.map {
        case a: AttributeReference =>
          dimAttr(a.name).map(d =>
            Alias(d, a.name)(exprId = a.exprId, qualifier = a.qualifier))
        case al @ Alias(child, name) =>
          rewriteExpr(child).map { r =>
            val typed =
              if (r.dataType == al.dataType) r else Cast(r, al.dataType)
            Alias(typed, name)(exprId = al.exprId,
              qualifier = al.qualifier)
          }
        case _ => None
      }

    if (!dimOnly || newGroupings.exists(_.isEmpty) ||
        newOut.exists(_.isEmpty)) None
    else {
      val base = mv.summary.queryExecution.analyzed
      val child =
        if (filters.isEmpty) base
        else Filter(
          filters.map(_.transform {
            case a: AttributeReference => dimAttr(a.name).get
          }).reduce(And), base)
      Some(Aggregate(newGroupings.map(_.get), newOut.map(_.get), child))
    }
  }
}
