package graft

import org.apache.spark.sql.{DataFrame, SparkSession,
  SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain,
  Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate
  .BloomFilterAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, Decimal, FloatType,
  NumericType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{Hilbert2D, HilbertN, PqAssign, ShingleNGrams,
  UnicodeNormalize, VecDot, VectorizeDotProduct}
import graft.operators.{Attribution, Cdc, Cooccur, Corpus, Drift, Evals,
  Graph, Journeys, PageRank, Ranks, Splits, Sq8}

/** Engine extension point (SparkSessionExtensions): registers the SQL
  * functions of the descriptor tables in the companion object and
  * installs graft's optimizer rules.
  *
  * A table function returns the logical plan its Scala API composes,
  * so a declarative one (`cdc_merge`, `item_cooccur`, ...) plans
  * identically to the API call. The iterative graph functions run
  * their per-round jobs while the statement is ANALYZED (the work a
  * recursive CTE would do) and return a plan over the checkpointed
  * result, so re-planning the statement re-runs the traversal.
  *
  * Activate with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` (done
  * by [[Tables.configure]]) or `.withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit = {
    tableFunctions.foreach(f => ext.injectTableFunction((
      FunctionIdentifier(f.name), new ExpressionInfo(f.owner, f.name),
      (c: Seq[Expression]) => f.build(new Args(f, c)).queryExecution.analyzed)))
    scalarFunctions.foreach(f => ext.injectFunction((
      FunctionIdentifier(f.name), new ExpressionInfo(f.owner, f.name),
      (c: Seq[Expression]) => f.build(new Args(f, c)))))
    ext.injectOptimizerRule(_ => VectorizeDotProduct)
    // A global collect_list over explode of a one-row local relation
    // becomes one array expression, so the Metlink snapshot path
    // (featureCollection over pipeline of one fetched document)
    // folds into a driver-side LocalRelation and runs no job; the
    // result is the same without it, with one exchange.
    ext.injectOptimizerRule(_ => graft.plans.FoldCollectOverExplode)
    // Materialized-view answering (q207): rewrites a matching
    // Aggregate-over-base-scan to a rollup over the registered
    // summary — inert until graft.plans.MvRegistry.register is
    // called; gated by spark.graft.mv.rewrite.
    ext.injectOptimizerRule(_ => graft.plans.MvRewrite)
  }
}

object GraftExtensions {

  /** One SQL function: its name, the class its `ExpressionInfo`
    * names, its comma-separated parameters and a builder over the
    * decoded arguments. A parameter ending in `?` is optional; one
    * ending in `...` is a variadic tail of at least one argument. */
  private[graft] final case class Fn[T](name: String, owner: String,
      params: String)(val build: Args => T) {
    private val names = params.split(",").map(_.trim).toSeq
    val minArgs: Int = names.count(!_.endsWith("?"))
    val maxArgs: Int =
      if (names.last.endsWith("...")) Int.MaxValue else names.size
    def paramName(i: Int): String =
      names(math.min(i, names.size - 1)).stripSuffix("?").stripSuffix("...")
  }

  /** The arguments of one call. View and column names, sizes and
    * codebooks parameterize the PLAN (or codegen), so they must be
    * literals; this decoder is the only place that checks arity,
    * foldability, null and type, and every message names the
    * parameter. */
  private[graft] final class Args(fn: Fn[_], args: Seq[Expression]) {
    require(args.size >= fn.minArgs && args.size <= fn.maxArgs,
      s"${fn.name} expects (${fn.params}), got ${args.size}")

    def has(i: Int): Boolean = i < args.size
    def expr(i: Int): Expression = args(i)
    def rest(i: Int): Seq[Expression] = args.drop(i)
    def str(i: Int): String =
      lit(i, "a string") { case s: UTF8String => s.toString }
    def csv(i: Int): Seq[String] = str(i).split(",").map(_.trim).toSeq
    def table(i: Int): DataFrame = SparkSession.active.table(str(i))
    def long(i: Int): Long = lit(i, "an integer")(integral)
    def int(i: Int): Int =
      lit(i, "an int")(integral.andThen { case l if l.isValidInt => l.toInt })
    def double(i: Int): Double = lit(i, "a numeric") {
      case n: java.lang.Number => n.doubleValue
      case d: Decimal => d.toDouble
    }
    def bool(i: Int): Boolean = lit(i, "a boolean") { case b: Boolean => b }
    /** A nested numeric array, cast to FLOAT element-wise. */
    def floatMatrix(i: Int): Array[Array[Float]] = {
      val t = args(i).dataType
      val numeric = t match {
        case ArrayType(ArrayType(_: NumericType, _), _) => true
        case _ => false
      }
      lit(i, "a nested numeric array") { case m: ArrayData if numeric =>
        val f = Cast(Literal(m, t), ArrayType(ArrayType(FloatType))).eval()
          .asInstanceOf[ArrayData]
        Array.tabulate(f.numElements())(r => f.getArray(r).toFloatArray())
      }
    }

    private def lit[T](i: Int, kind: String)(pf: PartialFunction[Any, T]): T = {
      val e = args(i)
      val what = s"${fn.name}: ${fn.paramName(i)}"
      require(e.foldable, s"$what must be a literal, got ${e.sql}")
      val v = e.eval()
      require(v != null, s"$what must be a non-null literal, got ${e.sql}")
      pf.applyOrElse(v, (_: Any) => throw new IllegalArgumentException(
        s"$what must be $kind literal, got ${e.sql}"))
    }
  }

  private val integral: PartialFunction[Any, Long] = {
    case b: Byte => b.toLong
    case s: Short => s.toLong
    case i: Int => i.toLong
    case l: Long => l
  }

  /** Whole-operator TABLE functions: `SELECT * FROM name(...)`. */
  private[graft] val tableFunctions: Seq[Fn[DataFrame]] = Seq(
    Fn("cdc_merge", "graft.operators.Cdc",
        "log_view, key_cols_csv, seq_col, op_col, keep_tombstones")(a =>
      Cdc.mergeLatest(a.table(0), a.csv(1), a.str(2), a.str(3), a.bool(4))),
    Fn("attribution_credits", "graft.operators.Attribution",
        "events_view, user_col, id_col, ts_col, type_col, value_col, " +
          "conv_type, touch_types_csv, lookback_micros")(a =>
      Attribution.credits(a.table(0), a.str(1), a.str(2), a.str(3),
        a.str(4), a.str(5), a.str(6), a.csv(7), a.long(8))),
    Fn("sq8_search", "graft.operators.Sq8",
        "queries_view, corpus_view, id_col, emb_col, m, k")(a =>
      Sq8.searchTopK(a.table(0), a.table(1), a.str(2), a.str(3), a.int(4),
        a.int(5))),
    Fn("shortest_paths", "graft.operators.Graph",
        "edges_view, a_col, b_col, w_col, sources_view, src_col, " +
          "max_edges")(a =>
      Graph.boundedShortestPaths(a.table(0), a.str(1), a.str(2), a.str(3),
        a.table(4), a.str(5), a.int(6))),
    Fn("bfs_hops", "graft.operators.Graph",
        "edges_view, a_col, b_col, sources_view, src_col, max_hops")(a =>
      Graph.bfsHops(a.table(0), a.str(1), a.str(2), a.table(3), a.str(4),
        a.int(5))),
    Fn("k_core", "graft.operators.Graph",
        "edges_view, a_col, b_col, k, max_rounds")(a =>
      Graph.kCore(a.table(0), a.str(1), a.str(2), a.int(3), a.int(4))),
    Fn("label_propagation", "graft.operators.Graph",
        "edges_view, a_col, b_col, rounds")(a =>
      Graph.labelPropagation(a.table(0), a.str(1), a.str(2), a.int(3))),
    Fn("item_cooccur", "graft.operators.Cooccur",
        "baskets_view, basket_col, item_col, top_k, max_basket")(a =>
      Cooccur.itemSimilarity(a.table(0), a.str(1), a.str(2), a.int(3),
        a.int(4))),
    Fn("hist_drift", "graft.operators.Drift",
        "tagged_view, value_col, is_base_col, bins")(a =>
      Drift.histDrift(a.table(0), col(a.str(1)), col(a.str(2)), a.int(3))),
    Fn("chunk_tokens", "graft.operators.Corpus",
        "docs_view, id_col, text_col, size, overlap")(a =>
      Corpus.chunkTokens(a.table(0), a.str(1), a.str(2), a.int(3),
        a.int(4))),
    // the SQL:2016 MATCH_RECOGNIZE shape: contiguous pattern +
    // quantifiers + gap policy, skip past last row
    Fn("match_recognize", "graft.operators.Journeys",
        "events_view, key_col, ts_col, tiebreak_col, type_col, pattern, " +
          "gap_sec")(a =>
      Journeys.matchRecognize(a.table(0), a.str(1), a.str(2), a.str(3),
        a.str(4), a.str(5), a.long(6))),
    Fn("temperature_quotas", "graft.operators.Splits",
        "counts_view, key_col, cnt_col, n, alpha")(a =>
      Splits.temperatureQuotas(a.table(0), a.str(1), a.str(2), a.long(3),
        a.double(4))),
    Fn("bradley_terry", "graft.operators.Evals",
        "cmp_view, a_col, b_col, win_a_col, iters")(a =>
      Evals.bradleyTerry(Evals.orientedPairs(a.table(0), a.str(1),
        a.str(2), a.str(3)), a.int(4))),
    Fn("personalized_pagerank", "graft.operators.PageRank",
        "edges_view, src_col, dst_col, sources_view, source_col, iters")(a =>
      PageRank.personalizedRanks(a.table(0), a.str(1), a.str(2),
        a.table(3).select(col(a.str(4))), a.int(5))),
    Fn("random_walks", "graft.operators.Graph",
        "edges_view, a_col, b_col, starts_view, start_col, " +
          "walks_per_node, steps")(a =>
      Graph.randomWalks(a.table(0), a.str(1), a.str(2),
        a.table(3).select(col(a.str(4))), a.int(5), a.int(6))),
    Fn("modularity", "graft.operators.Graph",
        "edges_view, a_col, b_col, labels_view, id_col, label_col")(a =>
      Graph.modularity(a.table(0), a.str(1), a.str(2), a.table(3)
        .select(col(a.str(4)).as("id"), col(a.str(5)).as("label")))),
    Fn("core_numbers", "graft.operators.Graph",
        "edges_view, a_col, b_col, max_k, max_rounds")(a =>
      Graph.coreNumbers(a.table(0), a.str(1), a.str(2), a.int(3),
        a.int(4))),
    Fn("closeness", "graft.operators.Graph",
        "edges_view, a_col, b_col, pivots, max_hops")(a =>
      Graph.sampledCloseness(a.table(0), a.str(1), a.str(2), a.int(3),
        a.int(4))),
    Fn("betweenness", "graft.operators.Graph",
        "edges_view, a_col, b_col, pivots, max_hops")(a =>
      Graph.sampledBetweenness(a.table(0), a.str(1), a.str(2), a.int(3),
        a.int(4))),
    // the low-cardinality-group escape hatch from the
    // single-task-per-group window-rank trap
    Fn("parallel_rank", "graft.operators.Ranks",
        "view, group_cols_csv, order_cols_csv, out_col?")(a =>
      Ranks.parallelRank(a.table(0), a.csv(1), a.csv(2),
        if (a.has(3)) a.str(3) else "rank")))

  /** Scalar and aggregate functions: native Catalyst kernels, plus
    * Spark's own runtime-filter bloom kernels, which back
    * InjectRuntimeFilter but are not registered as SQL functions:
    * `bloom_agg(xxhash64(k)[, est_items])` builds the filter,
    * `bloom_might_contain(b, h)` probes it (see operators.BloomJoin). */
  private[graft] val scalarFunctions: Seq[Fn[Expression]] = Seq(
    Fn("vec_dot", classOf[VecDot].getName, "a, b")(a =>
      VecDot(a.expr(0), a.expr(1))),
    Fn("unicode_normalize", classOf[UnicodeNormalize].getName,
        "str, form")(a =>
      UnicodeNormalize(a.expr(0), UnicodeNormalize.formOf(a.str(1)))),
    Fn("bloom_agg", classOf[BloomFilterAggregate].getName,
        "hash, est_items?")(a =>
      if (a.has(1)) new BloomFilterAggregate(a.expr(0), a.long(1))
      else new BloomFilterAggregate(a.expr(0))),
    Fn("bloom_might_contain", classOf[BloomFilterMightContain].getName,
        "bloom, hash")(a =>
      BloomFilterMightContain(a.expr(0), a.expr(1))),
    Fn("shingles", classOf[ShingleNGrams].getName, "tokens, n, distinct")(a =>
      ShingleNGrams(a.expr(0), a.int(1), a.bool(2))),
    Fn("hilbert2d", classOf[Hilbert2D].getName, "x, y, bits")(a =>
      Hilbert2D(a.expr(0), a.expr(1), a.int(2))),
    Fn("hilbertn", classOf[HilbertN].getName, "bits, x...")(a =>
      HilbertN(a.rest(1), a.int(0))),
    Fn("pq_assign", classOf[PqAssign].getName,
        "emb, codebook, subDim, k")(a =>
      PqAssign(a.expr(0), a.floatMatrix(1), a.int(2), a.int(3))))
}
