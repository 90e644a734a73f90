package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression,
  ExpressionInfo}

import graft.functions.{Hilbert2D, HilbertN, PqAssign, ShingleNGrams,
  UnicodeNormalize, VecDot, VectorizeDotProduct}

/** Engine extension point (SparkSessionExtensions): registers the
  * native [[graft.functions.VecDot]] kernel as SQL function
  * `vec_dot(a, b)`, the [[graft.functions.ShingleNGrams]] kernel as
  * `shingles(tokens, n, distinct)`, and installs the
  * [[graft.functions.VectorizeDotProduct]] optimizer rule that
  * auto-rewrites HOF dot products into VecDot, and the
  * [[graft.plans.FoldCollectOverExplode]] rule that folds a global
  * `collect_list` over `explode` of one local row into an array
  * expression (the job-free Metlink snapshot path).
  *
  * Also registers the whole-operator TABLE functions `cdc_merge`,
  * `attribution_credits`, `sq8_search`, `bfs_hops`,
  * `shortest_paths`, `k_core`, `label_propagation`, `item_cooccur`,
  * `hist_drift`, `chunk_tokens`, `personalized_pagerank`, the
  * r10 graph completions `random_walks`, `modularity`,
  * `core_numbers`, `closeness`, the r11 row-pattern matcher
  * `match_recognize` ([[graft.operators.Journeys.matchRecognize]] —
  * the SQL:2016 MATCH_RECOGNIZE shape: contiguous pattern +
  * quantifiers + gap policy, skip past last row), the r15 two-phase
  * rank `parallel_rank(view, group_cols_csv, order_cols_csv[,
  * out_col])` ([[graft.operators.Ranks.parallelRank]] — the
  * low-cardinality-group escape hatch from the single-task-per-group
  * window-rank trap; its guarded offset collect runs at analysis
  * time like the iterative graph functions), and the r11
  * preference ranker `bradley_terry`
  * ([[graft.operators.Evals.bradleyTerry]] over
  * [[graft.operators.Evals.orientedPairs]])
  * ([[graft.operators.Graph.randomWalks]],
  * [[graft.operators.Graph.modularity]],
  * [[graft.operators.Graph.coreNumbers]],
  * [[graft.operators.Graph.sampledCloseness]];
  * r9 wave: [[graft.operators.Cooccur.itemSimilarity]],
  * [[graft.operators.Drift.histDrift]],
  * [[graft.operators.Corpus.chunkTokens]],
  * [[graft.operators.PageRank.personalizedRanks]]), which expose
  * [[graft.operators.Cdc.mergeLatest]],
  * [[graft.operators.Attribution.credits]],
  * [[graft.operators.Sq8.searchTopK]], [[graft.operators.Graph
  * .bfsHops]], [[graft.operators.Graph.boundedShortestPaths]],
  * [[graft.operators.Graph.kCore]], and [[graft.operators.Graph
  * .labelPropagation]] to the SQL front-end: the builder receives literal arguments (view
  * names + column names) and returns the SAME logical plan the Scala
  * API composes, so `SELECT * FROM cdc_merge('chg', 'k', 'seq',
  * 'op', false)` plans identically to the API call. The first three
  * are fully declarative (canonicalized-plan equality holds); the
  * graph functions are iterative loops, so their per-round jobs run
  * while the statement is ANALYZED (the same work a recursive CTE
  * would execute) and the returned plan scans the checkpointed
  * result — re-planning the same statement re-runs the traversal.
  *
  * Activate with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` (done
  * by [[Tables.configure]]) or `.withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Constant-fold a string argument of a table function (view and
    * column names parameterize the PLAN, so they must be literals). */
  private def strConst(e: Expression, what: String): String = {
    require(e.foldable, s"$what must be a string literal, got ${e.sql}")
    val v = e.eval()
    require(v != null, s"$what must be a non-null string literal")
    v.toString
  }

  private def intConstArg(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be an int literal, got ${e.sql}")
    e.eval() match {
      case i: Int => i
      case l: Long if l.isValidInt => l.toInt
      case v => throw new IllegalArgumentException(
        s"$what must be an int literal, got $v")
    }
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectTableFunction((
      new FunctionIdentifier("cdc_merge"),
      new ExpressionInfo("graft.operators.Cdc", "cdc_merge"),
      (children: Seq[Expression]) => {
        require(children.size == 5,
          "cdc_merge expects (log_view, key_cols_csv, seq_col, " +
            s"op_col, keep_tombstones), got ${children.size}")
        val spark = org.apache.spark.sql.SparkSession.active
        val keep = {
          val e = children(4)
          require(e.foldable, "cdc_merge: keep_tombstones must be " +
            s"a boolean literal, got ${e.sql}")
          e.eval() match {
            case b: Boolean => b
            case v => throw new IllegalArgumentException(
              s"cdc_merge: keep_tombstones must be boolean, got $v")
          }
        }
        graft.operators.Cdc.mergeLatest(
            spark.table(strConst(children(0), "cdc_merge: log_view")),
            strConst(children(1), "cdc_merge: key_cols_csv")
              .split(",").map(_.trim).toSeq,
            strConst(children(2), "cdc_merge: seq_col"),
            strConst(children(3), "cdc_merge: op_col"), keep)
          .queryExecution.analyzed
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("attribution_credits"),
      new ExpressionInfo("graft.operators.Attribution",
        "attribution_credits"),
      (children: Seq[Expression]) => {
        require(children.size == 9,
          "attribution_credits expects (events_view, user_col, " +
            "id_col, ts_col, type_col, value_col, conv_type, " +
            s"touch_types_csv, lookback_micros), got ${children.size}")
        val spark = org.apache.spark.sql.SparkSession.active
        val lookback = {
          val e = children(8)
          require(e.foldable, "attribution_credits: lookback_micros " +
            s"must be a literal, got ${e.sql}")
          e.eval() match {
            case l: Long => l
            case i: Int => i.toLong
            case v => throw new IllegalArgumentException(
              "attribution_credits: lookback_micros must be an " +
                s"integer literal, got $v")
          }
        }
        graft.operators.Attribution.credits(
            spark.table(strConst(children(0),
              "attribution_credits: events_view")),
            strConst(children(1), "attribution_credits: user_col"),
            strConst(children(2), "attribution_credits: id_col"),
            strConst(children(3), "attribution_credits: ts_col"),
            strConst(children(4), "attribution_credits: type_col"),
            strConst(children(5), "attribution_credits: value_col"),
            strConst(children(6), "attribution_credits: conv_type"),
            strConst(children(7),
              "attribution_credits: touch_types_csv")
              .split(",").map(_.trim).toSeq,
            lookback)
          .queryExecution.analyzed
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("sq8_search"),
      new ExpressionInfo("graft.operators.Sq8", "sq8_search"),
      (children: Seq[Expression]) => {
        require(children.size == 6,
          "sq8_search expects (queries_view, corpus_view, id_col, " +
            s"emb_col, m, k), got ${children.size}")
        val spark = org.apache.spark.sql.SparkSession.active
        graft.operators.Sq8.searchTopK(
            spark.table(strConst(children(0),
              "sq8_search: queries_view")),
            spark.table(strConst(children(1),
              "sq8_search: corpus_view")),
            strConst(children(2), "sq8_search: id_col"),
            strConst(children(3), "sq8_search: emb_col"),
            intConstArg(children(4), "sq8_search: m"),
            intConstArg(children(5), "sq8_search: k"))
          .queryExecution.analyzed
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("shortest_paths"),
      new ExpressionInfo("graft.operators.Graph", "shortest_paths"),
      (children: Seq[Expression]) => {
        require(children.size == 7,
          "shortest_paths expects (edges_view, a_col, b_col, w_col, " +
            s"sources_view, src_col, max_edges), got ${children.size}")
        val spark = org.apache.spark.sql.SparkSession.active
        graft.operators.Graph.boundedShortestPaths(
            spark.table(strConst(children(0),
              "shortest_paths: edges_view")),
            strConst(children(1), "shortest_paths: a_col"),
            strConst(children(2), "shortest_paths: b_col"),
            strConst(children(3), "shortest_paths: w_col"),
            spark.table(strConst(children(4),
              "shortest_paths: sources_view")),
            strConst(children(5), "shortest_paths: src_col"),
            intConstArg(children(6), "shortest_paths: max_edges"))
          .queryExecution.analyzed
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("bfs_hops"),
      new ExpressionInfo("graft.operators.Graph", "bfs_hops"),
      (children: Seq[Expression]) => {
        require(children.size == 6,
          "bfs_hops expects (edges_view, a_col, b_col, sources_view, " +
            s"src_col, max_hops), got ${children.size}")
        val spark = org.apache.spark.sql.SparkSession.active
        graft.operators.Graph.bfsHops(
            spark.table(strConst(children(0), "bfs_hops: edges_view")),
            strConst(children(1), "bfs_hops: a_col"),
            strConst(children(2), "bfs_hops: b_col"),
            spark.table(strConst(children(3),
              "bfs_hops: sources_view")),
            strConst(children(4), "bfs_hops: src_col"),
            intConstArg(children(5), "bfs_hops: max_hops"))
          .queryExecution.analyzed
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("k_core"),
      new ExpressionInfo("graft.operators.Graph", "k_core"),
      (children: Seq[Expression]) => {
        require(children.size == 5,
          "k_core expects (edges_view, a_col, b_col, k, max_rounds), " +
            s"got ${children.size}")
        val spark = org.apache.spark.sql.SparkSession.active
        graft.operators.Graph.kCore(
            spark.table(strConst(children(0), "k_core: edges_view")),
            strConst(children(1), "k_core: a_col"),
            strConst(children(2), "k_core: b_col"),
            intConstArg(children(3), "k_core: k"),
            intConstArg(children(4), "k_core: max_rounds"))
          .queryExecution.analyzed
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("label_propagation"),
      new ExpressionInfo("graft.operators.Graph", "label_propagation"),
      (children: Seq[Expression]) => {
        require(children.size == 4,
          "label_propagation expects (edges_view, a_col, b_col, " +
            s"rounds), got ${children.size}")
        val spark = org.apache.spark.sql.SparkSession.active
        graft.operators.Graph.labelPropagation(
            spark.table(strConst(children(0),
              "label_propagation: edges_view")),
            strConst(children(1), "label_propagation: a_col"),
            strConst(children(2), "label_propagation: b_col"),
            intConstArg(children(3), "label_propagation: rounds"))
          .queryExecution.analyzed
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("item_cooccur"),
      new ExpressionInfo("graft.operators.Cooccur", "item_cooccur"),
      (children: Seq[Expression]) => {
        require(children.size == 5,
          "item_cooccur expects (baskets_view, basket_col, item_col, " +
            s"top_k, max_basket), got ${children.size}")
        val spark = org.apache.spark.sql.SparkSession.active
        graft.operators.Cooccur.itemSimilarity(
            spark.table(strConst(children(0),
              "item_cooccur: baskets_view")),
            strConst(children(1), "item_cooccur: basket_col"),
            strConst(children(2), "item_cooccur: item_col"),
            intConstArg(children(3), "item_cooccur: top_k"),
            intConstArg(children(4), "item_cooccur: max_basket"))
          .queryExecution.analyzed
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("hist_drift"),
      new ExpressionInfo("graft.operators.Drift", "hist_drift"),
      (children: Seq[Expression]) => {
        require(children.size == 4,
          "hist_drift expects (tagged_view, value_col, is_base_col, " +
            s"bins), got ${children.size}")
        val spark = org.apache.spark.sql.SparkSession.active
        import org.apache.spark.sql.functions.col
        graft.operators.Drift.histDrift(
            spark.table(strConst(children(0),
              "hist_drift: tagged_view")),
            col(strConst(children(1), "hist_drift: value_col")),
            col(strConst(children(2), "hist_drift: is_base_col")),
            intConstArg(children(3), "hist_drift: bins"))
          .queryExecution.analyzed
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("chunk_tokens"),
      new ExpressionInfo("graft.operators.Corpus", "chunk_tokens"),
      (children: Seq[Expression]) => {
        require(children.size == 5,
          "chunk_tokens expects (docs_view, id_col, text_col, size, " +
            s"overlap), got ${children.size}")
        val spark = org.apache.spark.sql.SparkSession.active
        graft.operators.Corpus.chunkTokens(
            spark.table(strConst(children(0),
              "chunk_tokens: docs_view")),
            strConst(children(1), "chunk_tokens: id_col"),
            strConst(children(2), "chunk_tokens: text_col"),
            intConstArg(children(3), "chunk_tokens: size"),
            intConstArg(children(4), "chunk_tokens: overlap"))
          .queryExecution.analyzed
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("match_recognize"),
      new ExpressionInfo("graft.operators.Journeys",
        "match_recognize"),
      (children: Seq[Expression]) => {
        require(children.size == 7,
          "match_recognize expects (events_view, key_col, ts_col, " +
            "tiebreak_col, type_col, pattern, gap_sec), " +
            s"got ${children.size}")
        val spark = org.apache.spark.sql.SparkSession.active
        val gap = {
          val e = children(6)
          require(e.foldable,
            s"match_recognize: gap_sec must be a literal, got ${e.sql}")
          e.eval() match {
            case l: Long => l
            case i: Int => i.toLong
            case v => throw new IllegalArgumentException(
              s"match_recognize: gap_sec must be integral, got $v")
          }
        }
        graft.operators.Journeys.matchRecognize(
            spark.table(strConst(children(0),
              "match_recognize: events_view")),
            strConst(children(1), "match_recognize: key_col"),
            strConst(children(2), "match_recognize: ts_col"),
            strConst(children(3), "match_recognize: tiebreak_col"),
            strConst(children(4), "match_recognize: type_col"),
            strConst(children(5), "match_recognize: pattern"), gap)
          .queryExecution.analyzed
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("temperature_quotas"),
      new ExpressionInfo("graft.operators.Splits",
        "temperature_quotas"),
      (children: Seq[Expression]) => {
        require(children.size == 5,
          "temperature_quotas expects (counts_view, key_col, " +
            s"cnt_col, n, alpha), got ${children.size}")
        val spark = org.apache.spark.sql.SparkSession.active
        val n = {
          val e = children(3)
          require(e.foldable,
            s"temperature_quotas: n must be a literal, got ${e.sql}")
          e.eval() match {
            case l: Long => l
            case i: Int => i.toLong
            case v => throw new IllegalArgumentException(
              s"temperature_quotas: n must be integral, got $v")
          }
        }
        val alpha = {
          val e = children(4)
          require(e.foldable,
            s"temperature_quotas: alpha must be a literal, got ${e.sql}")
          e.eval() match {
            case d: Double => d
            case dec: org.apache.spark.sql.types.Decimal => dec.toDouble
            case i: Int => i.toDouble
            case l: Long => l.toDouble
            case v => throw new IllegalArgumentException(
              s"temperature_quotas: alpha must be numeric, got $v")
          }
        }
        graft.operators.Splits.temperatureQuotas(
            spark.table(strConst(children(0),
              "temperature_quotas: counts_view")),
            strConst(children(1), "temperature_quotas: key_col"),
            strConst(children(2), "temperature_quotas: cnt_col"),
            n, alpha)
          .queryExecution.analyzed
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("bradley_terry"),
      new ExpressionInfo("graft.operators.Evals", "bradley_terry"),
      (children: Seq[Expression]) => {
        require(children.size == 5,
          "bradley_terry expects (cmp_view, a_col, b_col, " +
            s"win_a_col, iters), got ${children.size}")
        val spark = org.apache.spark.sql.SparkSession.active
        val iters = intConstArg(children(4), "bradley_terry: iters")
        graft.operators.Evals.bradleyTerry(
            graft.operators.Evals.orientedPairs(
              spark.table(strConst(children(0),
                "bradley_terry: cmp_view")),
              strConst(children(1), "bradley_terry: a_col"),
              strConst(children(2), "bradley_terry: b_col"),
              strConst(children(3), "bradley_terry: win_a_col")),
            iters)
          .queryExecution.analyzed
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("personalized_pagerank"),
      new ExpressionInfo("graft.operators.PageRank",
        "personalized_pagerank"),
      (children: Seq[Expression]) => {
        require(children.size == 6,
          "personalized_pagerank expects (edges_view, src_col, " +
            s"dst_col, sources_view, source_col, iters), " +
            s"got ${children.size}")
        val spark = org.apache.spark.sql.SparkSession.active
        import org.apache.spark.sql.functions.col
        graft.operators.PageRank.personalizedRanks(
            spark.table(strConst(children(0),
              "personalized_pagerank: edges_view")),
            strConst(children(1), "personalized_pagerank: src_col"),
            strConst(children(2), "personalized_pagerank: dst_col"),
            spark.table(strConst(children(3),
              "personalized_pagerank: sources_view"))
              .select(col(strConst(children(4),
                "personalized_pagerank: source_col"))),
            intConstArg(children(5), "personalized_pagerank: iters"))
          .queryExecution.analyzed
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("random_walks"),
      new ExpressionInfo("graft.operators.Graph", "random_walks"),
      (children: Seq[Expression]) => {
        require(children.size == 7,
          "random_walks expects (edges_view, a_col, b_col, " +
            "starts_view, start_col, walks_per_node, steps), " +
            s"got ${children.size}")
        val spark = org.apache.spark.sql.SparkSession.active
        import org.apache.spark.sql.functions.col
        graft.operators.Graph.randomWalks(
            spark.table(strConst(children(0),
              "random_walks: edges_view")),
            strConst(children(1), "random_walks: a_col"),
            strConst(children(2), "random_walks: b_col"),
            spark.table(strConst(children(3),
              "random_walks: starts_view"))
              .select(col(strConst(children(4),
                "random_walks: start_col"))),
            intConstArg(children(5), "random_walks: walks_per_node"),
            intConstArg(children(6), "random_walks: steps"))
          .queryExecution.analyzed
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("modularity"),
      new ExpressionInfo("graft.operators.Graph", "modularity"),
      (children: Seq[Expression]) => {
        require(children.size == 6,
          "modularity expects (edges_view, a_col, b_col, " +
            s"labels_view, id_col, label_col), got ${children.size}")
        val spark = org.apache.spark.sql.SparkSession.active
        import org.apache.spark.sql.functions.col
        graft.operators.Graph.modularity(
            spark.table(strConst(children(0),
              "modularity: edges_view")),
            strConst(children(1), "modularity: a_col"),
            strConst(children(2), "modularity: b_col"),
            spark.table(strConst(children(3),
              "modularity: labels_view"))
              .select(
                col(strConst(children(4), "modularity: id_col"))
                  .as("id"),
                col(strConst(children(5), "modularity: label_col"))
                  .as("label")))
          .queryExecution.analyzed
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("core_numbers"),
      new ExpressionInfo("graft.operators.Graph", "core_numbers"),
      (children: Seq[Expression]) => {
        require(children.size == 5,
          "core_numbers expects (edges_view, a_col, b_col, max_k, " +
            s"max_rounds), got ${children.size}")
        val spark = org.apache.spark.sql.SparkSession.active
        graft.operators.Graph.coreNumbers(
            spark.table(strConst(children(0),
              "core_numbers: edges_view")),
            strConst(children(1), "core_numbers: a_col"),
            strConst(children(2), "core_numbers: b_col"),
            intConstArg(children(3), "core_numbers: max_k"),
            intConstArg(children(4), "core_numbers: max_rounds"))
          .queryExecution.analyzed
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("closeness"),
      new ExpressionInfo("graft.operators.Graph", "closeness"),
      (children: Seq[Expression]) => {
        require(children.size == 5,
          "closeness expects (edges_view, a_col, b_col, pivots, " +
            s"max_hops), got ${children.size}")
        val spark = org.apache.spark.sql.SparkSession.active
        graft.operators.Graph.sampledCloseness(
            spark.table(strConst(children(0),
              "closeness: edges_view")),
            strConst(children(1), "closeness: a_col"),
            strConst(children(2), "closeness: b_col"),
            intConstArg(children(3), "closeness: pivots"),
            intConstArg(children(4), "closeness: max_hops"))
          .queryExecution.analyzed
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("betweenness"),
      new ExpressionInfo("graft.operators.Graph", "betweenness"),
      (children: Seq[Expression]) => {
        require(children.size == 5,
          "betweenness expects (edges_view, a_col, b_col, pivots, " +
            s"max_hops), got ${children.size}")
        val spark = org.apache.spark.sql.SparkSession.active
        graft.operators.Graph.sampledBetweenness(
            spark.table(strConst(children(0),
              "betweenness: edges_view")),
            strConst(children(1), "betweenness: a_col"),
            strConst(children(2), "betweenness: b_col"),
            intConstArg(children(3), "betweenness: pivots"),
            intConstArg(children(4), "betweenness: max_hops"))
          .queryExecution.analyzed
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("parallel_rank"),
      new ExpressionInfo("graft.operators.Ranks", "parallel_rank"),
      (children: Seq[Expression]) => {
        require(children.size == 3 || children.size == 4,
          "parallel_rank expects (view, group_cols_csv, " +
            "order_cols_csv[, out_col]), got " +
            s"${children.size}")
        val spark = org.apache.spark.sql.SparkSession.active
        graft.operators.Ranks.parallelRank(
            spark.table(strConst(children(0), "parallel_rank: view")),
            strConst(children(1), "parallel_rank: group_cols_csv")
              .split(",").map(_.trim).toSeq,
            strConst(children(2), "parallel_rank: order_cols_csv")
              .split(",").map(_.trim).toSeq,
            if (children.size == 4)
              strConst(children(3), "parallel_rank: out_col")
            else "rank")
          .queryExecution.analyzed
      }))
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"vec_dot expects 2 arguments, got ${children.size}")
        VecDot(children.head, children(1))
      }))
    // Spark's own runtime-filter bloom kernels, exposed to the SQL
    // surface (they back InjectRuntimeFilter but are not registered
    // as SQL functions): bloom_agg(xxhash64(k)[, est_items]) builds
    // the filter as a binary aggregate, bloom_might_contain(b, h)
    // probes it — the explicit pre-shuffle semi-join pruning a user
    // composes when the optimizer's automatic injection can't see
    // the join (see operators.BloomJoin).
    ext.injectFunction((
      new FunctionIdentifier("unicode_normalize"),
      new ExpressionInfo(classOf[UnicodeNormalize].getName,
        "unicode_normalize"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          "unicode_normalize expects (str, 'NFC'|'NFD'|'NFKC'|" +
            s"'NFKD'), got ${children.size}")
        val f = children(1)
        require(f.foldable,
          s"unicode_normalize: form must be a literal, got ${f.sql}")
        UnicodeNormalize(children.head,
          UnicodeNormalize.formOf(String.valueOf(f.eval())))
      }))
    ext.injectFunction((
      new FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(
        "org.apache.spark.sql.catalyst.expressions.aggregate" +
          ".BloomFilterAggregate", "bloom_agg"),
      (children: Seq[Expression]) => {
        require(children.size == 1 || children.size == 2,
          s"bloom_agg expects (hash[, est_items]), got ${children.size}")
        import org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate
        if (children.size == 1) new BloomFilterAggregate(children.head)
        else {
          val e = children(1)
          require(e.foldable,
            s"bloom_agg: est_items must be a literal, got ${e.sql}")
          val est = e.eval() match {
            case l: Long => l
            case i: Int => i.toLong
            case v => throw new IllegalArgumentException(
              s"bloom_agg: est_items must be integral, got $v")
          }
          new BloomFilterAggregate(children.head, est)
        }
      }))
    ext.injectFunction((
      new FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(
        "org.apache.spark.sql.catalyst.expressions" +
          ".BloomFilterMightContain", "bloom_might_contain"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          "bloom_might_contain expects (bloom, hash), " +
            s"got ${children.size}")
        org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("shingles"),
      new ExpressionInfo(classOf[ShingleNGrams].getName, "shingles"),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          s"shingles expects (tokens, n, distinct), got ${children.size}")
        // n and distinct parameterize codegen, so they must be
        // compile-time constants — reject columns/NULLs/wrong types
        // with a clear message instead of a raw eval()/cast crash.
        def const[T](e: Expression, what: String,
            pf: PartialFunction[Any, T]): T = {
          require(e.foldable,
            s"shingles: $what must be a literal, got ${e.sql}")
          val v = e.eval()
          require(v != null && pf.isDefinedAt(v),
            s"shingles: $what must be a non-null ${what} literal, " +
              s"got ${e.sql}")
          pf(v)
        }
        ShingleNGrams(children.head,
          const[Int](children(1), "int n",
            { case i: Int => i; case l: Long if l.isValidInt => l.toInt }),
          const[Boolean](children(2), "boolean distinct",
            { case b: Boolean => b }))
      }))
    ext.injectFunction((
      new FunctionIdentifier("hilbert2d"),
      new ExpressionInfo(classOf[Hilbert2D].getName, "hilbert2d"),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          s"hilbert2d expects (x, y, bits), got ${children.size}")
        val bitsExpr = children(2)
        require(bitsExpr.foldable,
          s"hilbert2d: bits must be a literal, got ${bitsExpr.sql}")
        val bits = bitsExpr.eval() match {
          case i: Int => i
          case l: Long if l.isValidInt => l.toInt
          case v => throw new IllegalArgumentException(
            s"hilbert2d: bits must be an int literal, got $v")
        }
        Hilbert2D(children.head, children(1), bits)
      }))
    ext.injectFunction((
      new FunctionIdentifier("hilbertn"),
      new ExpressionInfo(classOf[HilbertN].getName, "hilbertn"),
      (children: Seq[Expression]) => {
        require(children.size >= 2,
          s"hilbertn expects (bits, x1, ..., xn), got ${children.size}")
        val bitsExpr = children.head
        require(bitsExpr.foldable,
          s"hilbertn: bits must be a literal, got ${bitsExpr.sql}")
        val bits = bitsExpr.eval() match {
          case i: Int => i
          case l: Long if l.isValidInt => l.toInt
          case v => throw new IllegalArgumentException(
            s"hilbertn: bits must be an int literal, got $v")
        }
        HilbertN(children.tail, bits)
      }))
    ext.injectFunction((
      new FunctionIdentifier("pq_assign"),
      new ExpressionInfo(classOf[PqAssign].getName, "pq_assign"),
      (children: Seq[Expression]) => {
        require(children.size == 4,
          s"pq_assign expects (emb, codebook, subDim, k), got " +
            s"${children.size}")
        def intConst(e: Expression, what: String): Int = {
          require(e.foldable,
            s"pq_assign: $what must be a literal, got ${e.sql}")
          e.eval() match {
            case i: Int => i
            case l: Long if l.isValidInt => l.toInt
            case v => throw new IllegalArgumentException(
              s"pq_assign: $what must be an int literal, got $v")
          }
        }
        val cbE = children(1)
        require(cbE.foldable,
          s"pq_assign: codebook must be a nested float-array " +
            s"literal, got ${cbE.sql}")
        val ad = cbE.eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val cb = (0 until ad.numElements())
          .map(i => ad.getArray(i).toFloatArray()).toArray
        PqAssign(children.head, cb,
          intConst(children(2), "subDim"), intConst(children(3), "k"))
      }))
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
