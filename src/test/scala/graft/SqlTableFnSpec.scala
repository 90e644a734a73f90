package graft

import org.apache.spark.sql.functions._

import graft.operators.{Cdc, Graph}

/** SQL front-end for the whole-operator table functions registered
  * by [[GraftExtensions]]: `cdc_merge` and `bfs_hops` must be
  * callable from `spark.sql` and plan EQUIVALENTLY to the Scala API
  * forms — the builder returns the same composed logical plan, so
  * this is checked on canonicalized optimized plans, not just
  * results.
  */
class SqlTableFnSpec extends SparkSpec {
  import spark.implicits._

  private def changeLog = Seq(
    (1L, 1L, "I", "a"), (1L, 3L, "U", "b"), (1L, 2L, "U", "zz"),
    (2L, 1L, "I", "c"), (2L, 2L, "D", ""),
    (3L, 5L, "I", "d")).toDF("k", "seq", "op", "payload")

  test("cdc_merge from SQL equals the API result") {
    changeLog.createOrReplaceTempView("chg_sql")
    val viaSql = spark.sql(
      "SELECT * FROM cdc_merge('chg_sql', 'k', 'seq', 'op', false)")
    val viaApi = Cdc.mergeLatest(changeLog, Seq("k"), "seq", "op")
    assert(viaSql.orderBy(col("k")).collect().toSeq ===
      viaApi.orderBy(col("k")).collect().toSeq)
    // last-wins + tombstone semantics hold through the SQL path
    val rows = viaSql.as[(Long, String, Long, String)]
      .collect().sortBy(_._1)
    assert(rows === Seq((1L, "b", 3L, "U"), (3L, "d", 5L, "I")))
  }

  test("cdc_merge plans identically to the API form") {
    changeLog.createOrReplaceTempView("chg_sql")
    val viaSql = spark.sql(
      "SELECT * FROM cdc_merge('chg_sql', 'k', 'seq', 'op', true)")
    val viaApi = Cdc.mergeLatest(spark.table("chg_sql"), Seq("k"),
      "seq", "op", keepTombstones = true)
    assert(viaSql.queryExecution.optimizedPlan.canonicalized ===
      viaApi.queryExecution.optimizedPlan.canonicalized,
      s"SQL plan:\n${viaSql.queryExecution.optimizedPlan}\n" +
        s"API plan:\n${viaApi.queryExecution.optimizedPlan}")
  }

  test("cdc_merge supports composite keys and keep_tombstones") {
    Seq((1L, "x", 1L, "I", 10L), (1L, "x", 2L, "D", 0L),
        (1L, "y", 1L, "I", 20L))
      .toDF("k1", "k2", "seq", "op", "v")
      .createOrReplaceTempView("chg2_sql")
    val rows = spark.sql(
      "SELECT * FROM cdc_merge('chg2_sql', 'k1, k2', 'seq', 'op', " +
        "true) ORDER BY k1, k2")
      .as[(Long, String, Long, Long, String)].collect()
    assert(rows === Seq((1L, "x", 0L, 2L, "D"), (1L, "y", 20L, 1L, "I")))
  }

  test("bfs_hops from SQL equals the API result") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("a", "b")
    val srcs = Seq(1L).toDF("id")
    edges.createOrReplaceTempView("bfs_edges_sql")
    srcs.createOrReplaceTempView("bfs_srcs_sql")
    val viaSql = spark.sql(
      "SELECT * FROM bfs_hops('bfs_edges_sql', 'a', 'b', " +
        "'bfs_srcs_sql', 'id', 10)")
      .as[(Long, Int)].collect().toMap
    val viaApi = Graph.bfsHops(edges, "a", "b", srcs, "id", 10)
      .as[(Long, Int)].collect().toMap
    assert(viaSql === viaApi)
    assert(viaSql === Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
  }

  test("bfs_hops composes with downstream SQL") {
    Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
      .createOrReplaceTempView("bfs_edges2_sql")
    Seq(1L).toDF("id").createOrReplaceTempView("bfs_srcs2_sql")
    val n = spark.sql(
      "SELECT hop, COUNT(*) AS n FROM bfs_hops('bfs_edges2_sql', " +
        "'a', 'b', 'bfs_srcs2_sql', 'id', 1) GROUP BY hop " +
        "ORDER BY hop")
      .as[(Int, Long)].collect()
    assert(n === Seq((0, 1L), (1, 1L)))
  }

  test("shortest_paths from SQL equals the API result") {
    val edges = Seq((1L, 3L, 100L), (1L, 2L, 1L), (2L, 3L, 1L))
      .toDF("a", "b", "w")
    val srcs = Seq(1L).toDF("id")
    edges.createOrReplaceTempView("sp_edges_sql")
    srcs.createOrReplaceTempView("sp_srcs_sql")
    val viaSql = spark.sql(
      "SELECT * FROM shortest_paths('sp_edges_sql', 'a', 'b', 'w', " +
        "'sp_srcs_sql', 'id', 4)")
      .as[(Long, Long)].collect().toMap
    val viaApi = Graph.boundedShortestPaths(edges, "a", "b", "w",
      srcs, "id", 4).as[(Long, Long)].collect().toMap
    assert(viaSql === viaApi)
    // the cheap 2-edge route beats the direct expensive edge
    assert(viaSql === Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("attribution_credits from SQL plans identically to the API form") {
    Seq((1L, 1L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"),
          "ad", 0.0),
        (1L, 2L, java.sql.Timestamp.valueOf("2024-01-01 00:10:00"),
          "purchase", 5.0))
      .toDF("user_id", "event_id", "ts", "event_type", "value")
      .createOrReplaceTempView("attr_events_sql")
    val viaSql = spark.sql(
      "SELECT * FROM attribution_credits('attr_events_sql', " +
        "'user_id', 'event_id', 'ts', 'event_type', 'value', " +
        "'purchase', 'ad, email', 1800000000)")
    val viaApi = graft.operators.Attribution.credits(
      spark.table("attr_events_sql"), "user_id", "event_id", "ts",
      "event_type", "value", "purchase", Seq("ad", "email"),
      1800000000L)
    assert(viaSql.queryExecution.optimizedPlan.canonicalized ===
      viaApi.queryExecution.optimizedPlan.canonicalized)
    val rows = viaSql
      .select(col("conv_id"), col("channel"), col("first_cents"))
      .as[(Long, String, Long)].collect().toSeq
    assert(rows === Seq((2L, "ad", 500L)))
  }

  test("sq8_search from SQL plans identically to the API form") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    emb.createOrReplaceTempView("sq8_corpus_sql")
    emb.filter(col("vec_id") < 3)
      .createOrReplaceTempView("sq8_queries_sql")
    val viaSql = spark.sql(
      "SELECT * FROM sq8_search('sq8_queries_sql', " +
        "'sq8_corpus_sql', 'vec_id', 'embedding', 10, 3)")
    val viaApi = graft.operators.Sq8.searchTopK(
      spark.table("sq8_queries_sql"), spark.table("sq8_corpus_sql"),
      "vec_id", "embedding", m = 10, k = 3)
    assert(viaSql.queryExecution.optimizedPlan.canonicalized ===
      viaApi.queryExecution.optimizedPlan.canonicalized)
    assert(viaSql.select(col("q_id"), col("rank"), col("n_id"))
      .collect().toSet ===
      viaApi.select(col("q_id"), col("rank"), col("n_id"))
        .collect().toSet)
  }

  test("k_core from SQL equals the API result") {
    // triangle + pendant chain: the 2-core is exactly the triangle
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("a", "b")
    edges.createOrReplaceTempView("kcore_edges_sql")
    val viaSql = spark.sql(
      "SELECT * FROM k_core('kcore_edges_sql', 'a', 'b', 2, 20)")
      .as[(Long, Long)].collect().toMap
    val viaApi = Graph.kCore(edges, "a", "b", 2, 20)
      .as[(Long, Long)].collect().toMap
    assert(viaSql === viaApi)
    assert(viaSql === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("label_propagation from SQL composes with downstream SQL") {
    Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L),
        (10L, 12L))
      .toDF("a", "b").createOrReplaceTempView("lpa_edges_sql")
    val n = spark.sql(
      "SELECT label, COUNT(*) AS n FROM label_propagation(" +
        "'lpa_edges_sql', 'a', 'b', 2) GROUP BY label ORDER BY label")
      .as[(Long, Long)].collect()
    assert(n === Seq((1L, 3L), (10L, 3L)))
  }

  test("non-literal table-function arguments are rejected with a clear message") {
    changeLog.createOrReplaceTempView("chg_sql")
    val err = intercept[Exception] {
      spark.sql(
        "SELECT * FROM cdc_merge(concat('chg', '_sql'), 'k', 'seq', " +
          "'op', rand() > 0.5)").collect()
    }
    assert(err.getMessage.contains("keep_tombstones"),
      s"unexpected error: ${err.getMessage}")
    // a column name must be a STRING literal, not any literal
    Seq((1L, 2L)).toDF("a", "b").createOrReplaceTempView("kc_typed_sql")
    val colErr = intercept[Exception] {
      spark.sql("SELECT * FROM k_core('kc_typed_sql', 1, 'b', 2, 3)")
        .collect()
    }
    assert(colErr.getMessage.contains("k_core: a_col must be a string"),
      s"unexpected error: ${colErr.getMessage}")
    // a numeric parameter takes any numeric literal, FLOAT included
    Seq(("a", 100L), ("b", 10000L)).toDF("src", "c")
      .createOrReplaceTempView("tq_float_sql")
    val quotas = spark.sql(
      "SELECT key, quota FROM temperature_quotas('tq_float_sql', 'src', " +
        "'c', 110, CAST(0.5 AS FLOAT))").as[(String, Long)].collect().toMap
    assert(quotas === Map("a" -> 10L, "b" -> 100L))
  }

  test("every registered SQL function rejects a wrong arity by name " +
      "and parameter list") {
    val fns = GraftExtensions.tableFunctions.map(f => (f, true)) ++
      GraftExtensions.scalarFunctions.map(f => (f, false))
    assert(fns.size === 28)
    fns.foreach { case (f, isTable) =>
      // one past the last parameter, or none at all for a variadic
      val n = if (f.maxArgs == Int.MaxValue) 0 else f.maxArgs + 1
      val args = Seq.fill(n)("1").mkString(", ")
      val sql =
        if (isTable) s"SELECT * FROM ${f.name}($args)"
        else s"SELECT ${f.name}($args)"
      val err = intercept[Exception](spark.sql(sql).collect())
      assert(err.getMessage.contains(s"${f.name} expects (${f.params})"),
        s"$sql: ${err.getMessage}")
    }
    assert(GraftExtensions.tableFunctions.find(_.name == "cdc_merge")
      .get.params === "log_view, key_cols_csv, seq_col, op_col, " +
        "keep_tombstones")
  }

  test("item_cooccur from SQL plans identically to the API form") {
    val baskets = Seq((1L, "A"), (1L, "B"), (2L, "A"), (2L, "B"),
      (3L, "A"), (3L, "C")).toDF("bk", "it")
    baskets.createOrReplaceTempView("baskets_sql")
    val viaSql = spark.sql(
      "SELECT * FROM item_cooccur('baskets_sql', 'bk', 'it', 2, 0)")
    val viaApi = graft.operators.Cooccur.itemSimilarity(
      spark.table("baskets_sql"), "bk", "it", 2, 0)
    assert(viaSql.queryExecution.optimizedPlan.canonicalized ===
      viaApi.queryExecution.optimizedPlan.canonicalized)
    val top = viaSql.filter(col("item") === "A" && col("rank") === 1)
      .select("neighbor").as[String].collect()
    assert(top === Array("B"))
  }

  test("hist_drift from SQL plans identically to the API form") {
    Seq((1.0, true), (3.0, true), (9.0, false))
      .toDF("v", "is_base").createOrReplaceTempView("drift_sql")
    val viaSql = spark.sql(
      "SELECT * FROM hist_drift('drift_sql', 'v', 'is_base', 4)")
    val viaApi = graft.operators.Drift.histDrift(
      spark.table("drift_sql"), col("v"), col("is_base"), 4)
    assert(viaSql.queryExecution.optimizedPlan.canonicalized ===
      viaApi.queryExecution.optimizedPlan.canonicalized)
    assert(viaSql.count() === 4)
  }

  test("chunk_tokens from SQL plans identically to the API form") {
    Seq((1L, (1 to 10).map("t" + _).mkString(" ")))
      .toDF("doc_id", "text").createOrReplaceTempView("chunk_sql")
    val viaSql = spark.sql(
      "SELECT * FROM chunk_tokens('chunk_sql', 'doc_id', 'text', 4, 2)")
    val viaApi = graft.operators.Corpus.chunkTokens(
      spark.table("chunk_sql"), "doc_id", "text", 4, 2)
    assert(viaSql.queryExecution.optimizedPlan.canonicalized ===
      viaApi.queryExecution.optimizedPlan.canonicalized)
    assert(viaSql.count() === 4)
  }

  test("personalized_pagerank from SQL equals the API result and " +
      "composes downstream") {
    Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
      .createOrReplaceTempView("ppr_edges_sql")
    Seq(1L).toDF("id").createOrReplaceTempView("ppr_srcs_sql")
    val viaSql = spark.sql(
      "SELECT * FROM personalized_pagerank('ppr_edges_sql', 'src', " +
        "'dst', 'ppr_srcs_sql', 'id', 1) ORDER BY id")
      .as[(Long, Long)].collect().toList
    assert(viaSql === List((1L, 875000L), (2L, 1700000L),
      (3L, 425000L)))
    val top = spark.sql(
      "SELECT id FROM personalized_pagerank('ppr_edges_sql', 'src', " +
        "'dst', 'ppr_srcs_sql', 'id', 1) ORDER BY r DESC LIMIT 1")
      .as[Long].collect()
    assert(top === Array(2L))
  }

  test("random_walks from SQL equals the API result") {
    Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("a", "b")
      .createOrReplaceTempView("rw_edges_sql")
    Seq(1L, 2L).toDF("v").createOrReplaceTempView("rw_starts_sql")
    val viaSql = spark.sql(
      "SELECT * FROM random_walks('rw_edges_sql', 'a', 'b', " +
        "'rw_starts_sql', 'v', 2, 3) ORDER BY start, walk, step")
      .as[(Long, Long, Int, Long)].collect().toList
    val viaApi = graft.operators.Graph.randomWalks(
        spark.table("rw_edges_sql"), "a", "b",
        spark.table("rw_starts_sql"), walksPerNode = 2, steps = 3)
      .orderBy("start", "walk", "step")
      .as[(Long, Long, Int, Long)].collect().toList
    assert(viaSql === viaApi)
    assert(viaSql.size === 2 * 2 * 4) // 2 starts × 2 walks × steps 0-3
  }

  test("modularity from SQL equals the API result") {
    Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("a", "b")
      .createOrReplaceTempView("mod_edges_sql")
    Seq((1L, 10L), (2L, 10L), (3L, 20L), (4L, 20L))
      .toDF("vid", "community")
      .createOrReplaceTempView("mod_labels_sql")
    val viaSql = spark.sql(
      "SELECT * FROM modularity('mod_edges_sql', 'a', 'b', " +
        "'mod_labels_sql', 'vid', 'community')")
    // modularity checkpoints its joined edge frame internally, so
    // two invocations scan distinct checkpointed RDDs — compare
    // results, not canonicalized plans
    val viaApi = graft.operators.Graph.modularity(
        spark.table("mod_edges_sql"), "a", "b",
        spark.table("mod_labels_sql")
          .select(col("vid").as("id"), col("community").as("label")))
      .orderBy("label")
      .as[(Long, Long, Long, Long, Double)].collect().toList
    assert(viaSql.orderBy("label")
      .as[(Long, Long, Long, Long, Double)].collect().toList ===
      viaApi)
    // ring 1-2-3-4 split {1,2}/{3,4}: each community has 1 internal
    // of 4 undirected edges (8 directed rows), deg_sum 4
    val r = viaSql.orderBy("label")
      .select("label", "n_members", "in_edges", "deg_sum")
      .as[(Long, Long, Long, Long)].collect().toList
    assert(r === List((10L, 2L, 2L, 4L), (20L, 2L, 2L, 4L)))
  }

  test("core_numbers from SQL equals the API result") {
    // triangle 1-2-3 plus pendant 4: cores 2,2,2,1
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("a", "b")
      .createOrReplaceTempView("cn_edges_sql")
    val viaSql = spark.sql(
      "SELECT * FROM core_numbers('cn_edges_sql', 'a', 'b', 4, 10) " +
        "ORDER BY id").as[(Long, Int)].collect().toList
    assert(viaSql === List((1L, 2), (2L, 2), (3L, 2), (4L, 1)))
  }

  test("closeness from SQL equals the API result and composes " +
      "downstream") {
    // path 1-2-3-4
    Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
      .createOrReplaceTempView("cl_edges_sql")
    val viaSql = spark.sql(
      "SELECT * FROM closeness('cl_edges_sql', 'a', 'b', 4, 3) " +
        "ORDER BY id")
      .as[(Long, Long, Long, Long)].collect().toList
    val viaApi = graft.operators.Graph.sampledCloseness(
        spark.table("cl_edges_sql"), "a", "b", pivots = 4,
        maxHops = 3)
      .orderBy("id").as[(Long, Long, Long, Long)].collect().toList
    assert(viaSql === viaApi)
    // middle vertices are closer: Σd(2) = 1+0+1+2 = 4 < Σd(1) = 6
    val best = spark.sql(
      "SELECT id FROM closeness('cl_edges_sql', 'a', 'b', 4, 3) " +
        "ORDER BY closeness_micro DESC, id LIMIT 1")
      .as[Long].collect()
    assert(best === Array(2L))
  }

  test("betweenness from SQL equals the API result and finds the " +
      "broker") {
    // path 1-2-3: vertex 2 brokers everything
    Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
      .createOrReplaceTempView("bet_edges_sql")
    val viaSql = spark.sql(
      "SELECT * FROM betweenness('bet_edges_sql', 'a', 'b', 3, 2) " +
        "ORDER BY id")
      .as[(Long, Long)].collect().toList
    val viaApi = graft.operators.Graph.sampledBetweenness(
        spark.table("bet_edges_sql"), "a", "b", pivots = 3,
        maxHops = 2)
      .orderBy("id").as[(Long, Long)].collect().toList
    assert(viaSql === viaApi)
    assert(viaSql === List((2L, 2000000L)))
  }

  test("match_recognize from SQL plans identically to the API form " +
      "and finds the contiguous runs") {
    Seq((1L, 1L, "view", 1L), (1L, 2L, "click", 2L),
      (1L, 3L, "click", 3L), (1L, 4L, "purchase", 4L),
      (1L, 5L, "view", 5L), (1L, 6L, "purchase", 6L),
      (2L, 1L, "view", 7L), (2L, 2L, "purchase", 8L))
      .toDF("user_id", "tsec", "event_type", "event_id")
      .select(col("user_id"),
        expr("timestamp_micros(tsec * 1000000)").as("ts"),
        col("event_type"), col("event_id"))
      .createOrReplaceTempView("mr_events_sql")
    val viaSql = spark.sql(
      "SELECT * FROM match_recognize('mr_events_sql', 'user_id', " +
        "'ts', 'event_id', 'event_type', 'view click+ purchase', " +
        "3600)")
    val viaApi = graft.operators.Journeys.matchRecognize(
      spark.table("mr_events_sql"), "user_id", "ts", "event_id",
      "event_type", "view click+ purchase", 3600L)
    assert(viaSql.queryExecution.optimizedPlan.canonicalized ===
      viaApi.queryExecution.optimizedPlan.canonicalized)
    assert(viaSql.orderBy("user_id", "session_id", "match_no")
      .as[(Long, Long, Long, String, Long)].collect().toList ===
      List((1L, 0L, 1L, "view>click>click>purchase", 4L)))
  }

  test("temperature_quotas from SQL plans identically to the API " +
      "form and quotas sum to n") {
    Seq(("a", 100L), ("b", 10000L)).toDF("src", "c")
      .createOrReplaceTempView("tq_counts_sql")
    val viaSql = spark.sql(
      "SELECT * FROM temperature_quotas('tq_counts_sql', 'src', " +
        "'c', 110, 0.5)")
    val viaApi = graft.operators.Splits.temperatureQuotas(
      spark.table("tq_counts_sql"), "src", "c", 110L, 0.5)
    assert(viaSql.queryExecution.optimizedPlan.canonicalized ===
      viaApi.queryExecution.optimizedPlan.canonicalized)
    val got = viaSql.select($"key", $"quota")
      .as[(String, Long)].collect().toMap
    assert(got === Map("a" -> 10L, "b" -> 100L))
  }

  test("bradley_terry from SQL returns the API result (iterative " +
      "fn: result equality, like the graph loops)") {
    Seq((1L, 2L, true), (1L, 2L, true), (1L, 2L, false),
        (2L, 3L, true), (2L, 3L, true), (1L, 3L, true),
        (3L, 1L, false), (2L, 1L, false))
      .toDF("a", "b", "wa").createOrReplaceTempView("bt_cmp_sql")
    val viaSql = spark.sql(
        "SELECT * FROM bradley_terry('bt_cmp_sql', 'a', 'b', 'wa', 2)")
      .as[(Long, Long, Long, Long)].collect().toSet
    val viaApi = graft.operators.Evals.bradleyTerry(
        graft.operators.Evals.orientedPairs(
          spark.table("bt_cmp_sql"), "a", "b", "wa"), 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(viaSql === viaApi)
    assert(viaSql.size === 3)
  }

  test("parallel_rank from SQL equals the API result and composes " +
      "with a WHERE over the rank") {
    val rows = (1L to 200L).map(i =>
      (if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c",
        i % 7, i))
    rows.toDF("grp", "score", "id")
      .createOrReplaceTempView("pr_sql")
    val viaSql = spark.sql(
        "SELECT * FROM parallel_rank('pr_sql', 'grp', 'score, id')")
      .as[(String, Long, Long, Long)].collect().toSet
    val viaApi = graft.operators.Ranks.parallelRank(
        spark.table("pr_sql"), Seq("grp"), Seq("score", "id"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(viaSql === viaApi)
    // rank semantics: dense 1..n per group, ordered by (score, id)
    val perGroup = viaSql.groupBy(_._1)
    perGroup.foreach { case (_, rs) =>
      assert(rs.map(_._4).toSeq.sorted === (1L to rs.size).toSeq)
      val byRank = rs.toSeq.sortBy(_._4).map(r => (r._2, r._3))
      assert(byRank === byRank.sorted)
    }
    // custom out column + composition: top-2 per group via WHERE
    val top2 = spark.sql(
        "SELECT grp, id FROM parallel_rank('pr_sql', 'grp', " +
          "'score, id', 'r') WHERE r <= 2 ORDER BY grp, id")
      .as[(String, Long)].collect()
    assert(top2.length === 6)
    assert(top2.map(_._1).toSeq === Seq("a", "a", "b", "b", "c", "c"))
  }
}
