package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import org.apache.spark.sql.functions.col

import graft.{Model, Qry, Tables}
import graft.operators.Ckpt

/** SQL front-end surface: the engine's tables exposed as views and
  * queried through `spark.sql`, proving the declarative path
  * (including the extension-registered `vec_dot`) end-to-end. The
  * oracle is the very same SQL minus Spark-isms — dialect parity.
  */
object SqlSurface {

  /** Star join + agg written purely in SQL, executed by Catalyst —
    * same plan class as the DataFrame twin (q12). */
  val q45 = Qry(
    "q45_sql_frontend",
    (s: SparkSession, d: String) => {
      Model.registerViews(s, d, "orders", "customer", "nation")
      s.sql(s"""
        SELECT n_name,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice, 2)
                 AS DECIMAL(27,2))) AS DOUBLE) AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE o_orderstatus = 'O'
        GROUP BY n_name
        ORDER BY n_name""")
    },
    Some("""
      SELECT n_name,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(ROUND(o_totalprice, 2)
               AS DECIMAL(27,2))) AS DOUBLE) AS revenue
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE o_orderstatus = 'O'
      GROUP BY n_name
      ORDER BY n_name"""))

  /** `vec_dot` through the SQL front-end: self-similarity norms —
    * the custom expression behind plain SQL, oracled by the
    * list_reduce fold. */
  val q46 = Qry(
    "q46_sql_vec_dot",
    (s: SparkSession, d: String) => {
      Model.registerViews(s, d, "embeddings")
      s.sql("""
        SELECT vec_id,
               ROUND(vec_dot(embedding, embedding), 6) AS norm_sq
        FROM embeddings
        WHERE vec_id < 50
        ORDER BY vec_id""")
    },
    Some("""
      SELECT vec_id,
             ROUND(list_reduce(list_prepend(0.0::DOUBLE,
                 list_transform(list_zip(embedding, embedding),
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))),
               (acc, x) -> acc + x), 6) AS norm_sq
      FROM embeddings WHERE vec_id < 50
      ORDER BY vec_id"""))

  /** Recursive CTE — new in Spark 4: BOTH engines run a native
    * WITH RECURSIVE (no iterative-DataFrame emulation on the Spark
    * side). The hierarchy is derived deterministically from the data
    * (parent(k) = k div 10 — a forest over custkeys, depth ≤ ~5);
    * the walk climbs each customer to the root and aggregates per
    * depth. Only dialect difference: integer division (DIV vs //). */
  val q73 = Qry(
    "q73_recursive_cte",
    (s: SparkSession, d: String) => {
      Model.registerViews(s, d, "customer")
      s.sql("""
        WITH RECURSIVE up(id, cur, depth) AS (
          SELECT c_custkey, c_custkey, 0 FROM customer
          UNION ALL
          SELECT id, cur DIV 10, depth + 1 FROM up WHERE cur > 0)
        SELECT depth, COUNT(*) AS n,
               CAST(SUM(id) AS BIGINT) AS id_sum,
               MIN(cur) AS min_cur, MAX(cur) AS max_cur
        FROM up GROUP BY depth ORDER BY depth""")
    },
    Some("""
      WITH RECURSIVE up(id, cur, depth) AS (
        SELECT c_custkey, c_custkey, 0 FROM customer
        UNION ALL
        SELECT id, cur // 10, depth + 1 FROM up WHERE cur > 0)
      SELECT depth, COUNT(*) AS n,
             CAST(SUM(id) AS BIGINT) AS id_sum,
             MIN(cur) AS min_cur, MAX(cur) AS max_cur
      FROM up GROUP BY depth ORDER BY depth"""))

  /** Correlated LATERAL join — per-outer-row dependent subquery with
    * ORDER BY + LIMIT (top-2 suppliers per nation), the SQL-standard
    * form of per-group top-k. Catalyst decorrelates the lateral
    * subquery into a window-ranked join (DecorrelateInnerQuery), so
    * the executed plan is the same scale-safe shape as q07's
    * explicit window top-k — no nested-loop per-row re-execution.
    * Both engines run the identical statement. */
  val q110 = Qry(
    "q110_lateral_topk",
    (s: SparkSession, d: String) => {
      Model.registerViews(s, d, "nation", "supplier")
      s.sql("""
        SELECT n_name, s_name, s_acctbal
        FROM nation,
        LATERAL (SELECT s_name, s_acctbal FROM supplier
                 WHERE s_nationkey = n_nationkey
                 ORDER BY s_acctbal DESC, s_name LIMIT 2)
        ORDER BY n_name, s_name""")
    },
    Some("""
      SELECT n_name, s_name, s_acctbal
      FROM nation,
      LATERAL (SELECT s_name, s_acctbal FROM supplier
               WHERE s_nationkey = n_nationkey
               ORDER BY s_acctbal DESC, s_name LIMIT 2)
      ORDER BY n_name, s_name"""))

  /** q207 — materialized-view answering ([[graft.plans.MvRewrite]],
    * injected via SparkSessionExtensions): a summary table keyed by
    * (returnflag, linestatus) with decimal-exact partial sums and a
    * count is registered as the MV of `lineitem`; the user query — a
    * ROLL-UP to returnflag alone, with a dim filter — is then
    * rewritten by the optimizer to aggregate the summary instead of
    * re-scanning the fact table (MvRewriteSpec pins the plan shape:
    * no lineitem file scan remains, the scan is the checkpointed
    * summary RDD). Decimal addition is associative, so
    * sum-of-partial-sums is bit-identical to the direct sum and the
    * oracle simply runs the direct aggregate.
    *
    * Scale shape: THE summary-table pattern — the 100 TB fact scan
    * is paid once at MV build; every conforming rollup after that
    * reads O(|dims|) rows. Count rolls up as SUM(cnt), sums as
    * SUM(partial), both exact. */
  val q207 = Qry(
    "q207_mv_rewrite",
    (s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      import graft.{Tables => T}
      val li = T.lineitem(s, d)
      val revenue = round(col("l_extendedprice") *
        (lit(1) - col("l_discount")), 4).cast("decimal(18,4)")
      val qty = round(col("l_quantity"), 2).cast("decimal(18,2)")
      val summary = li
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(revenue).as("sum_rev"), sum(qty).as("sum_qty"),
          count(lit(1)).as("cnt"))
        .transform(Ckpt.cut)
      graft.plans.MvRegistry.register(
        base = li,
        dims = Map("l_returnflag" -> "l_returnflag",
          "l_linestatus" -> "l_linestatus"),
        sums = Seq(revenue -> "sum_rev", qty -> "sum_qty"),
        cnt = Some("cnt"),
        summary = summary)
      // eager: the rewrite fires HERE (against the registered MV);
      // the registry is then cleared so no later query in the same
      // session can match it — the rewrite would still be correct by
      // the soundness contract, but a query's plan must never depend
      // on which queries ran before it
      val res = li.filter(col("l_returnflag") =!= "N")
        .groupBy(col("l_returnflag"))
        .agg(Q.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")),
            4).as("revenue"),
          Q.dsum(col("l_quantity"), 2).as("sum_qty"),
          count(lit(1)).as("n_items"))
        .transform(Ckpt.cut)
      graft.plans.MvRegistry.clear()
      res.orderBy(col("l_returnflag"))
    },
    Some(s"""
      SELECT l_returnflag,
             ${Q.dsumSql("l_extendedprice * (1 - l_discount)", 4)}
               AS revenue,
             ${Q.dsumSql("l_quantity", 2)} AS sum_qty,
             CAST(COUNT(*) AS BIGINT) AS n_items
      FROM lineitem WHERE l_returnflag <> 'N'
      GROUP BY 1 ORDER BY l_returnflag"""))

  /** q237 — recursive CTE (`WITH RECURSIVE`, Spark 4's UnionLoop):
    * min-hop BFS over the co-purchase part graph from a sparse seed
    * set, 3 hops, written as the declarative iteration a SQL user
    * types. Spark's recursive CTE supports UNION ALL only, so the
    * level algebra is made explicit: each iteration joins ONLY the
    * previous level (UnionLoopRef semantics), `SELECT DISTINCT`
    * bounds every level to at most |V| rows (never path-explosion),
    * and the final MIN(hop) GROUP BY collapses re-discoveries —
    * exactly the frontier-BFS recurrence, which DuckDB replays with
    * the identical UNION ALL form. Total loop output is bounded by
    * levels·|V| (≪ the 100-level / row-limit guards). The edge
    * frame is materialized ONCE (localCheckpoint behind a view) —
    * UnionLoop re-executes its body every iteration, and without
    * the checkpoint each level would rebuild the distinct
    * self-join. The at-scale form of this computation is
    * [[graft.operators.Graph.bfsHops]] (checkpointed frontier
    * kernel, q117) — the CTE is the SQL front-end over the same
    * semantics, new surface Spark gained in 4.x. */
  val q237 = Qry(
    "q237_recursive_cte",
    (s: SparkSession, d: String) => {
      Model.registerViews(s, d, "lineitem", "part")
      // r16: REVERTED to the declarative self-join (the r15
      // collect_set+pair-explode rewrite measured slower at BOTH
      // probed scales — sf0.1 13.8-17.0 s vs 7.1-8.5 s, sf1 min 11.3
      // vs 8.2 s, ProbeRevert same-JVM A/B: the itemset aggregate
      // serializes whole baskets through collect_set while the
      // self-join's pair blowup partial-distincts map-side).
      s.sql("""
          SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey <> b.l_partkey""")
        .transform(Ckpt.cut)
        .createOrReplaceTempView("q237_edges")
      s.sql(s"""
        WITH RECURSIVE reach(id, hop) AS (
          SELECT p_partkey AS id, 0 AS hop
          FROM part WHERE p_partkey % 199 = 3
          UNION ALL
          SELECT DISTINCT e.dst AS id, r.hop + 1 AS hop
          FROM reach r JOIN q237_edges e ON e.src = r.id
          WHERE r.hop < 3)
        SELECT id, MIN(hop) AS hop
        FROM reach GROUP BY id ORDER BY id""")
    },
    Some("""
      WITH RECURSIVE edges AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey <> b.l_partkey),
      reach(id, hop) AS (
        SELECT p_partkey AS id, 0 AS hop
        FROM part WHERE p_partkey % 199 = 3
        UNION ALL
        SELECT DISTINCT e.dst AS id, r.hop + 1 AS hop
        FROM reach r JOIN edges e ON e.src = r.id
        WHERE r.hop < 3)
      SELECT id, MIN(hop) AS hop
      FROM reach GROUP BY id ORDER BY id"""))

  /** q248 — SQL-defined functions (Spark 4 `CREATE FUNCTION ...
    * RETURN`): a scalar SQL UDF (account tier) and a TABLE SQL UDF
    * (parameterized order subset) declared in pure SQL and composed
    * in one query — the warehouse-user extension path that needs no
    * JVM code. Both bodies are inlined by the analyzer into the
    * plan (they stay codegen'd expressions/subqueries, never
    * black-box UDF calls), so the oracle simply inlines them
    * textually. */
  val q248 = Qry(
    "q248_sql_udfs",
    (s: SparkSession, d: String) => {
      Model.registerViews(s, d, "orders", "customer")
      s.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION acct_tier(b DOUBLE)
        RETURNS STRING
        RETURN CASE WHEN b > 5000.0 THEN 'high'
                    WHEN b > 0.0 THEN 'mid' ELSE 'low' END""")
      s.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION big_orders(lim DOUBLE)
        RETURNS TABLE(o_custkey BIGINT, o_totalprice DOUBLE)
        RETURN SELECT o_custkey, o_totalprice
               FROM orders WHERE o_totalprice > lim""")
      s.sql("""
        SELECT acct_tier(c_acctbal) AS tier,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice, 2)
                 AS DECIMAL(27,2))) AS DOUBLE) AS revenue
        FROM big_orders(150000.0) b
        JOIN customer ON b.o_custkey = c_custkey
        GROUP BY 1 ORDER BY 1""")
    },
    Some("""
      SELECT CASE WHEN c_acctbal > 5000.0 THEN 'high'
                  WHEN c_acctbal > 0.0 THEN 'mid'
                  ELSE 'low' END AS tier,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(ROUND(o_totalprice, 2)
               AS DECIMAL(27,2))) AS DOUBLE) AS revenue
      FROM (SELECT o_custkey, o_totalprice FROM orders
            WHERE o_totalprice > 150000.0) b
      JOIN customer ON b.o_custkey = c_custkey
      GROUP BY 1 ORDER BY 1"""))

  private val ttRun = new java.util.concurrent.atomic.AtomicInteger()

  /** Seal a fresh-catalog query's tiny result: eagerly collect the
    * aggregate (both queries are driver-bounded by design — ≤20-row
    * tables, ≤3-row results), then unset the two session catalog
    * confs and recursively delete the temp dir BEFORE returning, so
    * a long bench session (warmup + reps + the plan-digest pass all
    * invoke fn) accumulates neither conf entries nor disk. The
    * session's CatalogManager still caches one tiny unreachable
    * instance per invocation — unavoidable (no public eviction API)
    * and a few hundred bytes each; the confs/disk were the leak. */
  private def sealFreshCatalog(s: SparkSession, cat: String,
      dir: String)(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val rows = df.collectAsList()
    val schema = df.schema
    s.conf.unset(s"spark.sql.catalog.$cat")
    s.conf.unset(s"spark.sql.catalog.$cat.path")
    val root = java.nio.file.Paths.get(dir)
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(root).sorted(
        java.util.Comparator.reverseOrder())
      .iterator().asScala
      .foreach(p => java.nio.file.Files.deleteIfExists(p))
    s.createDataFrame(rows, schema)
  }

  /** q256 — ANSI time travel over the persisted v2 catalog
    * ([[graft.sources.GraftCatalog]]): a table is committed twice
    * (version 0 = parts with p_partkey ≤ 10; version 1 appends
    * 11..20), then BOTH versions read back via `VERSION AS OF` and
    * digested per version. The oracle recomputes each version's
    * expected contents straight from the `part` parquet, so a
    * retire/swap/pointer bug that loses or duplicates rows in the
    * retained snapshot chain breaks the hash cross-engine, not just
    * a spec. Every invocation uses a FRESH catalog name + tmp dir
    * (session caches catalog instances by name, so a reused name
    * would pin the first run's path — and the registry contract is
    * repeatable under bench reps). Driver-bounded by design: the
    * catalog is the DML planning surface (20 rows here); the
    * unbounded-scale snapshot/time-travel path stays parquet +
    * [[graft.operators.Cdc]] (q162/q175). */
  val q256 = Qry(
    "q256_time_travel",
    (s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      val cat = s"g256c${ttRun.incrementAndGet()}"
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-$cat").toString
      s.conf.set(s"spark.sql.catalog.$cat",
        "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.path", dir)
      s.sql(s"CREATE TABLE $cat.tt (k BIGINT, name STRING)")
      s.sql(s"INSERT INTO $cat.tt SELECT p_partkey, p_name " +
        s"FROM parquet.`$d/part.parquet` WHERE p_partkey <= 10")
      s.sql(s"INSERT INTO $cat.tt SELECT p_partkey, p_name " +
        s"FROM parquet.`$d/part.parquet` " +
        s"WHERE p_partkey > 10 AND p_partkey <= 20")
      val v0 = s.sql(s"SELECT * FROM $cat.tt VERSION AS OF 0")
        .withColumn("version", lit(0L))
      val v1 = s.sql(s"SELECT * FROM $cat.tt VERSION AS OF 1")
        .withColumn("version", lit(1L))
      sealFreshCatalog(s, cat, dir)(
        v0.unionByName(v1)
          .groupBy(col("version"))
          .agg(count(lit(1)).as("n"),
            sum(col("k")).as("sum_k"),
            sum(length(col("name")).cast("long")).as("sum_len"))
          .orderBy(col("version")))
    },
    Some("""
      SELECT CAST(0 AS BIGINT) AS version, COUNT(*) AS n,
             CAST(SUM(p_partkey) AS BIGINT) AS sum_k,
             CAST(SUM(length(p_name)) AS BIGINT) AS sum_len
      FROM part WHERE p_partkey <= 10
      UNION ALL
      SELECT CAST(1 AS BIGINT), COUNT(*),
             CAST(SUM(p_partkey) AS BIGINT),
             CAST(SUM(length(p_name)) AS BIGINT)
      FROM part WHERE p_partkey <= 20
      ORDER BY version"""))

  /** q257 — change feed between two catalog versions
    * ([[graft.sources.GraftCatalog.tableChanges]] =
    * time travel × [[graft.operators.Cdc.snapshotDiff]], Delta's
    * `table_changes` analogue): version 0 holds parts 1..15, an
    * INSERT OVERWRITE makes version 1 = parts 6..20 with names
    * upper-cased for keys ≤ 10. The v0→v1 feed must therefore read
    * exactly: deletes 1..5, updates 6..10 (postimage, upper-cased),
    * inserts 16..20 — keys 11..15 are untouched and MUST emit
    * nothing. The oracle recomputes all three classes straight from
    * the part parquet, so a miscounted side, a lost postimage, or a
    * spurious no-change row breaks the hash. Same fresh-catalog-per-
    * invocation contract as q256. */
  val q257 = Qry(
    "q257_table_changes",
    (s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      val cat = s"g257c${ttRun.incrementAndGet()}"
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-$cat").toString
      s.conf.set(s"spark.sql.catalog.$cat",
        "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.path", dir)
      s.sql(s"CREATE TABLE $cat.tc (k BIGINT, name STRING)")
      s.sql(s"INSERT INTO $cat.tc SELECT p_partkey, p_name " +
        s"FROM parquet.`$d/part.parquet` WHERE p_partkey <= 15")
      s.sql(s"INSERT OVERWRITE $cat.tc SELECT p_partkey, " +
        s"CASE WHEN p_partkey <= 10 THEN upper(p_name) ELSE p_name " +
        s"END FROM parquet.`$d/part.parquet` " +
        s"WHERE p_partkey > 5 AND p_partkey <= 20")
      sealFreshCatalog(s, cat, dir)(
        graft.sources.GraftCatalog
          .tableChanges(s, cat, "tc", Seq("k"), 0L, 1L)
          .groupBy(col("_change_type"))
          .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
            sum(length(col("name")).cast("long")).as("sum_len"),
            // first-char code sum: upper() changes it, length
            // doesn't — pins that updates carry the POSTIMAGE, not
            // the old row
            sum(ascii(col("name")).cast("long")).as("sum_c0"))
          .orderBy(col("_change_type")))
    },
    Some("""
      SELECT 'delete' AS _change_type, COUNT(*) AS n,
             CAST(SUM(p_partkey) AS BIGINT) AS sum_k,
             CAST(SUM(length(p_name)) AS BIGINT) AS sum_len,
             CAST(SUM(ascii(p_name)) AS BIGINT) AS sum_c0
      FROM part WHERE p_partkey <= 5
      UNION ALL
      SELECT 'insert', COUNT(*), CAST(SUM(p_partkey) AS BIGINT),
             CAST(SUM(length(p_name)) AS BIGINT),
             CAST(SUM(ascii(p_name)) AS BIGINT)
      FROM part WHERE p_partkey > 15 AND p_partkey <= 20
      UNION ALL
      SELECT 'update', COUNT(*), CAST(SUM(p_partkey) AS BIGINT),
             CAST(SUM(length(upper(p_name))) AS BIGINT),
             CAST(SUM(ascii(upper(p_name))) AS BIGINT)
      FROM part WHERE p_partkey > 5 AND p_partkey <= 10
      ORDER BY _change_type"""))

  val all: Seq[Qry] =
    Seq(q45, q46, q73, q110, q207, q237, q248, q256, q257)
}
