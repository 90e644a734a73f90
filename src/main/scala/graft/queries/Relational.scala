package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Qry, Tables}
import graft.functions.Exact
import Q._

/** Core relational surface (SURVEY.md §2.B G1, G5-G10): scan/filter/
  * project with pushdown, hash aggregation, rollup/cube, window
  * functions, sort/limit/top-k, set operations, scalar functions.
  *
  * Generalizes the reference's single fused loop (filters `task.ts:195,
  * 204-212`, projections `task.ts:213-307`, dedup-agg `task.ts:191,312`)
  * to a full declarative surface. All plans are Catalyst-optimized:
  * filters/projections reach the parquet scan, aggregates are
  * partial+final (map-side combine), windows shuffle once on their
  * partition keys. At 100 TB each query scales by shuffle partitioning
  * alone — no driver-side state.
  */
object Relational {

  /** TPC-H Q1-shaped pricing summary: full-scan agg with map-side
    * partial aggregation; 6-group output. The projected agg inputs
    * are [[Tables.fanOut]]-spread first: the decimal-exact partial
    * aggregation is the CPU cost here, and a narrow local scan would
    * otherwise run it on one core (identity at scale — see fanOut). */
  val q01 = Qry(
    "q01_pricing_summary",
    (s: SparkSession, d: String) => {
      Tables.fanOut(Tables.lineitem(s, d)
          .filter(col("l_shipdate") <= lit("1999-12-01"))
          .select(col("l_returnflag"), col("l_linestatus"),
            col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity"), 2).as("sum_qty"),
          dsum(col("l_extendedprice"), 2).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            .as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * (lit(1) + col("l_tax")), 6).as("sum_charge"),
          round(davg(col("l_quantity"), 2), 6).as("avg_qty"),
          round(davg(col("l_extendedprice"), 2), 6).as("avg_price"),
          round(davg(col("l_discount"), 2), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some(s"""
      SELECT l_returnflag, l_linestatus,
             ${dsumSql("l_quantity", 2)} AS sum_qty,
             ${dsumSql("l_extendedprice", 2)} AS sum_base_price,
             ${dsumSql("l_extendedprice * (1 - l_discount)", 4)} AS sum_disc_price,
             ${dsumSql("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 6)} AS sum_charge,
             ROUND(${davgSql("l_quantity", 2)}, 6) AS avg_qty,
             ROUND(${davgSql("l_extendedprice", 2)}, 6) AS avg_price,
             ROUND(${davgSql("l_discount", 2)}, 6) AS avg_disc,
             COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1999-12-01'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))

  /** Selective scan+filter+project — verifies predicate pushdown and
    * column pruning reach the parquet reader (G1). */
  val q02 = Qry(
    "q02_scan_filter",
    (s: SparkSession, d: String) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-03-01") &&
          col("l_shipdate") < lit("1997-04-01") &&
          col("l_discount") >= 0.07 && col("l_quantity") > 40)
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          round(col("l_extendedprice") * col("l_discount"), 4).as("disc_amt"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_day"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
    Some("""
      SELECT l_orderkey, l_linenumber, l_quantity,
             ROUND(l_extendedprice * l_discount, 4) AS disc_amt,
             STRFTIME(l_shipdate, '%Y-%m-%d') AS ship_day
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-03-01'
        AND l_shipdate < TIMESTAMP '1997-04-01'
        AND l_discount >= 0.07 AND l_quantity > 40
      ORDER BY l_orderkey, l_linenumber"""))

  /** DISTINCT — shuffle-dedup (G5). */
  val q03 = Qry(
    "q03_distinct",
    (s: SparkSession, d: String) =>
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus")),
    Some("""
      SELECT DISTINCT l_returnflag, l_linestatus
      FROM lineitem ORDER BY l_returnflag, l_linestatus"""))

  /** Grouped stats incl. COUNT(DISTINCT) — two-phase distinct-agg. */
  val q04 = Qry(
    "q04_group_stats",
    (s: SparkSession, d: String) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_custs"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"),
          date_format(min(col("o_orderdate")), "yyyy-MM-dd").as("first_day"),
          date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("last_day"))
        .orderBy(col("o_orderstatus")),
    Some("""
      SELECT o_orderstatus,
             COUNT(*) AS n_orders,
             COUNT(DISTINCT o_custkey) AS n_custs,
             MIN(o_totalprice) AS min_price,
             MAX(o_totalprice) AS max_price,
             STRFTIME(MIN(o_orderdate), '%Y-%m-%d') AS first_day,
             STRFTIME(MAX(o_orderdate), '%Y-%m-%d') AS last_day
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** ROLLUP hierarchy totals (G6); grouping nulls coalesced to 'ALL'
    * so sort-key null ordering never differs across engines. */
  val q05 = Qry(
    "q05_rollup",
    (s: SparkSession, d: String) =>
      Tables.fanOut(Tables.lineitem(s, d)
          .select(col("l_returnflag"), col("l_linestatus"),
            col("l_quantity")))
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity"), 2).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"), col("sum_qty"))
        .orderBy(col("returnflag"), col("linestatus")),
    Some(s"""
      SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
             COALESCE(l_linestatus, 'ALL') AS linestatus,
             COUNT(*) AS n,
             ${dsumSql("l_quantity", 2)} AS sum_qty
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY returnflag, linestatus"""))

  /** CUBE — all grouping-set combinations (G6). */
  val q06 = Qry(
    "q06_cube",
    (s: SparkSession, d: String) =>
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), 2).as("sum_price"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("sum_price"))
        .orderBy(col("status"), col("priority")),
    Some(s"""
      SELECT COALESCE(o_orderstatus, 'ALL') AS status,
             COALESCE(o_orderpriority, 'ALL') AS priority,
             COUNT(*) AS n,
             ${dsumSql("o_totalprice", 2)} AS sum_price
      FROM orders
      GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY status, priority"""))

  /** Top-k per group via row_number window (G7+G8) — the scalable
    * form of the reference's keyed last-wins dedup (task.ts:312). */
  val q07 = Qry(
    "q07_window_topk",
    (s: SparkSession, d: String) => {
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_orderstatus"), col("rn"), col("o_orderkey"),
          col("o_totalprice"))
        .orderBy(col("o_orderstatus"), col("rn"))
    },
    Some("""
      SELECT o_orderstatus, rn, o_orderkey, o_totalprice
      FROM (SELECT o_orderstatus, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                     ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders) t
      WHERE rn <= 3 ORDER BY o_orderstatus, rn"""))

  /** Running aggregates + lag/lead over an ordered per-key frame (G7).
    * Running sums accumulate in DECIMAL so both engines are exact. */
  val q08 = Qry(
    "q08_window_running",
    (s: SparkSession, d: String) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d)
        .filter(col("o_custkey") < 50)
        .select(
          col("o_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_day"),
          col("o_totalprice"),
          row_number().over(w).as("seq"),
          Exact.sum(col("o_totalprice"), 2, w).as("run_spend"),
          coalesce(lag(col("o_totalprice"), 1).over(w), lit(-1d))
            .as("prev_price"))
        .orderBy(col("o_custkey"), col("seq"))
    },
    Some("""
      SELECT o_custkey, o_orderkey,
             STRFTIME(o_orderdate, '%Y-%m-%d') AS order_day,
             o_totalprice,
             ROW_NUMBER() OVER w AS seq,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
               AS run_spend,
             COALESCE(LAG(o_totalprice, 1) OVER w, -1) AS prev_price
      FROM orders
      WHERE o_custkey < 50
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      ORDER BY o_custkey, seq"""))

  /** Global top-k: TakeOrderedAndProject, no full sort at scale (G8). */
  val q09 = Qry(
    "q09_global_topk",
    (s: SparkSession, d: String) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_day"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(15),
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice,
             STRFTIME(o_orderdate, '%Y-%m-%d') AS order_day
      FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 15"""))

  /** Set operations: UNION / INTERSECT / EXCEPT, distinct semantics
    * in both engines (G9). */
  val q10 = Qry(
    "q10_setops",
    (s: SparkSession, d: String) => {
      val c = Tables.customer(s, d)
      val furn = c.filter(col("c_mktsegment") === "FURNITURE")
        .select(col("c_custkey"))
      val rich = c.filter(col("c_acctbal") > 7000).select(col("c_custkey"))
      val both = furn.intersect(rich).withColumn("tag", lit("both"))
      val only = furn.except(rich).withColumn("tag", lit("furniture_only"))
      both.union(only).orderBy(col("tag"), col("c_custkey"))
    },
    Some("""
      WITH furn AS (SELECT c_custkey FROM customer
                    WHERE c_mktsegment = 'FURNITURE'),
           rich AS (SELECT c_custkey FROM customer WHERE c_acctbal > 7000)
      SELECT c_custkey, 'both' AS tag
        FROM (SELECT * FROM furn INTERSECT SELECT * FROM rich)
      UNION ALL
      SELECT c_custkey, 'furniture_only' AS tag
        FROM (SELECT * FROM furn EXCEPT SELECT * FROM rich)
      ORDER BY tag, c_custkey"""))

  /** Scalar-function library sweep (G10): string, date, math,
    * conditional — all codegen'd built-ins, no UDFs. */
  val q11 = Qry(
    "q11_scalar_funcs",
    (s: SparkSession, d: String) =>
      Tables.customer(s, d)
        .filter(col("c_custkey") < 200)
        .select(
          col("c_custkey"),
          upper(col("c_mktsegment")).as("seg_upper"),
          length(col("c_name")).as("name_len"),
          regexp_extract(col("c_name"), "(\\d+)$", 1).cast("long")
            .as("name_num"),
          substring(col("c_name"), 1, 8).as("name_prefix"),
          concat_ws("|", col("c_mktsegment"), col("c_custkey")).as("joined"),
          format_string("%.2f", col("c_acctbal")).as("bal_fmt"),
          round(abs(col("c_acctbal")), 2).as("bal_abs"),
          ceil(col("c_acctbal")).cast("long").as("bal_ceil"),
          floor(col("c_acctbal")).cast("long").as("bal_floor"),
          round(sqrt(abs(col("c_acctbal"))), 6).as("bal_sqrt"),
          when(col("c_acctbal") < 0, "overdrawn")
            .when(col("c_acctbal") < 5000, "normal")
            .otherwise("premium").as("bal_class"),
          coalesce(nullif(col("c_mktsegment"), lit("MACHINERY")),
            lit("(machinery)")).as("seg_nullif"))
        .orderBy(col("c_custkey")),
    Some("""
      SELECT c_custkey,
             UPPER(c_mktsegment) AS seg_upper,
             LENGTH(c_name) AS name_len,
             CAST(REGEXP_EXTRACT(c_name, '(\d+)$', 1) AS BIGINT) AS name_num,
             SUBSTRING(c_name, 1, 8) AS name_prefix,
             CONCAT_WS('|', c_mktsegment, c_custkey) AS joined,
             PRINTF('%.2f', c_acctbal) AS bal_fmt,
             ROUND(ABS(c_acctbal), 2) AS bal_abs,
             CAST(CEIL(c_acctbal) AS BIGINT) AS bal_ceil,
             CAST(FLOOR(c_acctbal) AS BIGINT) AS bal_floor,
             ROUND(SQRT(ABS(c_acctbal)), 6) AS bal_sqrt,
             CASE WHEN c_acctbal < 0 THEN 'overdrawn'
                  WHEN c_acctbal < 5000 THEN 'normal'
                  ELSE 'premium' END AS bal_class,
             COALESCE(NULLIF(c_mktsegment, 'MACHINERY'), '(machinery)')
               AS seg_nullif
      FROM customer WHERE c_custkey < 200 ORDER BY c_custkey"""))

  /** Parquet aggregate pushdown (q129): global MIN/MAX/COUNT answered
    * from parquet FOOTER STATISTICS — the scan returns one
    * pre-aggregated row per row group instead of streaming rows, so
    * the query costs metadata reads at any scale (the "how many rows,
    * what's the value range" catalog probe on a 100 TB table). Runs
    * in an isolated `newSession` with
    * `spark.sql.parquet.aggregatePushdown` on, directly against the
    * raw store (any intervening operator disqualifies the rewrite —
    * that contract is exactly what the plan lock pins via
    * `PushedAggregation`). Values are identical to the row-streaming
    * plan, which is what the oracle checks. */
  val q129 = Qry(
    "q129_agg_pushdown",
    (s: SparkSession, d: String) => {
      val ns = s.newSession()
      ns.conf.set("spark.sql.parquet.aggregatePushdown", "true")
      // pushdown is a DataSource V2 capability; parquet defaults to
      // the V1 read path
      ns.conf.set("spark.sql.sources.useV1SourceList", "")
      ns.read.parquet(s"$d/lineitem.parquet")
        .agg(expr("count(*)").as("n_rows"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"))
    },
    Some("""
      SELECT COUNT(*) AS n_rows,
             MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
             MIN(l_extendedprice) AS min_price,
             MAX(l_extendedprice) AS max_price
      FROM lineitem"""))

  /** Shared star join for q228/q229: revenue cents by
    * (nation, order priority) — dims broadcast, fact aggregated
    * once. */
  private def nationPriorityCents(s: SparkSession, d: String) =
    Tables.lineitem(s, d)
      .select(col("l_orderkey"),
        floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long")
          .as("cents"))
      .join(Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderpriority").as("pri")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("pri"), col("cents"))

  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val PriCols = Seq("p_urgent", "p_high", "p_medium",
    "p_notspec", "p_low")

  /** q228 — relational PIVOT (G6 completion): revenue cents by
    * nation, order priorities rotated into columns — the
    * crosstab/report shape every warehouse user types. The value
    * list is EXPLICIT (`pivot(col, values)`), the scale-correct
    * form: an implicit pivot runs a distinct-values collect first
    * and bakes an unbounded column count into the plan; explicit
    * values keep the plan static and the pivot a single
    * partial-aggregable pass (Spark compiles it to one aggregate
    * with `pivotfirst`, not five). Missing cells coalesce to 0
    * cents both sides. */
  val q228 = Qry(
    "q228_pivot",
    (s: SparkSession, d: String) =>
      nationPriorityCents(s, d)
        .groupBy(col("n_name"))
        .pivot("pri", Priorities)
        .agg(sum(col("cents")))
        .select(col("n_name") +:
          Priorities.zip(PriCols).map { case (v, n) =>
            coalesce(expr(s"`$v`"), lit(0L)).as(n) }: _*)
        .orderBy(col("n_name")),
    Some("""
      WITH rev AS (
        SELECT n_name, o_orderpriority AS pri,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                 AS cents
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey)
      SELECT n_name,
             CAST(COALESCE(SUM(cents) FILTER (WHERE pri = '1-URGENT'),
               0) AS BIGINT) AS p_urgent,
             CAST(COALESCE(SUM(cents) FILTER (WHERE pri = '2-HIGH'),
               0) AS BIGINT) AS p_high,
             CAST(COALESCE(SUM(cents) FILTER (WHERE pri = '3-MEDIUM'),
               0) AS BIGINT) AS p_medium,
             CAST(COALESCE(SUM(cents) FILTER (
               WHERE pri = '4-NOT SPECIFIED'), 0) AS BIGINT)
               AS p_notspec,
             CAST(COALESCE(SUM(cents) FILTER (WHERE pri = '5-LOW'),
               0) AS BIGINT) AS p_low
      FROM rev GROUP BY n_name ORDER BY n_name"""))

  /** q229 — UNPIVOT round-trip (stack): q228's wide crosstab folded
    * back to long form with the `stack` generator, which must equal
    * the direct GROUP BY — the oracle IS the direct aggregate, so
    * the pivot→unpivot composition is gated against first
    * principles, not against itself. NULL cells (no rows for the
    * combination) are dropped on unpivot, matching the direct
    * aggregate's absent groups; `stack` is a map-side generator —
    * no extra shuffle beyond the pivot's own. */
  val q229 = Qry(
    "q229_unpivot",
    (s: SparkSession, d: String) =>
      nationPriorityCents(s, d)
        .groupBy(col("n_name"))
        .pivot("pri", Priorities)
        .agg(sum(col("cents")))
        .selectExpr("n_name",
          "stack(5, " + Priorities.map(v =>
            s"'$v', `$v`").mkString(", ") + ") AS (pri, cents)")
        .filter(col("cents").isNotNull)
        .orderBy(col("n_name"), col("pri")),
    Some("""
      SELECT n_name, o_orderpriority AS pri,
             CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5)
               AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name, pri ORDER BY n_name, pri"""))

  val all: Seq[Qry] =
    Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09, q10, q11, q129,
      q228, q229)
}
