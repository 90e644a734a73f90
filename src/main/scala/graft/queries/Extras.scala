package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Model, Qry, Tables}
import Q._

/** Relational-surface extensions beyond the core set: explicit
  * grouping sets, pivot/unpivot reshaping, exact percentiles,
  * decimal-exact statistical moments, and edit-distance fuzzy
  * matching (the string-similarity sibling of G13's set-based
  * near-dup).
  */
object Extras {

  /** Explicit GROUPING SETS with GROUPING() disambiguation (G6
    * beyond rollup/cube — arbitrary set lists). */
  val q49 = Qry(
    "q49_grouping_sets",
    (s: SparkSession, d: String) => {
      Model.registerViews(s, d, "orders")
      s.sql(s"""
        SELECT COALESCE(o_orderstatus, '*') AS status,
               COALESCE(o_orderpriority, '*') AS priority,
               GROUPING(o_orderstatus) AS g_status,
               COUNT(*) AS n,
               ${dsumSql("o_totalprice", 2)} AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus),
          (o_orderpriority), (o_orderstatus, o_orderpriority))
        ORDER BY status, priority""")
    },
    Some(s"""
      SELECT COALESCE(o_orderstatus, '*') AS status,
             COALESCE(o_orderpriority, '*') AS priority,
             GROUPING(o_orderstatus) AS g_status,
             COUNT(*) AS n,
             ${dsumSql("o_totalprice", 2)} AS total
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus),
        (o_orderpriority), (o_orderstatus, o_orderpriority))
      ORDER BY status, priority"""))

  /** Pivot: order count per status × priority as a wide table
    * (DataFrame `pivot` with explicit value list → deterministic
    * column set; oracle via conditional aggregation). */
  val q50 = Qry(
    "q50_pivot",
    (s: SparkSession, d: String) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
            "5-LOW"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .withColumnRenamed("1-URGENT", "p1")
        .withColumnRenamed("2-HIGH", "p2")
        .withColumnRenamed("3-MEDIUM", "p3")
        .withColumnRenamed("4-NOT SPECIFIED", "p4")
        .withColumnRenamed("5-LOW", "p5")
        .orderBy(col("o_orderstatus")),
    Some("""
      SELECT o_orderstatus,
             COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS p1,
             COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS p2,
             COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS p3,
             COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED')
               AS p4,
             COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS p5
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** Unpivot (melt): wide per-status aggregates back to long form —
    * Spark `unpivot`; oracle via UNION ALL. */
  val q51 = Qry(
    "q51_unpivot",
    (s: SparkSession, d: String) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(dsum(col("o_totalprice"), 2).as("total"),
          min(col("o_totalprice")).as("min_p"),
          max(col("o_totalprice")).as("max_p"))
        .unpivot(
          Array(col("o_orderstatus")),
          Array(col("total"), col("min_p"), col("max_p")),
          "metric", "value")
        .orderBy(col("o_orderstatus"), col("metric")),
    Some(s"""
      WITH agg AS (
        SELECT o_orderstatus,
               ${dsumSql("o_totalprice", 2)} AS total,
               MIN(o_totalprice) AS min_p,
               MAX(o_totalprice) AS max_p
        FROM orders GROUP BY o_orderstatus)
      SELECT o_orderstatus, 'total' AS metric, total AS value FROM agg
      UNION ALL
      SELECT o_orderstatus, 'min_p', min_p FROM agg
      UNION ALL
      SELECT o_orderstatus, 'max_p', max_p FROM agg
      ORDER BY o_orderstatus, metric"""))

  /** Exact interpolated percentiles (median + tails). Both engines
    * use linear interpolation on the sorted set; inputs are
    * 2-decimal doubles so the interpolated values are bit-stable
    * after a 4-decimal round. */
  val q52 = Qry(
    "q52_percentiles",
    (s: SparkSession, d: String) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        // one array-percentile aggregate = one value buffer per
        // group, vs three separate buffering instances
        .agg(expr("percentile(o_totalprice, array(0.5, 0.9, 0.99))")
          .as("__p"))
        .select(col("o_orderstatus"),
          round(col("__p").getItem(0), 4).as("p50"),
          round(col("__p").getItem(1), 4).as("p90"),
          round(col("__p").getItem(2), 4).as("p99"))
        .orderBy(col("o_orderstatus")),
    Some("""
      SELECT o_orderstatus,
             ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
             ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
             ROUND(quantile_cont(o_totalprice, 0.99), 4) AS p99
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** Statistical moments with decimal-exact accumulation: variance /
    * stddev / correlation derived from exact sums (Σx, Σx², Σxy) so
    * no floating accumulation order can differ between engines. */
  val q53 = Qry(
    "q53_stats_moments",
    (s: SparkSession, d: String) => {
      val x = round(col("l_quantity"), 2).cast("decimal(18,2)")
      val y = round(col("l_extendedprice"), 2).cast("decimal(18,2)")
      Tables.fanOut(Tables.lineitem(s, d)
          .select(col("l_returnflag"), col("l_quantity"),
            col("l_extendedprice")))
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(x).cast("double").as("sx"),
          sum(y).cast("double").as("sy"),
          sum((x * x).cast("decimal(27,4)")).cast("double").as("sxx"),
          sum((y * y).cast("decimal(30,4)")).cast("double").as("syy"),
          sum((x * y).cast("decimal(30,4)")).cast("double").as("sxy"))
        .select(col("l_returnflag"), col("n"),
          round((col("sxx") - col("sx") * col("sx") / col("n"))
            / (col("n") - 1), 4).as("var_qty"),
          round((col("sxy") - col("sx") * col("sy") / col("n"))
            / sqrt((col("sxx") - col("sx") * col("sx") / col("n"))
              * (col("syy") - col("sy") * col("sy") / col("n"))), 6)
            .as("corr_qty_price"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      WITH m AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(l_quantity, 2) AS DECIMAL(18,2)))
                 AS DOUBLE) AS sx,
               CAST(SUM(CAST(ROUND(l_extendedprice, 2)
                 AS DECIMAL(18,2))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(CAST(ROUND(l_quantity, 2)
                   AS DECIMAL(18,2)) * CAST(ROUND(l_quantity, 2)
                   AS DECIMAL(18,2)) AS DECIMAL(27,4))) AS DOUBLE)
                 AS sxx,
               CAST(SUM(CAST(CAST(ROUND(l_extendedprice, 2)
                   AS DECIMAL(18,2)) * CAST(ROUND(l_extendedprice, 2)
                   AS DECIMAL(18,2)) AS DECIMAL(30,4)) ) AS DOUBLE)
                 AS syy,
               CAST(SUM(CAST(CAST(ROUND(l_quantity, 2)
                   AS DECIMAL(18,2)) * CAST(ROUND(l_extendedprice, 2)
                   AS DECIMAL(18,2)) AS DECIMAL(30,4))) AS DOUBLE)
                 AS sxy
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, n,
             ROUND((sxx - sx * sx / n) / (n - 1), 4) AS var_qty,
             ROUND((sxy - sx * sy / n)
               / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)), 6)
               AS corr_qty_price
      FROM m ORDER BY l_returnflag"""))

  /** Edit-distance fuzzy matching (G10 levenshtein; fuzzy-dedup
    * sibling of G13): customer-name pairs within distance 2 on a
    * bounded subset. */
  val q54 = Qry(
    "q54_fuzzy_levenshtein",
    (s: SparkSession, d: String) => {
      val c = Tables.customer(s, d).filter(col("c_custkey") < 120)
        .select(col("c_custkey"), col("c_name"))
      val l = c.select(col("c_custkey").as("a"), col("c_name").as("na"))
      val r = c.select(col("c_custkey").as("b"), col("c_name").as("nb"))
      l.crossJoin(r).filter(col("a") < col("b"))
        .select(col("a"), col("b"),
          levenshtein(col("na"), col("nb")).as("dist"))
        .filter(col("dist") <= 2)
        .orderBy(col("a"), col("b"))
    },
    Some("""
      WITH c AS (SELECT c_custkey, c_name FROM customer
                 WHERE c_custkey < 120)
      SELECT l.c_custkey AS a, r.c_custkey AS b,
             levenshtein(l.c_name, r.c_name) AS dist
      FROM c l JOIN c r ON l.c_custkey < r.c_custkey
      WHERE levenshtein(l.c_name, r.c_name) <= 2
      ORDER BY a, b"""))

  /** Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): the one
    * join comparator where NULL keys MATCH each other instead of
    * silently dropping — required for joining on nullable dimension
    * keys. The testdata has no nulls, so a NULL key group is
    * manufactured deterministically with nullif; a plain equi-join
    * would lose that group entirely. */
  val q69 = Qry(
    "q69_nullsafe_join",
    (s: SparkSession, d: String) => {
      val ev = Tables.events(s, d)
        .withColumn("k", nullif(col("event_type"), lit("click")))
      val a = ev.groupBy(col("k"))
        .agg(count(lit(1)).as("n_events")).as("a")
      val b = ev.groupBy(col("k"))
        .agg(countDistinct(col("user_id")).as("n_users")).as("b")
      a.join(b, col("a.k") <=> col("b.k"))
        .select(coalesce(col("a.k"), lit("NULL")).as("key"),
          col("n_events"), col("n_users"))
        .orderBy(col("key"))
    },
    Some("""
      WITH ev AS (
        SELECT nullif(event_type, 'click') AS k, user_id FROM events),
      a AS (SELECT k, COUNT(*) AS n_events FROM ev GROUP BY k),
      b AS (SELECT k, COUNT(DISTINCT user_id) AS n_users
            FROM ev GROUP BY k)
      SELECT COALESCE(a.k, 'NULL') AS key, n_events, n_users
      FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
      ORDER BY key"""))

  /** Ordered string aggregation (LISTAGG/string_agg): collect_list
    * has no deterministic order in a distributed engine, so the
    * engine-portable form is sort-then-join — identical to DuckDB's
    * string_agg(... ORDER BY). */
  val q70 = Qry(
    "q70_string_agg",
    (s: SparkSession, d: String) =>
      Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(
          array_join(array_sort(collect_list(col("n_name"))), ",")
            .as("nations_csv"),
          count(lit(1)).as("n_nations"))
        .orderBy(col("r_name")),
    Some("""
      SELECT r_name,
             string_agg(n_name, ',' ORDER BY n_name) AS nations_csv,
             COUNT(*) AS n_nations
      FROM nation JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name ORDER BY r_name"""))

  /** Equi-width histogram: integer bucket arithmetic (no float
    * boundary ambiguity — bucket edges land on exact multiples),
    * overflow clamped into the last bucket. The shape every
    * profiling/monitoring pipeline computes per column. */
  val q77 = Qry(
    "q77_histogram",
    (s: SparkSession, d: String) =>
      Tables.orders(s, d)
        .select(least(floor(col("o_totalprice") / 50000d), lit(7d))
          .cast("int").as("bucket"), col("o_totalprice"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"))
        .orderBy(col("bucket")),
    Some("""
      SELECT CAST(LEAST(FLOOR(o_totalprice / 50000), 7) AS INTEGER)
               AS bucket,
             COUNT(*) AS n,
             MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
      FROM orders GROUP BY 1 ORDER BY 1"""))

  val all: Seq[Qry] = Seq(q49, q50, q51, q52, q53, q54, q69, q70, q77)
}
