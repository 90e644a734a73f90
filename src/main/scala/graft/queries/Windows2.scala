package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Qry, Tables}
import graft.functions.Exact
import Q._

/** Window-function completion (G7 frames + rank family) and the
  * datetime scalar sweep (G10 date side).
  */
object Windows2 {

  /** RANGE frames (value-based, not row-based): per-customer sum of
    * orders within ±30 days of each order, plus frame-positional
    * nth_value / first / last over explicit ROWS frames. */
  val q58 = Qry(
    "q58_window_frames",
    (s: SparkSession, d: String) => {
      val byDay = Window.partitionBy(col("o_custkey"))
        .orderBy(col("day_num"))
        .rangeBetween(-30, 30)
      val rows3 = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .filter(col("o_custkey") < 40)
        .withColumn("day_num",
          datediff(col("o_orderdate"), lit("1992-01-01").cast("date")))
        .select(
          col("o_custkey"), col("o_orderkey"),
          col("day_num"),
          Exact.sum(col("o_totalprice"), 2, byDay).as("near_spend"),
          count(lit(1)).over(byDay).as("near_orders"),
          first(col("o_orderkey")).over(rows3).as("first_key"),
          nth_value(col("o_orderkey"), 2).over(rows3).as("second_key"))
        .na.fill(-1L, Seq("second_key"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some(s"""
      SELECT o_custkey, o_orderkey, day_num,
             CAST(SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2)))
               OVER near AS DOUBLE) AS near_spend,
             COUNT(*) OVER near AS near_orders,
             FIRST_VALUE(o_orderkey) OVER seq AS first_key,
             COALESCE(NTH_VALUE(o_orderkey, 2) OVER seq, -1)
               AS second_key
      FROM (SELECT *, DATE_DIFF('day', DATE '1992-01-01',
              CAST(o_orderdate AS DATE)) AS day_num
            FROM orders WHERE o_custkey < 40)
      WINDOW near AS (PARTITION BY o_custkey ORDER BY day_num
               RANGE BETWEEN 30 PRECEDING AND 30 FOLLOWING),
             seq AS (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY o_custkey, o_orderkey"""))

  /** Rank family: ntile, percent_rank, cume_dist + bool aggregates
    * (every/any) per group. */
  val q59 = Qry(
    "q59_rank_family",
    (s: SparkSession, d: String) => {
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, d)
        .filter(col("o_custkey") < 60)
        .select(col("o_orderstatus"), col("o_orderkey"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"),
          (col("o_totalprice") > 100000).as("big"))
        .groupBy(col("o_orderstatus"), col("quartile"))
        .agg(count(lit(1)).as("n"),
          round(min(col("pct_rank")), 6).as("min_pr"),
          round(max(col("cume")), 6).as("max_cd"),
          bool_and(col("big")).as("all_big"),
          bool_or(col("big")).as("any_big"))
        .orderBy(col("o_orderstatus"), col("quartile"))
    },
    Some("""
      WITH ranked AS (
        SELECT o_orderstatus, o_orderkey,
               NTILE(4) OVER w AS quartile,
               ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
               ROUND(CUME_DIST() OVER w, 6) AS cume,
               o_totalprice > 100000 AS big
        FROM orders WHERE o_custkey < 60
        WINDOW w AS (PARTITION BY o_orderstatus
          ORDER BY o_totalprice, o_orderkey))
      SELECT o_orderstatus, quartile, COUNT(*) AS n,
             ROUND(MIN(pct_rank), 6) AS min_pr,
             ROUND(MAX(cume), 6) AS max_cd,
             BOOL_AND(big) AS all_big,
             BOOL_OR(big) AS any_big
      FROM ranked
      GROUP BY o_orderstatus, quartile
      ORDER BY o_orderstatus, quartile"""))

  /** Datetime scalar sweep (G10): trunc, extract, diff, add/sub,
    * last_day, day-of-week arithmetic — all on event timestamps. */
  val q60 = Qry(
    "q60_datetime_sweep",
    (s: SparkSession, d: String) =>
      Tables.events(s, d)
        .filter(col("event_id") < 200)
        .select(col("event_id"),
          date_format(date_trunc("week", col("ts")),
            "yyyy-MM-dd").as("week_start"),
          year(col("ts")).as("y"),
          month(col("ts")).as("m"),
          dayofmonth(col("ts")).as("dom"),
          dayofweek(col("ts")).as("dow"),
          hour(col("ts")).as("h"),
          minute(col("ts")).as("mi"),
          datediff(col("ts").cast("date"),
            lit("2024-01-01").cast("date")).as("days_since"),
          date_format(add_months(col("ts").cast("date"), 2),
            "yyyy-MM-dd").as("plus2mo"),
          date_format(last_day(col("ts").cast("date")),
            "yyyy-MM-dd").as("month_end"),
          unix_micros(col("ts")).as("epoch_us"))
        .orderBy(col("event_id")),
    Some("""
      SELECT event_id,
             STRFTIME(date_trunc('week', CAST(ts AS TIMESTAMP)),
               '%Y-%m-%d') AS week_start,
             EXTRACT(year FROM ts) AS y,
             EXTRACT(month FROM ts) AS m,
             EXTRACT(day FROM ts) AS dom,
             EXTRACT(dow FROM ts) + 1 AS dow,
             EXTRACT(hour FROM ts) AS h,
             EXTRACT(minute FROM ts) AS mi,
             DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE))
               AS days_since,
             STRFTIME(CAST(ts AS DATE) + INTERVAL 2 MONTH,
               '%Y-%m-%d') AS plus2mo,
             STRFTIME(last_day(CAST(ts AS DATE)), '%Y-%m-%d')
               AS month_end,
             epoch_us(CAST(ts AS TIMESTAMP)) AS epoch_us
      FROM events WHERE event_id < 200
      ORDER BY event_id"""))

  /** Time-interval RANGE frames: per-user rolling 1-hour event count
    * and decimal-exact rolling value sum, ordered by real timestamps
    * (RANGE BETWEEN INTERVAL ... PRECEDING — the time-based frame
    * q58's numeric ranges don't cover). Expressed through the SQL
    * front-end on both engines; the frame spec is identical. */
  val q78 = Qry(
    "q78_time_range_frames",
    (s: SparkSession, d: String) => {
      graft.Model.registerViews(s, d, "events")
      s.sql("""
        SELECT user_id,
               date_format(ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS ts_s,
               COUNT(*) OVER w AS n_last_hour,
               CAST(SUM(CAST(ROUND(value, 2) AS DECIMAL(18,2)))
                 OVER w AS DOUBLE) AS sum_last_hour
        FROM events WHERE user_id < 3
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
          RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        ORDER BY user_id, ts_s""")
    },
    Some("""
      SELECT user_id,
             strftime(CAST(ts AS TIMESTAMP),
               '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
             COUNT(*) OVER w AS n_last_hour,
             CAST(SUM(CAST(ROUND(value, 2) AS DECIMAL(18,2)))
               OVER w AS DOUBLE) AS sum_last_hour
      FROM events WHERE user_id < 3
      WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
        RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
      ORDER BY user_id, ts_s"""))

  /** Ratio-to-report (percent-of-total) windows: each nation's
    * revenue as a share of its region and of the grand total —
    * window sums OVER the aggregated rows (25 rows), so the
    * expensive work is one ordinary aggregation and the shares are
    * free. Exact decimal revenue; the share division happens on
    * identical operands in both engines. */
  val q79 = Qry(
    "q79_ratio_to_report",
    (s: SparkSession, d: String) => {
      val rev = Tables.orders(s, d)
        .join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(dsum(col("o_totalprice"), 2).as("revenue"))
      val wRegion = Window.partitionBy(col("r_name"))
      val wAll = Window.partitionBy()
      rev.select(col("r_name"), col("n_name"), col("revenue"),
          round(col("revenue") / sum(col("revenue")).over(wRegion), 6)
            .as("region_share"),
          round(col("revenue") / sum(col("revenue")).over(wAll), 6)
            .as("total_share"))
        .orderBy(col("r_name"), col("n_name"))
    },
    Some(s"""
      WITH rev AS (
        SELECT r_name, n_name,
               ${dsumSql("o_totalprice", 2)} AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name)
      SELECT r_name, n_name, revenue,
             ROUND(revenue / SUM(revenue) OVER (PARTITION BY r_name), 6)
               AS region_share,
             ROUND(revenue / SUM(revenue) OVER (), 6) AS total_share
      FROM rev ORDER BY r_name, n_name"""))

  /** Conversion funnel (ordered-sequence analytics): per user the
    * first signup, the first view AFTER that signup, and the first
    * purchase AFTER that view — conditional min-over-filter steps,
    * one aggregation per stage, no self-join explosion. Output is
    * the stage-reach histogram. */
  val q80 = Qry(
    "q80_funnel",
    (s: SparkSession, d: String) => {
      // day-one window: over the full month every user completes the
      // funnel (degenerate one-bucket histogram); the bounded window
      // yields a real stage distribution
      val ev = Tables.events(s, d)
        .filter(col("ts") < to_timestamp(lit("2024-01-02")))
        .select(col("user_id"), col("event_type"), col("ts"))
      val signup = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_signup"))
      val view = ev.filter(col("event_type") === "view")
        .join(signup, Seq("user_id"))
        .filter(col("ts") >= col("t_signup"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      val purchase = ev.filter(col("event_type") === "purchase")
        .join(view, Seq("user_id"))
        .filter(col("ts") >= col("t_view"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
      val stages = ev.select(col("user_id")).distinct()
        .join(signup.select(col("user_id"), lit(1).as("s1")),
          Seq("user_id"), "left")
        .join(view.select(col("user_id"), lit(1).as("s2")),
          Seq("user_id"), "left")
        .join(purchase.select(col("user_id"), lit(1).as("s3")),
          Seq("user_id"), "left")
        .select(col("user_id"),
          (coalesce(col("s1"), lit(0)) + coalesce(col("s2"), lit(0)) +
            coalesce(col("s3"), lit(0))).as("stage"))
      stages.groupBy(col("stage"))
        .agg(count(lit(1)).as("n_users"),
          min(col("user_id")).as("min_user"),
          max(col("user_id")).as("max_user"))
        .orderBy(col("stage"))
    },
    Some("""
      WITH ev AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        FROM events
        WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-02'),
      signup AS (
        SELECT user_id, MIN(ts) AS t_signup FROM ev
        WHERE event_type = 'signup' GROUP BY user_id),
      v AS (
        SELECT e.user_id, MIN(e.ts) AS t_view
        FROM ev e JOIN signup s ON e.user_id = s.user_id
        WHERE e.event_type = 'view' AND e.ts >= s.t_signup
        GROUP BY e.user_id),
      p AS (
        SELECT e.user_id, MIN(e.ts) AS t_purchase
        FROM ev e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= v.t_view
        GROUP BY e.user_id),
      stages AS (
        SELECT u.user_id,
               (CASE WHEN s.user_id IS NULL THEN 0 ELSE 1 END
                + CASE WHEN v.user_id IS NULL THEN 0 ELSE 1 END
                + CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END)
                 AS stage
        FROM (SELECT DISTINCT user_id FROM ev) u
        LEFT JOIN signup s ON u.user_id = s.user_id
        LEFT JOIN v ON u.user_id = v.user_id
        LEFT JOIN p ON u.user_id = p.user_id)
      SELECT stage, COUNT(*) AS n_users,
             MIN(user_id) AS min_user, MAX(user_id) AS max_user
      FROM stages GROUP BY stage ORDER BY stage"""))

  val all: Seq[Qry] = Seq(q58, q59, q60, q78, q79, q80)
}
