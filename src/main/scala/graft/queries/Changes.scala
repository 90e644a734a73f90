package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Qry, Tables}
import graft.operators.{Attribution, Cdc, Ckpt, Splits}
import Q._

/** Operational-analytics change operators: CDC log apply (q162),
  * multi-touch conversion attribution (q163), and pooled lag-k
  * serial correlation (q164). All three keep money/values in exact
  * integers until one final deterministic division.
  */
object Changes {

  /** q162 — CDC merge apply ([[graft.operators.Cdc.mergeLatest]]):
    * a deterministic change log manufactured from `orders` (base
    * snapshot at seq 0, updates at seq 1/3, tombstones at seq 2, a
    * delete-then-reinsert resurrection band) collapses to the final
    * snapshot via the partial-aggregable struct-max, then a digest
    * (counts + exact cent/key sums per (status, winning seq)) pins
    * every surviving row's payload. Buckets are the md5 percent
    * bucket every split/sample in the engine shares, so the oracle
    * replays the log exactly:
    *  - b<80: base insert; b<50: seq-1 update (+5% integer cents);
    *    b∈[40,50): seq-2 delete; b∈[45,50): seq-3 re-insert
    *    (cents+7); b<10: seq-3 second update (cents div 2);
    *    b≥80: seq-1 fresh insert. */
  val q162 = Qry(
    "q162_cdc_merge",
    (s: SparkSession, d: String) => {
      val o = Tables.orders(s, d).select(
        col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
          .as("cents"),
        Splits.hashBucket(col("o_orderkey")).as("b"))
      // ONE scan: each order row explodes map-side into its change
      // rows (a 6-branch union re-read the parquet six times; the
      // log is a per-row function of (b, cents), so generate it as
      // one filtered struct array — identical logical log)
      val log = o.select(col("k"), col("status"), explode(expr("""
          filter(array(
            if(b < 80,
              named_struct('seq', 0L, 'op', 'I', 'cents', cents),
              null),
            if(b < 50,
              named_struct('seq', 1L, 'op', 'U',
                'cents', cents + cents div 20), null),
            if(b >= 80,
              named_struct('seq', 1L, 'op', 'I', 'cents', cents),
              null),
            if(b >= 40 and b < 50,
              named_struct('seq', 2L, 'op', 'D', 'cents', 0L), null),
            if(b >= 45 and b < 50,
              named_struct('seq', 3L, 'op', 'I', 'cents', cents + 7L),
              null),
            if(b < 10,
              named_struct('seq', 3L, 'op', 'U',
                'cents', cents div 2), null)),
            x -> x IS NOT NULL)""")).as("c"))
        .select(col("k"), col("c.seq").as("seq"), col("c.op").as("op"),
          col("status"), col("c.cents").as("cents"))
      Cdc.mergeLatest(log, Seq("k"), "seq", "op")
        .groupBy(col("status"), col("last_seq"))
        .agg(count(lit(1)).as("n"),
          sum(col("cents")).as("sum_cents"),
          sum(col("k")).as("sum_key"),
          min(col("k")).as("min_key"), max(col("k")).as("max_key"))
        .orderBy(col("status"), col("last_seq"))
    },
    Some(s"""
      WITH o AS (
        SELECT o_orderkey AS k, o_orderstatus AS status,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                 AS cents,
               ${bucketSql("o_orderkey")} AS b
        FROM orders),
      log AS (
        SELECT k, 0 AS seq, 'I' AS op, status, cents
        FROM o WHERE b < 80
        UNION ALL
        SELECT k, 1, 'U', status, cents + cents // 20
        FROM o WHERE b < 50
        UNION ALL
        SELECT k, 1, 'I', status, cents FROM o WHERE b >= 80
        UNION ALL
        SELECT k, 2, 'D', status, 0 FROM o WHERE b >= 40 AND b < 50
        UNION ALL
        SELECT k, 3, 'I', status, cents + 7
        FROM o WHERE b >= 45 AND b < 50
        UNION ALL
        SELECT k, 3, 'U', status, cents // 2 FROM o WHERE b < 10),
      latest AS (
        SELECT k, seq AS last_seq, op, status, cents
        FROM log
        QUALIFY ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC)
          = 1),
      live AS (SELECT * FROM latest WHERE op <> 'D')
      SELECT status, CAST(last_seq AS BIGINT) AS last_seq,
             COUNT(*) AS n,
             CAST(SUM(cents) AS BIGINT) AS sum_cents,
             CAST(SUM(k) AS BIGINT) AS sum_key,
             MIN(k) AS min_key, MAX(k) AS max_key
      FROM live GROUP BY status, last_seq
      ORDER BY status, last_seq"""))

  /** q163 — multi-touch attribution ([[graft.operators
    * .Attribution.credits]]): purchases credit the click/view/signup
    * touches in the preceding 3 days under first-touch, last-touch,
    * and linear models simultaneously; untouched purchases land in
    * `(direct)`. Per-channel rollup of exact cent/millicent
    * integers — no floats anywhere. */
  val q163 = Qry(
    "q163_attribution",
    (s: SparkSession, d: String) =>
      Attribution.credits(Tables.events(s, d),
          userCol = "user_id", idCol = "event_id", tsCol = "ts",
          typeCol = "event_type", valueCol = "value",
          convType = "purchase",
          touchTypes = Seq("click", "view", "signup"),
          lookbackMicros = 3L * 86400L * 1000000L)
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n_credits"),
          sum(when(col("first_cents") > 0, 1L).otherwise(0L))
            .as("n_first_wins"),
          sum(col("first_cents")).as("first_cents"),
          sum(col("last_cents")).as("last_cents"),
          sum(col("linear_millis")).as("linear_millis"))
        .orderBy(col("channel")),
    Some("""
      WITH base AS (
        SELECT user_id AS u, event_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS t,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events),
      conv AS (
        SELECT u, event_id AS conv_id, t AS ct, cents
        FROM base WHERE event_type = 'purchase'),
      touch AS (
        SELECT u, event_id AS touch_id, event_type AS channel,
               t AS tt
        FROM base
        WHERE event_type IN ('click', 'view', 'signup')),
      paired AS (
        SELECT c.conv_id, c.cents, t.touch_id, t.channel, t.tt
        FROM conv c LEFT JOIN touch t
          ON t.u = c.u AND t.tt <= c.ct
             AND t.tt > c.ct - 259200000000),
      ranked AS (
        SELECT conv_id, cents, channel,
               COUNT(touch_id) OVER (PARTITION BY conv_id)
                 AS n_touches,
               ROW_NUMBER() OVER (PARTITION BY conv_id
                 ORDER BY tt ASC, touch_id ASC) AS rn_first,
               ROW_NUMBER() OVER (PARTITION BY conv_id
                 ORDER BY tt DESC, touch_id DESC) AS rn_last
        FROM paired),
      credits AS (
        SELECT conv_id, cents, n_touches,
               COALESCE(channel, '(direct)') AS channel,
               CASE WHEN n_touches = 0 OR rn_first = 1 THEN cents
                    ELSE 0 END AS first_cents,
               CASE WHEN n_touches = 0 OR rn_last = 1 THEN cents
                    ELSE 0 END AS last_cents,
               CASE WHEN n_touches = 0 THEN cents * 1000
                    ELSE (cents * 1000) // n_touches
                    END AS linear_millis
        FROM ranked)
      SELECT channel, COUNT(*) AS n_credits,
             CAST(SUM(CASE WHEN first_cents > 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_first_wins,
             CAST(SUM(first_cents) AS BIGINT) AS first_cents,
             CAST(SUM(last_cents) AS BIGINT) AS last_cents,
             CAST(SUM(linear_millis) AS BIGINT) AS linear_millis
      FROM credits GROUP BY channel ORDER BY channel"""))

  /** q164 — pooled lag-k serial correlation (k = 1..3): Pearson r
    * over the within-user lag pairs of cent-snapped values, pooled
    * per event_type. Moments ACCUMULATE in decimal(20,0) and the
    * per-row cent products are formed decimal·long (cents² wraps
    * int64 once the value domain carries ~1e6 scale, and the sums
    * would wrap past ~8e9 rows/group — the oracle multiplies and
    * sums in HUGEINT at the same points) and widen to
    * decimal(38,0) for the closing products; the only float ops are
    * the final casts, two IEEE sqrts (correctly rounded by the
    * standard), and one division — then r6 snapping. Zero-variance
    * groups emit NULL on both engines (Spark 0/0 is NaN, DuckDB
    * division by zero is NULL — guarded explicitly). Lag pairs never span users, so the window
    * partitions on (event_type, user_id) — per-key sorts, no global
    * ordering, and the (type,k) rollup is partial-aggregable. */
  val q164 = Qry(
    "q164_autocorrelation",
    (s: SparkSession, d: String) => {
      val w = Window
        .partitionBy(col("event_type"), col("user_id"))
        .orderBy(col("t"), col("event_id"))
      def dec(c: org.apache.spark.sql.Column) =
        c.cast("decimal(38,0)")
      val lagged = Tables.events(s, d)
        .select(col("event_type"), col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("t"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("v"))
        .withColumn("y1", lag(col("v"), 1).over(w))
        .withColumn("y2", lag(col("v"), 2).over(w))
        .withColumn("y3", lag(col("v"), 3).over(w))
        .selectExpr("event_type", "v",
          "stack(3, 1, y1, 2, y2, 3, y3) AS (k, y)")
        .filter(col("y").isNotNull)
      // the PER-ROW products are quadratic in the value domain too
      // (cents² wraps int64 once values carry ~1e6 scale), so cast
      // one operand to decimal BEFORE multiplying — the product and
      // the sums then accumulate in decimal like the oracle's
      // HUGEINT, and any true overflow is a loud NULL, never a wrap
      // (caught by the full-registry hostile-cell fuzz gate)
      def dsum20(c: org.apache.spark.sql.Column) =
        sum(c.cast("decimal(20,0)"))
      def dprod(a: org.apache.spark.sql.Column,
          b: org.apache.spark.sql.Column) =
        sum(a.cast("decimal(20,0)") * b)
      val m = lagged.groupBy(col("event_type"), col("k"))
        .agg(count(lit(1)).as("n"),
          dsum20(col("v")).as("sx"), dsum20(col("y")).as("sy"),
          dprod(col("v"), col("y")).as("sxy"),
          dprod(col("v"), col("v")).as("sxx"),
          dprod(col("y"), col("y")).as("syy"))
      val vx = (dec(col("n")) * dec(col("sxx")) -
        dec(col("sx")) * dec(col("sx"))).cast("double")
      val vy = (dec(col("n")) * dec(col("syy")) -
        dec(col("sy")) * dec(col("sy"))).cast("double")
      m.select(col("event_type"), col("k"), col("n").as("n_pairs"),
          // zero-variance guard: Spark double 0/0 is NaN but DuckDB
          // division by zero is NULL — emit NULL on both engines
          when(vx === 0d || vy === 0d, lit(null))
            .otherwise(r6((dec(col("n")) * dec(col("sxy")) -
                dec(col("sx")) * dec(col("sy"))).cast("double") /
              (sqrt(vx) * sqrt(vy))))
            .as("autocorr"))
        .orderBy(col("event_type"), col("k"))
    },
    Some(s"""
      WITH src AS (
        SELECT event_type, event_id, user_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS t,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        FROM events),
      lagged AS (
        SELECT event_type, v,
               LAG(v, 1) OVER w AS y1, LAG(v, 2) OVER w AS y2,
               LAG(v, 3) OVER w AS y3
        FROM src
        WINDOW w AS (PARTITION BY event_type, user_id
                     ORDER BY t, event_id)),
      pairs AS (
        SELECT event_type, 1 AS k, v, y1 AS y FROM lagged
        WHERE y1 IS NOT NULL
        UNION ALL
        SELECT event_type, 2, v, y2 FROM lagged WHERE y2 IS NOT NULL
        UNION ALL
        SELECT event_type, 3, v, y3 FROM lagged
        WHERE y3 IS NOT NULL),
      m AS (
        SELECT event_type, k, CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(v) AS HUGEINT) AS sx,
               CAST(SUM(y) AS HUGEINT) AS sy,
               CAST(SUM(CAST(v AS HUGEINT) * y) AS HUGEINT) AS sxy,
               CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS sxx,
               CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        FROM pairs GROUP BY event_type, k)
      SELECT event_type, k, CAST(n AS BIGINT) AS n_pairs,
             ${r6Sql("""CAST(n * sxy - sx * sy AS DOUBLE) /
               NULLIF(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
                      sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0)""")}
               AS autocorr
      FROM m ORDER BY event_type, k"""))

  /** q175 — snapshot diff → CDC extraction (the inverse of q162):
    * two deterministic snapshots of orders diff into an I/U/D change
    * log via one full-outer join (insert = right-only, delete =
    * left-only, update = payload differs, identical rows emit
    * nothing), then the extracted log is APPLIED back onto snapshot
    * A through [[graft.operators.Cdc.mergeLatest]] and compared to
    * snapshot B — the round-trip law extract∘apply = identity,
    * verified inside the query (zero mismatches hashed as a
    * boolean) and replayed by the oracle.
    *
    * Scale shape: one key-partitioned full-outer join (both sides
    * shuffle once), the apply reuses the same key partitioning, and
    * the mismatch check is two anti-join counts — no driver-side
    * comparison. */
  val q175 = Qry(
    "q175_snapshot_diff_cdc",
    (s: SparkSession, d: String) => {
      val o = Tables.orders(s, d).select(
        col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
          .as("cents"),
        Splits.hashBucket(col("o_orderkey")).as("b"))
      val snapA = o.filter(col("b") < 90)
        .select(col("k"), col("cents"))
      val snapB = o.filter(col("b") >= 5)
        .select(col("k"),
          when(col("b") < 30, col("cents") + lit(100L))
            .otherwise(col("cents")).as("cents"))
      val diff = snapA.select(col("k").as("ka"), col("cents").as("ca"))
        .join(snapB.select(col("k").as("kb"), col("cents").as("cb")),
          col("ka") === col("kb"), "full_outer")
        .select(
          coalesce(col("ka"), col("kb")).as("k"),
          when(col("ka").isNull, lit("I"))
            .when(col("kb").isNull, lit("D"))
            .when(col("ca") =!= col("cb"), lit("U")).as("op"),
          coalesce(col("cb"), lit(0L)).as("cents"))
        .filter(col("op").isNotNull)
        // consumed by the log AND the digest — materialize once
        .transform(Ckpt.cut)
      val log = snapA.select(col("k"), lit(0L).as("seq"),
          lit("I").as("op"), col("cents"))
        .unionByName(diff.select(col("k"), lit(1L).as("seq"),
          col("op"), col("cents")))
      val reapplied = Cdc.mergeLatest(log, Seq("k"), "seq", "op")
        .select(col("k"), col("cents"))
      // keys are unique per snapshot, so the symmetric difference is
      // one keyed full-outer compare — a single job, not two
      // exceptAll shuffles
      val bad = snapB.select(col("k"), col("cents").as("cb"))
        .join(reapplied.select(col("k"), col("cents").as("cr")),
          Seq("k"), "full_outer")
        .filter(col("cb").isNull || col("cr").isNull ||
          col("cb") =!= col("cr"))
        .count()
      diff.groupBy(col("op"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
          sum(col("k")).as("sum_key"))
        .withColumn("roundtrip_ok", lit(bad == 0L))
        .orderBy(col("op"))
    },
    Some(s"""
      WITH o AS (
        SELECT o_orderkey AS k,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                 AS cents,
               ${bucketSql("o_orderkey")} AS b
        FROM orders),
      snapA AS (SELECT k, cents FROM o WHERE b < 90),
      snapB AS (
        SELECT k, CASE WHEN b < 30 THEN cents + 100 ELSE cents END
          AS cents
        FROM o WHERE b >= 5),
      diff AS (
        SELECT COALESCE(a.k, bb.k) AS k,
               CASE WHEN a.k IS NULL THEN 'I'
                    WHEN bb.k IS NULL THEN 'D'
                    WHEN a.cents <> bb.cents THEN 'U' END AS op,
               COALESCE(bb.cents, 0) AS cents
        FROM snapA a FULL OUTER JOIN snapB bb ON a.k = bb.k
        ),
      d2 AS (SELECT * FROM diff WHERE op IS NOT NULL),
      log AS (
        SELECT k, 0 AS seq, 'I' AS op, cents FROM snapA
        UNION ALL SELECT k, 1, op, cents FROM d2),
      latest AS (
        SELECT k, op, cents FROM log
        QUALIFY ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC)
          = 1),
      reapplied AS (SELECT k, cents FROM latest WHERE op <> 'D'),
      mism AS (
        SELECT
          (SELECT COUNT(*) FROM (
            SELECT k, cents FROM snapB
            EXCEPT ALL SELECT k, cents FROM reapplied))
          + (SELECT COUNT(*) FROM (
            SELECT k, cents FROM reapplied
            EXCEPT ALL SELECT k, cents FROM snapB)) AS bad)
      SELECT op, COUNT(*) AS n,
             CAST(SUM(cents) AS BIGINT) AS sum_cents,
             CAST(SUM(k) AS BIGINT) AS sum_key,
             (SELECT bad FROM mism) = 0 AS roundtrip_ok
      FROM d2 GROUP BY op ORDER BY op"""))

  /** q197 — incremental view maintenance ([[Cdc.maintainAgg]]): a
    * per-customer (count, exact decimal revenue) view of the orders
    * base snapshot (bucket < 70) is maintained under one CDC batch —
    * inserts (b ≥ 70), value updates (b < 15, +10.50), GROUP-MOVING
    * updates (b ∈ [15,20): the order changes customer), deletes
    * (b ∈ [20,25)) — without rescanning the base beyond the keyed
    * old-image lookup. The oracle recomputes the view FROM SCRATCH
    * over the post-change snapshot: the hash match is the IVM
    * theorem maintain(view(base), Δ) == view(apply(base, Δ)) on real
    * data. */
  val q197 = Qry(
    "q197_ivm_agg",
    (s: SparkSession, d: String) => {
      val o = Tables.orders(s, d).select(
        col("o_orderkey").as("k"), col("o_custkey").as("cust"),
        col("o_totalprice").as("v"),
        Splits.hashBucket(col("o_orderkey")).as("b"))
      val base = o.filter(col("b") < 70).select(col("k"), col("cust"),
        col("v"))
      val cdc = o.select(col("k"), explode(expr("""
          filter(array(
            if(b >= 70, named_struct('op', 'i', 'cust', cust,
              'v', v), null),
            if(b < 15, named_struct('op', 'u', 'cust', cust,
              'v', v + 10.5d), null),
            if(b >= 15 and b < 20, named_struct('op', 'u',
              'cust', cust + 1L, 'v', v), null),
            if(b >= 20 and b < 25, named_struct('op', 'd',
              'cust', cust, 'v', 0d), null)),
            x -> x IS NOT NULL)""")).as("c"))
        .select(col("k"), col("c.op").as("op"), col("c.cust").as("cust"),
          col("c.v").as("v"))
      Cdc.maintainAgg(Cdc.aggOf(base, "cust", "v", 2), base, cdc,
          "k", "op", "cust", "v", 2)
        .select(col("cust"), col("cnt"),
          col("s").cast("double").as("total"))
        .orderBy(col("cust"))
    },
    Some(s"""
      WITH o AS (
        SELECT o_orderkey AS k, o_custkey AS cust,
               o_totalprice AS v, ${bucketSql("o_orderkey")} AS b
        FROM orders),
      final AS (
        SELECT cust, v FROM o WHERE b >= 25 AND b < 70  -- untouched
        UNION ALL
        SELECT cust, v + 10.5 FROM o WHERE b < 15       -- updated
        UNION ALL
        SELECT cust + 1, v FROM o WHERE b >= 15 AND b < 20 -- moved
        UNION ALL
        SELECT cust, v FROM o WHERE b >= 70)            -- inserted
      SELECT cust, COUNT(*) AS cnt, ${dsumSql("v", 2)} AS total
      FROM final GROUP BY cust ORDER BY cust"""))

  /** q222 — ANSI `MERGE INTO` round-trip through the graft v2
    * catalog ([[graft.sources.GraftCatalog]]): the declarative DML
    * path itself driver-gated, not just spec'd. Seeds a catalog
    * table from `customer` (balances in exact cents), MERGEs one
    * change set derived from `orders` — high-frequency customers
    * (≥ 12 orders) DELETE, the rest UPDATE (balance += order-total
    * cents), synthetic shifted keys INSERT as segment 'NEW' — then
    * hashes the per-segment rollup of the post-MERGE table. Spark's
    * own `RewriteMergeIntoTable` plans the statement against the
    * catalog's row-level operation; the oracle replays matched/
    * not-matched semantics as two join legs. All money integer
    * cents; sums cast to BIGINT both sides.
    *
    * Scale shape: the MERGE source is one partial-aggregable groupBy
    * over orders; the statement plans the group-based ReplaceData
    * rewrite (plan-locked in `MergeIntoSpec`) — on a lakehouse
    * format the same plan replaces only matched file groups. */
  val q222 = Qry(
    "q222_ansi_merge",
    (s: SparkSession, d: String) => {
      s.sql("DROP TABLE IF EXISTS graft.q222_tgt")
      s.sql("CREATE TABLE graft.q222_tgt (k BIGINT, " +
        "bal_cents BIGINT, seg STRING, changed BIGINT)")
      Tables.customer(s, d).select(
          col("c_custkey").as("k"),
          floor(col("c_acctbal") * 100 + lit(0.5)).cast("long")
            .as("bal_cents"),
          col("c_mktsegment").as("seg"),
          lit(0L).as("changed"))
        .createOrReplaceTempView("q222_seed")
      s.sql("INSERT INTO graft.q222_tgt SELECT * FROM q222_seed")
      val chg = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("k"))
        .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5))
            .cast("long")).as("delta"),
          count(lit(1)).as("n_ord"))
      chg.unionByName(chg.filter(col("k") % 97 === 0)
          .select((col("k") + 10000000L).as("k"), col("delta"),
            col("n_ord")))
        .createOrReplaceTempView("q222_chg")
      s.sql("""
        MERGE INTO graft.q222_tgt t USING q222_chg s ON t.k = s.k
        WHEN MATCHED AND s.n_ord >= 12 THEN DELETE
        WHEN MATCHED THEN UPDATE SET
          bal_cents = t.bal_cents + s.delta, changed = 1
        WHEN NOT MATCHED THEN
          INSERT (k, bal_cents, seg, changed)
          VALUES (s.k, s.delta, 'NEW', 1)""")
      s.table("graft.q222_tgt")
        .groupBy(col("seg"))
        .agg(count(lit(1)).as("n"),
          sum(col("bal_cents")).as("bal_cents"),
          sum(col("changed")).as("n_changed"))
        .orderBy(col("seg"))
    },
    Some("""
      WITH seed AS (
        SELECT c_custkey AS k,
               CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
                 AS bal_cents,
               c_mktsegment AS seg
        FROM customer),
      chg AS (
        SELECT o_custkey AS k,
               CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5)
                 AS BIGINT)) AS BIGINT) AS delta,
               COUNT(*) AS n_ord
        FROM orders GROUP BY 1),
      src AS (
        SELECT * FROM chg
        UNION ALL
        SELECT k + 10000000, delta, n_ord FROM chg WHERE k % 97 = 0),
      merged AS (
        SELECT t.k,
               CASE WHEN s.k IS NULL THEN t.bal_cents
                    ELSE t.bal_cents + s.delta END AS bal_cents,
               t.seg,
               CASE WHEN s.k IS NULL THEN 0 ELSE 1 END AS changed
        FROM seed t LEFT JOIN src s ON s.k = t.k
        WHERE s.k IS NULL OR s.n_ord < 12
        UNION ALL
        SELECT s.k, s.delta, 'NEW', 1
        FROM src s LEFT JOIN seed t ON t.k = s.k
        WHERE t.k IS NULL)
      SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(bal_cents) AS BIGINT) AS bal_cents,
             CAST(SUM(changed) AS BIGINT) AS n_changed
      FROM merged GROUP BY seg ORDER BY seg"""))

  val all: Seq[Qry] = Seq(q162, q163, q164, q175, q197, q222)
}
