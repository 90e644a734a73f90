package graft.queries

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Qry, Tables}
import graft.operators.{Ckpt, Skew}
import Q._

/** Scale-technique queries: salted aggregation (skew spreading) and
  * sketch aggregates. The salted plan must produce EXACTLY the plain
  * groupBy's numbers — that equivalence is what the oracle checks.
  */
object Scale {

  /** Salted two-phase aggregation over a deliberately skewed key
    * (event_type: 5 values for every row — the pathological
    * all-hot-keys case). Oracle = the plain one-phase SQL. */
  val q47 = Qry(
    "q47_salted_agg",
    (s: SparkSession, d: String) =>
      Skew.saltedSumCount(
          Tables.events(s, d), "event_type", "value",
          saltSource = "event_id", salts = 16)
        .orderBy(col("event_type")),
    Some(s"""
      SELECT event_type,
             ${dsumSql("value", 2)} AS sum_value,
             COUNT(*) AS n,
             MIN(value) AS min_value,
             MAX(value) AS max_value
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** HLL sketch cardinality (G5 approx path). Sketch estimates are
    * engine-specific, so the hashable contract is: each engine runs
    * ITS OWN sketch and asserts it lands inside a tolerance band of
    * the exact count — the hashed projection is (exact count,
    * within-band boolean), both deterministic on both engines. The
    * band is 15%: ≥7σ for Spark's rsd=0.02 sketch and ≈9σ for
    * DuckDB's default HLL (~1.6% typical error), so it cannot flip
    * on a different SF or distribution, while still catching a
    * broken sketch outright. The production 5-10% accuracy claim is
    * asserted in ScalaTest (ScaleSpec), not in the hash. */
  val q48 = Qry(
    "q48_approx_distinct",
    (s: SparkSession, d: String) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          countDistinct(col("user_id")).as("exact_users"),
          approx_count_distinct(col("user_id"), 0.02)
            .as("__approx"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("__approx") - col("exact_users")) <=
            lit(0.15) * col("exact_users")).as("approx_ok"))
        .orderBy(col("event_type")),
    Some("""
      SELECT event_type,
             COUNT(DISTINCT user_id) AS exact_users,
             (ABS(approx_count_distinct(user_id)
                  - COUNT(DISTINCT user_id))
               <= 0.15 * COUNT(DISTINCT user_id)) AS approx_ok
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Approximate-quantile sketch (G5 approx family, the q48 contract
    * applied to quantiles): each engine runs ITS OWN sketch (Spark
    * percentile_approx / DuckDB approx_quantile — different
    * algorithms, different estimates) and asserts the estimate lands
    * inside the exact [p-5%, p+5%] RANK band. Spark's sketch at
    * accuracy=10000 GUARANTEES rank error ≤ 1/10000 — 500× inside
    * the band; DuckDB's t-digest has no hard bound (hence the wide
    * band: it cannot flip on a different SF or distribution). The
    * tight ±2%-rank accuracy claim lives in ScalaTest (ScaleSpec),
    * not in the hash. Hashed output = exact quantiles (rounded) +
    * the within-band booleans. */
  val q66 = Qry(
    "q66_approx_quantiles",
    (s: SparkSession, d: String) => {
      // ONE exact-percentile aggregate computing all nine points and
      // ONE sketch for the three targets: each percentile()/
      // approx_percentile() instance buffers the column separately,
      // so the naive 12-aggregate form holds 12 copies per group —
      // the array forms hold one each (12 buffers → 2).
      // Triples are (p-0.05, p, min(p+0.05, 1)) per target point.
      val ps = Seq(0.45, 0.5, 0.55, 0.85, 0.9, 0.95, 0.92, 0.97, 1.0)
      val ex = expr(s"percentile(o_totalprice, array(${ps.mkString(",")}))")
      val ap = expr(
        "approx_percentile(o_totalprice, array(0.5, 0.9, 0.97), 10000)")
      def out(i: Int, name: String) = Seq(
        round(col("__ex").getItem(3 * i + 1), 4).as(name),
        col("__ap").getItem(i).between(
          col("__ex").getItem(3 * i), col("__ex").getItem(3 * i + 2))
          .as(s"${name}_ok"))
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(ex.as("__ex"), ap.as("__ap"))
        .select(col("o_orderstatus") +:
          (out(0, "p50") ++ out(1, "p90") ++ out(2, "p97")): _*)
        .orderBy(col("o_orderstatus"))
    }, {
      def bandSql(p: Double, name: String) = Seq(
        s"ROUND(quantile_cont(o_totalprice, $p), 4) AS $name",
        s"""(approx_quantile(o_totalprice, $p)
            BETWEEN quantile_cont(o_totalprice, ${p - 0.05})
                AND quantile_cont(o_totalprice, ${math.min(p + 0.05, 1.0)}))
           AS ${name}_ok""")
      val cols = (bandSql(0.5, "p50") ++ bandSql(0.9, "p90") ++
        bandSql(0.97, "p97")).mkString(",\n             ")
      Some(s"""
      SELECT o_orderstatus,
             $cols
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    })

  /** Mergeable HLL sketch states across shards (q115) — q98's
    * daily-rollup fold with SKETCH algebra instead of exact sums:
    * each md5-bucket shard builds a partial `hll_sketch_agg` state,
    * a second aggregate `hll_union_agg`s the shard states, and the
    * estimate comes off the MERGED sketch — never re-scanning raw
    * rows, the pattern that turns a 100 TB distinct-count rollup
    * into O(shards) sketch bytes per day.
    *
    * Hashable contract (the q48 precedent): estimates are
    * engine-specific, so the hashed projection is (exact count,
    * own-engine within-15%-band boolean) — DuckDB runs its own
    * direct HLL; the merge-vs-direct equivalence on the Spark side
    * (union of shard sketches ≈ one-pass sketch) is asserted
    * tightly in ScaleSpec, not in the hash. */
  val q115 = Qry(
    "q115_hll_shard_merge",
    (s: SparkSession, d: String) => {
      import graft.operators.Splits
      val sharded = Tables.events(s, d)
        .withColumn("shard", Splits.hashBucket(col("event_id")) % 4)
      // The shard partial is the sketch state ONLY — an exact
      // per-shard distinct here would drag a full expand+exchange
      // distinct-aggregation path through the plan and then be
      // thrown away (shard exacts can't fold into a global exact).
      val partials = sharded
        .groupBy(col("event_type"), col("shard"))
        .agg(expr("hll_sketch_agg(user_id, 14)").as("state"))
      partials
        .groupBy(col("event_type"))
        .agg(
          expr("hll_sketch_estimate(hll_union_agg(state))")
            .as("__merged_est"))
        .join(Tables.events(s, d).groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("exact_users")),
          Seq("event_type"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("__merged_est") - col("exact_users")) <=
            lit(0.15) * col("exact_users")).as("merged_ok"))
        .orderBy(col("event_type"))
    },
    Some("""
      SELECT event_type,
             COUNT(DISTINCT user_id) AS exact_users,
             (ABS(approx_count_distinct(user_id)
                - COUNT(DISTINCT user_id))
               <= 0.15 * COUNT(DISTINCT user_id)) AS merged_ok
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Count-min-sketch heavy hitters (the frequency twin of q48's
    * cardinality sketch): ONE distributed pass builds a mergeable CMS
    * over the corpus token stream via the `count_min_sketch` SQL
    * aggregate (executors emit partial sketches, merged
    * associatively — the 100 TB shape; the driver holds only the
    * final w·d counter grid, a few KB) plus the exact total; a second
    * pass takes the exact top-15. The sketch's two contracts are
    * hashed: NEVER-UNDER (a CMS hard guarantee — row-wise min of
    * counters can only overestimate) and WITHIN-BAND
    * (est ≤ exact + 2·ε·N; ε·N is the w.h.p. bound, doubled so a
    * fixed-seed deterministic run can't flip on any SF — verified at
    * sf0.001/0.01/0.1). DuckDB has no CMS, so the oracle pins the
    * exact top-15 and the contract booleans as literals — the q42
    * recompute-the-generation-params pattern: Spark must PROVE the
    * bounds against its own sketch to hash-match.
    *
    * Driver-side work is bounded by design: the sketch bytes and the
    * 15 output rows — never the token stream. */
  val q121 = Qry(
    "q121_heavy_hitters",
    (s: SparkSession, d: String) => {
      import s.implicits._
      val toks = Tables.documents(s, d)
        .select(explode(
          graft.operators.TextOps.tokens(col("text"))).as("tok"))
      val one = toks.agg(
        expr("count_min_sketch(tok, CAST(0.0005 AS DOUBLE), " +
          "CAST(0.99 AS DOUBLE), 42)").as("cms"),
        count(lit(1)).as("total")).head()
      val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(one.getAs[Array[Byte]](0)))
      val total = one.getLong(1)
      val band = math.ceil(2 * 0.0005 * total).toLong
      val top = toks.groupBy(col("tok"))
        .agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("tok")).limit(15)
        .as[(String, Long)].collect()
      val rows = top.toSeq.map { case (tok, exact) =>
        val est = cms.estimateCount(tok)
        (tok, exact, est >= exact, est <= exact + band)
      }
      s.createDataFrame(rows)
        .toDF("tok", "exact_cnt", "never_under", "within_band")
        .orderBy(col("exact_cnt").desc, col("tok"))
    },
    Some(s"""
      WITH toks AS (
        SELECT unnest(${DedupQ.toksSql}) AS tok FROM documents),
      c AS (SELECT tok, COUNT(*) AS exact_cnt FROM toks GROUP BY tok)
      SELECT tok, exact_cnt,
             TRUE AS never_under, TRUE AS within_band
      FROM c ORDER BY exact_cnt DESC, tok LIMIT 15"""))

  /** q201 — sketch SET ALGEBRA for segment overlap (the audience-
    * intersection question every ad/feature pipeline asks): one HLL
    * sketch per segment (orders containing a part of bucket s =
    * l_partkey%4), pairwise union via the `hll_union` scalar, and
    * the intersection ESTIMATE by inclusion-exclusion
    * |A∩B| ≈ |A| + |B| − |A∪B| — computed entirely from 4 sketch
    * states, never re-pairing raw rows. The fixture overlaps are
    * genuinely partial (~63%).
    *
    * Hashable contract (q115 precedent): estimates are engine-
    * specific, so the hash carries exact counts plus an own-engine
    * within-20%-band boolean (DuckDB runs approx_count_distinct over
    * its own union). The Spark-side inclusion-exclusion accuracy is
    * the hashed `both_ok`; at lgK=14 over 10³-10⁴ ids the three
    * estimates hold it well inside the band at every SF.
    *
    * Scale shape: one scan builds the 4 sketch states (partial-agg
    * merged); the pair frame is 4×4 rows of sketch bytes — the
    * 100 TB overlap matrix costs O(segments²) sketch merges, not a
    * rows² self-join; the exact leg exists only to grade the
    * estimate. */
  val q201 = Qry(
    "q201_segment_overlap",
    (s: SparkSession, d: String) => {
      val m = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"),
          (col("l_partkey") % 4).as("seg"))
        .distinct()
      val sk = m.groupBy(col("seg"))
        .agg(expr("hll_sketch_agg(o, 14)").as("state"),
          count(lit(1)).as("exact_n"))
        .transform(Ckpt.cut)
      val exactBoth = m.as("x")
        .join(m.as("y"), col("x.o") === col("y.o") &&
          col("x.seg") < col("y.seg"))
        .groupBy(col("x.seg").as("seg_a"), col("y.seg").as("seg_b"))
        .agg(count(lit(1)).as("exact_both"))
      sk.as("a")
        .join(broadcast(sk.as("b")), col("a.seg") < col("b.seg"))
        .select(col("a.seg").as("seg_a"), col("b.seg").as("seg_b"),
          col("a.exact_n").as("exact_a"),
          col("b.exact_n").as("exact_b"),
          (col("a.exact_n") + col("b.exact_n") -
            expr("hll_sketch_estimate(hll_union(a.state, b.state))"))
            .as("__est_both"))
        .join(exactBoth, Seq("seg_a", "seg_b"))
        .select(col("seg_a"), col("seg_b"), col("exact_a"),
          col("exact_b"), col("exact_both"),
          (abs(col("__est_both") - col("exact_both")) <=
            lit(0.2) * col("exact_both")).as("both_ok"))
        .orderBy(col("seg_a"), col("seg_b"))
    },
    Some("""
      WITH m AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey % 4 AS seg
        FROM lineitem),
      ex AS (SELECT seg, COUNT(*) AS exact_n FROM m GROUP BY 1),
      eb AS (
        SELECT x.seg AS seg_a, y.seg AS seg_b, COUNT(*) AS exact_both
        FROM m x JOIN m y ON x.o = y.o AND x.seg < y.seg
        GROUP BY 1, 2),
      eu AS (
        SELECT a.seg AS seg_a, b.seg AS seg_b,
               approx_count_distinct(m.o) AS est_union
        FROM ex a JOIN ex b ON a.seg < b.seg
        JOIN m ON m.seg = a.seg OR m.seg = b.seg
        GROUP BY 1, 2)
      SELECT eb.seg_a, eb.seg_b, a.exact_n AS exact_a,
             b.exact_n AS exact_b, eb.exact_both,
             (ABS(a.exact_n + b.exact_n - eu.est_union
                - eb.exact_both) <= 0.2 * eb.exact_both) AS both_ok
      FROM eb
      JOIN ex a ON a.seg = eb.seg_a
      JOIN ex b ON b.seg = eb.seg_b
      JOIN eu ON eu.seg_a = eb.seg_a AND eu.seg_b = eb.seg_b
      ORDER BY eb.seg_a, eb.seg_b"""))

  /** Mergeable QUANTILE sketch states across shards (q202) — the
    * percentile twin of q115's HLL rollup, closing the "sketch
    * algebra" pair: each md5-bucket shard folds its rows into a
    * deterministic MRL compactor state
    * ([[graft.operators.QuantileSketch]]; Spark has no mergeable
    * percentile state at the SQL layer), a second aggregate merges
    * the shard STATES, and p50/p90/p99 come off the merged sketch —
    * never re-scanning raw rows. 100 TB shape: O(k·log n) doubles
    * per shard partial, one bounded state per shard through the
    * final exchange.
    *
    * Hashable contract (q48/q114/q115 precedent): sketch estimates
    * are engine- and merge-order-specific, so the hashed projection
    * is (exact count, shard count, ROUND(exact percentile, 4),
    * own-engine estimate within the ±5%-of-rank band) — DuckDB runs
    * its own approx_quantile t-digest; the deterministic worst-case
    * rank error of the k=512 compactor chain (~1% at these n) sits
    * 5× inside the band, and QuantileSketchSpec asserts the tight
    * bound directly. */
  val q202 = Qry(
    "q202_quantile_rollup",
    (s: SparkSession, d: String) => {
      import graft.operators.{QuantileSketch, Splits}
      import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
      val sk = udaf(new QuantileSketch.SketchAgg(512),
        Encoders.scalaDouble)
      val mg = udaf(
        new QuantileSketch.SketchMergeAgg(512, Seq(0.5, 0.9, 0.99)),
        ExpressionEncoder[Seq[Seq[Double]]]())
      val li = Tables.lineitem(s, d)
        .select(col("l_extendedprice").cast("double").as("v"),
          (Splits.hashBucket(col("l_orderkey")) % 8).as("shard"))
      // the shard partial is the sketch state ONLY (the q115 rule:
      // per-shard exact percentiles can't fold into a global one)
      val partials = li.groupBy(col("shard"))
        .agg(sk(col("v")).as("state"), count(lit(1)).as("n_s"))
      val merged = partials.agg(mg(col("state")).as("est"),
        sum(col("n_s")).as("n"),
        countDistinct(col("shard")).as("n_shards"))
      // ONE percentile aggregate for all nine targets: each
      // percentile() call otherwise builds its own per-partition
      // value map over the full column (9 separate calls measured
      // 13.3 s vs 2.8 s for the shared-state array form at sf0.1;
      // values are bit-identical — same aggregate, same sort)
      val exact = li.agg(expr("percentile(v, array(" +
          "0.45D, 0.55D, 0.85D, 0.95D, 0.94D, 1.0D, " +
          "0.5D, 0.9D, 0.99D))").as("ps"))
        .select(
          col("ps").getItem(0).as("lo50"),
          col("ps").getItem(1).as("hi50"),
          col("ps").getItem(2).as("lo90"),
          col("ps").getItem(3).as("hi90"),
          col("ps").getItem(4).as("lo99"),
          col("ps").getItem(5).as("hi99"),
          round(col("ps").getItem(6), 4).as("p50"),
          round(col("ps").getItem(7), 4).as("p90"),
          round(col("ps").getItem(8), 4).as("p99"))
      merged.crossJoin(broadcast(exact))
        .select(col("n"), col("n_shards"),
          col("p50"), col("p90"), col("p99"),
          col("est").getItem(0).between(col("lo50"), col("hi50"))
            .as("p50_ok"),
          col("est").getItem(1).between(col("lo90"), col("hi90"))
            .as("p90_ok"),
          col("est").getItem(2).between(col("lo99"), col("hi99"))
            .as("p99_ok"))
    },
    Some(s"""
      WITH v AS (
        SELECT CAST(l_extendedprice AS DOUBLE) AS v,
               (${Q.bucketSql("l_orderkey")}) % 8 AS shard
        FROM lineitem)
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT shard) AS BIGINT) AS n_shards,
             ROUND(quantile_cont(v, 0.5), 4) AS p50,
             ROUND(quantile_cont(v, 0.9), 4) AS p90,
             ROUND(quantile_cont(v, 0.99), 4) AS p99,
             (approx_quantile(v, 0.5)
               BETWEEN quantile_cont(v, 0.45) AND quantile_cont(v, 0.55))
               AS p50_ok,
             (approx_quantile(v, 0.9)
               BETWEEN quantile_cont(v, 0.85) AND quantile_cont(v, 0.95))
               AS p90_ok,
             (approx_quantile(v, 0.99)
               BETWEEN quantile_cont(v, 0.94) AND quantile_cont(v, 1.0))
               AS p99_ok
      FROM v"""))

  val all: Seq[Qry] = Seq(q47, q48, q66, q115, q121, q201, q202)
}
