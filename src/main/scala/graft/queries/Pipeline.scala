package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Qry, Tables}
import graft.operators.{Ckpt, Components, Dedup, Quantize, Splits}
import Q._

/** Training-data pipeline operators beyond dedup/similarity:
  * deterministic dataset splits, embedding quantization, and per-doc
  * keyword extraction (tf-idf argmax). All map-side or single-shuffle
  * plans — the shapes that survive 100 TB.
  */
object Pipeline {

  /** Deterministic train/val/test split by hashed id: assignment is
    * a pure function of doc_id (stable across runs/partitionings,
    * unlike randomSplit), verified by DuckDB re-deriving the same
    * md5-bucket arithmetic. */
  val q63 = Qry(
    "q63_hash_split",
    (s: SparkSession, d: String) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          Splits.splitAssign(col("doc_id"),
            Seq("train" -> 80, "val" -> 90, "test" -> 100)).as("split"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"),
          sum(col("doc_id")).as("id_checksum"))
        .orderBy(col("split")),
    Some("""
      WITH b AS (
        SELECT doc_id,
               ((strpos('0123456789abcdef',
                   substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
              + (strpos('0123456789abcdef',
                   substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
              + (strpos('0123456789abcdef',
                   substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
              + (strpos('0123456789abcdef',
                   substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1))
               % 100 AS bucket
        FROM documents)
      SELECT CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'val'
                  ELSE 'test' END AS split,
             COUNT(*) AS n_docs, MIN(doc_id) AS min_id,
             MAX(doc_id) AS max_id,
             CAST(SUM(doc_id) AS BIGINT) AS id_checksum
      FROM b GROUP BY 1 ORDER BY 1"""))

  /** int8 absmax quantization roundtrip over the embeddings table:
    * per-vector scale, integer code checksum, and max reconstruction
    * error — DuckDB recomputes the identical floor-based arithmetic
    * element-wise. */
  val q64 = Qry(
    "q64_embed_quantize",
    (s: SparkSession, d: String) => {
      val v = col("embedding")
      val scale = Quantize.absmaxScale(v)
      Tables.embeddings(s, d)
        .filter(col("vec_id") < 500)
        .withColumn("__scale", scale)
        .withColumn("__q", Quantize.int8Codes(v, col("__scale")))
        .select(col("vec_id"),
          size(col("__q")).as("n_dims"),
          aggregate(col("__q"), lit(0L), (a, x) => a + x)
            .as("code_sum"),
          round(col("__scale"), 6).as("scale_r"),
          round(Quantize.maxAbsError(v, col("__q"), col("__scale")), 6)
            .as("max_err_r"))
        .orderBy(col("vec_id"))
    },
    Some("""
      WITH q AS (
        SELECT vec_id,
               list_max(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE)))) AS scale,
               embedding
        FROM embeddings WHERE vec_id < 500),
      codes AS (
        SELECT vec_id, scale,
               CASE WHEN scale = 0 THEN
                 list_transform(embedding, x -> 0)
               ELSE
                 list_transform(embedding, x ->
                   CAST(floor(CAST(x AS DOUBLE) * 127 / scale + 0.5)
                     AS INTEGER))
               END AS qc,
               embedding
        FROM q)
      SELECT vec_id,
             CAST(len(qc) AS INTEGER) AS n_dims,
             CAST(list_sum(qc) AS BIGINT) AS code_sum,
             ROUND(scale, 6) AS scale_r,
             ROUND(COALESCE(list_max(list_transform(
               range(1, len(qc) + 1),
               i -> abs(CAST(qc[i] AS DOUBLE) * scale / 127
                    - CAST(embedding[i] AS DOUBLE)))), 0), 6)
               AS max_err_r
      FROM codes ORDER BY vec_id"""))

  /** Per-document keyword extraction: the token maximizing
    * tf · (N/df) (rational idf — no cross-engine log), ties broken
    * lexicographically. One explode shuffle for tf, one for df, a
    * broadcastable corpus-size scalar, and a per-doc window top-1 —
    * the classic two-aggregation + window shape. */
  val q65 = Qry(
    "q65_doc_keywords",
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 300)
      val toks = docs.select(col("doc_id"),
        explode(graft.operators.TextOps.tokens(col("text"))).as("tok"))
      val tf = toks.groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf"))
      val df = toks.select(col("doc_id"), col("tok")).distinct()
        .groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val n = docs.select(countDistinct(col("doc_id")).as("n_docs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("tok"))
      tf.join(df, Seq("tok"))
        .crossJoin(broadcast(n))
        .withColumn("score",
          round(col("tf") * col("n_docs") / col("df").cast("double"), 6))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("doc_id"), col("tok").as("keyword"), col("score"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH docs AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 300),
      toks AS (
        SELECT doc_id, unnest(list_filter(
                 string_split_regex(text, '\s+'), x -> x <> '')) AS tok
        FROM docs),
      tf AS (
        SELECT doc_id, tok, COUNT(*) AS tf
        FROM toks GROUP BY doc_id, tok),
      df AS (
        SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
      n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM docs),
      scored AS (
        SELECT tf.doc_id, tf.tok,
               ROUND(tf.tf * n.n_docs / (df.df * 1.0), 6) AS score
        FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n),
      ranked AS (
        SELECT doc_id, tok, score,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY score DESC, tok) AS rn
        FROM scored)
      SELECT doc_id, tok AS keyword, score
      FROM ranked WHERE rn = 1 ORDER BY doc_id"""))

  /** Salted skew join (completing q47's salted-aggregation story):
    * events' 5-value event_type key — the pathological all-hot-keys
    * case — joined to a derived type-dimension through
    * [[graft.operators.Skew.saltedJoin]], then aggregated. The
    * oracle is the PLAIN join: equivalence is the contract. A
    * shuffle_hash hint keeps the build side off the broadcast path
    * so the salt actually exercises the shuffled-join shape. */
  val q67 = Qry(
    "q67_salted_join",
    (s: SparkSession, d: String) => {
      val ev = Tables.events(s, d)
      val dim = ev.select(col("event_type")).distinct()
        .withColumn("type_code",
          substring(md5(col("event_type")), 1, 8))
      graft.operators.Skew.saltedJoin(
          ev, dim.hint("shuffle_hash"), "event_type",
          saltSource = "event_id", salts = 16)
        .groupBy(col("type_code"))
        .agg(count(lit(1)).as("n"),
          dsum(col("value"), 2).as("sum_value"))
        .orderBy(col("type_code"))
    },
    Some(s"""
      WITH dim AS (
        SELECT DISTINCT event_type,
               substr(md5(event_type), 1, 8) AS type_code
        FROM events)
      SELECT type_code, COUNT(*) AS n,
             ${dsumSql("value", 2)} AS sum_value
      FROM events JOIN dim USING (event_type)
      GROUP BY type_code ORDER BY type_code"""))

  /** Snapshot diff (incremental-ingestion primitive): FULL OUTER
    * join of yesterday's corpus against today's on id, rows classed
    * added / deleted / changed / unchanged by content-hash compare.
    * Today's snapshot is manufactured deterministically from the
    * same table (mod-13 ids added, mod-17 deleted, mod-10 edited). */
  val q68 = Qry(
    "q68_snapshot_diff",
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val today = docs
        .filter(col("doc_id") % 17 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 10 === 0,
            concat(col("text"), lit(" edited"))).otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 5000000L).as("doc_id"), col("text")))
      val o = docs.select(col("doc_id").as("id"), md5(col("text")).as("oh"))
      val n = today.select(col("doc_id").as("id"), md5(col("text")).as("nh"))
      o.join(n, Seq("id"), "full_outer")
        .select(col("id"),
          when(col("oh").isNull, "added")
            .when(col("nh").isNull, "deleted")
            .when(col("oh") =!= col("nh"), "changed")
            .otherwise("unchanged").as("status"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"))
        .orderBy(col("status"))
    },
    Some("""
      WITH docs AS (SELECT doc_id, text FROM documents),
      today AS (
        SELECT doc_id,
               CASE WHEN doc_id % 10 = 0 THEN text || ' edited'
                    ELSE text END AS text
        FROM docs WHERE doc_id % 17 <> 0
        UNION ALL
        SELECT doc_id + 5000000, text FROM docs WHERE doc_id % 13 = 0),
      o AS (SELECT doc_id AS id, md5(text) AS oh FROM docs),
      n AS (SELECT doc_id AS id, md5(text) AS nh FROM today),
      diff AS (
        SELECT COALESCE(o.id, n.id) AS id,
               CASE WHEN o.id IS NULL THEN 'added'
                    WHEN n.id IS NULL THEN 'deleted'
                    WHEN oh <> nh THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM o FULL OUTER JOIN n ON o.id = n.id)
      SELECT status, COUNT(*) AS n_docs,
             MIN(id) AS min_id, MAX(id) AS max_id
      FROM diff GROUP BY status ORDER BY status"""))

  /** Deterministic anonymization (the privacy pass of a
    * training-data pipeline): keyed pseudonyms via salted SHA-256,
    * pattern masking of identifier digits, and numeric
    * generalization into bands (k-anonymity-style coarsening). All
    * map-side column expressions — shuffle-free at any scale, and
    * reproducible across engines (same salt → same pseudonyms). */
  val q74 = Qry(
    "q74_anonymize",
    (s: SparkSession, d: String) =>
      Tables.customer(s, d)
        .filter(col("c_custkey") < 300)
        .select(
          col("c_custkey"),
          sha2(concat(lit("pepper|"), col("c_name")), 256)
            .as("pseudonym"),
          regexp_replace(col("c_name"), "[0-9]", "x").as("masked_name"),
          (floor(col("c_acctbal") / 100d) * 100)
            .cast("long").as("bal_band"),
          col("c_mktsegment"))
        .orderBy(col("c_custkey")),
    Some("""
      SELECT c_custkey,
             sha256('pepper|' || c_name) AS pseudonym,
             regexp_replace(c_name, '[0-9]', 'x', 'g') AS masked_name,
             CAST(FLOOR(c_acctbal / 100) * 100 AS BIGINT) AS bal_band,
             c_mktsegment
      FROM customer WHERE c_custkey < 300
      ORDER BY c_custkey"""))

  /** Data-quality gate over the star schema: five row-level
    * constraints compiled into one conditional-aggregation scan of
    * orders, plus a key-uniqueness check and a lineitem→orders
    * referential-orphan check. The violation counts are all zero on
    * this (clean) data AND one manufactured-dirty union branch
    * proves the checks actually fire. */
  val q75 = Qry(
    "q75_data_quality",
    (s: SparkSession, d: String) => {
      import graft.operators.Quality
      val orders = Tables.orders(s, d)
      // manufacture known-dirty rows so nonzero counts are exercised:
      // two duplicated orderkeys and one negative price
      val dirty = orders.filter(col("o_orderkey") < 2)
        .withColumn("o_totalprice", lit(-1d))
      val checked = orders.unionByName(dirty)
      Quality.report(
        checked,
        Seq(
          Quality.Check("nonpositive_price", col("o_totalprice") <= 0),
          Quality.Check("null_orderkey", col("o_orderkey").isNull),
          Quality.Check("null_custkey", col("o_custkey").isNull),
          Quality.Check("bad_status",
            !col("o_orderstatus").isin("O", "F", "P")),
          Quality.Check("date_out_of_range",
            col("o_orderdate") < to_timestamp(lit("1990-01-01")) ||
              col("o_orderdate") >= to_timestamp(lit("2030-01-01")))),
        extra = Seq(
          Quality.uniquenessCheck(checked, Seq("o_orderkey"),
            "duplicate_orderkey"),
          Quality.referentialCheck(
            Tables.lineitem(s, d), "l_orderkey",
            orders, "o_orderkey", "orphan_lineitem")))
        .orderBy(col("check_name"))
    },
    Some("""
      WITH checked AS (
        SELECT * FROM orders
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus,
               -1.0 AS o_totalprice, o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey < 2),
      rowchecks AS (
        SELECT 'nonpositive_price' AS check_name,
               CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_violations FROM checked
        UNION ALL
        SELECT 'null_orderkey',
               CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) FROM checked
        UNION ALL
        SELECT 'null_custkey',
               CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) FROM checked
        UNION ALL
        SELECT 'bad_status',
               CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                 THEN 1 ELSE 0 END) AS BIGINT) FROM checked
        UNION ALL
        SELECT 'date_out_of_range',
               CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
                 OR o_orderdate >= TIMESTAMP '2030-01-01'
                 THEN 1 ELSE 0 END) AS BIGINT) FROM checked),
      uniq AS (
        SELECT 'duplicate_orderkey' AS check_name,
               COUNT(*) AS n_violations
        FROM (SELECT o_orderkey FROM checked
              GROUP BY o_orderkey HAVING COUNT(*) > 1)),
      orphans AS (
        SELECT 'orphan_lineitem' AS check_name, COUNT(*) AS n_violations
        FROM lineitem WHERE l_orderkey NOT IN
          (SELECT o_orderkey FROM orders))
      SELECT * FROM rowchecks
      UNION ALL SELECT * FROM uniq
      UNION ALL SELECT * FROM orphans
      ORDER BY check_name"""))

  /** SCD2 merge (slowly-changing-dimension history): the effective-
    * dated upsert built from the same full-outer snapshot diff as
    * q68 — unchanged rows keep their open version, changed rows
    * close v1 and open v2, deletions close v1, additions open v2.
    * Emitted per-row via a CASE-built array of version structs
    * exploded in place (one pass over the diff, no re-join). */
  val q76 = Qry(
    "q76_scd2_merge",
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val today = docs
        .filter(col("doc_id") % 17 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 10 === 0,
            concat(col("text"), lit(" edited"))).otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 5000000L).as("doc_id"), col("text")))
      val o = docs.select(col("doc_id").as("id"), md5(col("text")).as("oh"))
      val n = today.select(col("doc_id").as("id"), md5(col("text")).as("nh"))
      def ver(h: org.apache.spark.sql.Column, from: Int,
          to: Option[Int]) = struct(
        h.as("h"), lit(from).as("valid_from"),
        to.map(t => lit(t)).getOrElse(lit(null)).cast("int")
          .as("valid_to"))
      o.join(n, Seq("id"), "full_outer")
        .select(col("id"), explode(
          when(col("oh").isNull, array(ver(col("nh"), 2, None)))
            .when(col("nh").isNull, array(ver(col("oh"), 1, Some(2))))
            .when(col("oh") === col("nh"),
              array(ver(col("oh"), 1, None)))
            .otherwise(array(ver(col("oh"), 1, Some(2)),
              ver(col("nh"), 2, None)))).as("v"))
        .select(col("id"), col("v.h").as("content_hash"),
          col("v.valid_from"), col("v.valid_to"),
          col("v.valid_to").isNull.as("is_current"))
        .orderBy(col("id"), col("valid_from"))
    },
    Some("""
      WITH docs AS (SELECT doc_id, text FROM documents),
      today AS (
        SELECT doc_id,
               CASE WHEN doc_id % 10 = 0 THEN text || ' edited'
                    ELSE text END AS text
        FROM docs WHERE doc_id % 17 <> 0
        UNION ALL
        SELECT doc_id + 5000000, text FROM docs WHERE doc_id % 13 = 0),
      o AS (SELECT doc_id AS id, md5(text) AS oh FROM docs),
      n AS (SELECT doc_id AS id, md5(text) AS nh FROM today),
      diff AS (
        SELECT COALESCE(o.id, n.id) AS id, oh, nh
        FROM o FULL OUTER JOIN n ON o.id = n.id),
      hist AS (
        SELECT id, nh AS content_hash, 2 AS valid_from,
               CAST(NULL AS INTEGER) AS valid_to
        FROM diff WHERE oh IS NULL
        UNION ALL
        SELECT id, oh, 1, 2 FROM diff WHERE nh IS NULL
        UNION ALL
        SELECT id, oh, 1, NULL FROM diff
        WHERE oh IS NOT NULL AND nh IS NOT NULL AND oh = nh
        UNION ALL
        SELECT id, oh, 1, 2 FROM diff
        WHERE oh IS NOT NULL AND nh IS NOT NULL AND oh <> nh
        UNION ALL
        SELECT id, nh, 2, NULL FROM diff
        WHERE oh IS NOT NULL AND nh IS NOT NULL AND oh <> nh)
      SELECT id, content_hash, valid_from, valid_to,
             (valid_to IS NULL) AS is_current
      FROM hist ORDER BY id, valid_from"""))

  /** Exact-k deterministic sample per stratum (q117): q83 keeps a
    * RATE per stratum; this keeps an exact COUNT — the eval-set /
    * human-review draw ("exactly 5 docs per language, reproducibly
    * on any cluster"). The draw order is md5(id) (a full shuffle of
    * the stratum, stable across runs/partitionings, unlike
    * row-position-based sampling), realized as a rank window per
    * stratum — partitioned on the stratum key, never global. */
  val q117 = Qry(
    "q117_exact_k_sample",
    (s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val k = 5
      Tables.documents(s, d)
        .select(col("lang"), col("doc_id"),
          md5(col("doc_id").cast("string")).as("draw"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("lang"))
            .orderBy(col("draw"), col("doc_id"))))
        .filter(col("rk") <= k)
        .select(col("lang"), col("rk").cast("long").as("rk"),
          col("doc_id"))
        .orderBy(col("lang"), col("rk"))
    },
    Some("""
      SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id FROM (
        SELECT lang, doc_id,
               ROW_NUMBER() OVER (PARTITION BY lang
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents)
      WHERE rk <= 5 ORDER BY lang, rk"""))

  /** Table profiling (the data-catalog/ANALYZE pass a user runs on an
    * unfamiliar table): q75's sibling — per-column null counts, exact
    * distincts verifying the per-column HLL sketches (q48 band
    * contract), and numeric min/max. The sketch/null/min-max metrics
    * come from ONE scan melted to a row per column; the exact
    * distincts are separate single-distinct two-phase aggregates over
    * one-column pruned scans broadcast-joined back (NOT the
    * multi-countDistinct Expand, which replicated every row once per
    * profiled column — 26 s at sf1 before the r15 rewrite, 100 TB
    * death). The oracle recomputes every metric directly. */
  val q122 = Qry(
    "q122_table_profile",
    (s: SparkSession, d: String) =>
      graft.operators.Quality.profile(
          Tables.lineitem(s, d),
          numericCols = Seq("l_orderkey", "l_quantity", "l_discount"),
          otherCols = Seq("l_returnflag"))
        .orderBy(col("col_name")),
    Some {
      val numeric = Seq("l_orderkey", "l_quantity", "l_discount")
      val legs = (numeric.map(_ -> true) ++ Seq("l_returnflag" -> false))
        .map { case (c, num) =>
          val mn = if (num) s"CAST(MIN($c) AS DOUBLE)" else "NULL"
          val mx = if (num) s"CAST(MAX($c) AS DOUBLE)" else "NULL"
          s"""
          SELECT '$c' AS col_name,
                 COUNT(*) AS n_rows,
                 CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_null,
                 COUNT(DISTINCT $c) AS n_distinct,
                 (ABS(approx_count_distinct($c) - COUNT(DISTINCT $c))
                   <= 0.15 * COUNT(DISTINCT $c)) AS approx_ok,
                 CAST($mn AS DOUBLE) AS min_num,
                 CAST($mx AS DOUBLE) AS max_num
          FROM lineitem"""
        }
      legs.mkString("", "\n          UNION ALL", "\n          ORDER BY col_name")
    })

  /** Leakage-free train/val/test split (q128): q63's hash split keyed
    * on the near-dup CLUSTER instead of the document — the standard
    * fix for eval contamination (a near-duplicate of a test doc
    * sitting in train silently inflates benchmarks; q82 detects that
    * leakage, this PREVENTS it by construction: every LSH connected
    * component lands in exactly one split). The fixture plants a
    * near-dup copy for every doc_id ≡ 0 mod 3, then emits per split:
    * doc/component counts, crossing near-dup pairs under the cluster
    * split (provably all zero), and under the naive doc-hash split
    * (nonzero — the leak this operator closes).
    *
    * Scale shape: LSH pairs + min-label components are the q61
    * machinery (banded equi-joins, iterative vertex shuffles); the
    * split itself stays a map-side md5 of the component label, and
    * the leak audit is two vertex-sized joins of the pair list. */
  val q128 = Qry(
    "q128_leakage_split",
    (s: SparkSession, d: String) => {
      val base = Tables.documents(s, d).filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
      val corpus = base.unionByName(
        base.filter(col("doc_id") % 3 === 0).select(
          (col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" qq0")).as("text")))
      // pair list feeds components AND both leak audits — checkpoint
      // so the LSH pass runs once
      val pairs = Dedup.lshNearDupPairs(corpus, "doc_id", "text",
        n = 3, k = 6, bands = 3, minJaccard = 0.93)
        .transform(Ckpt.cut)
      val cuts = Seq("train" -> 80, "val" -> 90, "test" -> 100)
      val assign = Components
        .connectedComponents(corpus, "doc_id", pairs, "a", "b")
        .select(col("id"), col("component"),
          Splits.splitAssign(col("component"), cuts).as("split"),
          Splits.splitAssign(col("id"), cuts).as("naive_split"))
        .transform(Ckpt.cut)
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(
          pairs.select(col("b").as("src"), col("a").as("dst")))
      def leaks(splitCol: String, as: String) = edges
        .join(assign.select(col("id").as("src"),
          col(splitCol).as("s_src")), "src")
        .join(assign.select(col("id").as("dst"),
          col(splitCol).as("s_dst")), "dst")
        .filter(col("s_src") =!= col("s_dst"))
        .groupBy(col("s_src").as("split"))
        .agg(count(lit(1)).as(as))
      assign.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("component")).as("n_components"))
        .join(leaks("split", "leaked"), Seq("split"), "left_outer")
        .join(leaks("naive_split", "naive_leaked"),
          Seq("split"), "left_outer")
        .select(col("split"), col("n_docs"), col("n_components"),
          coalesce(col("leaked"), lit(0L)).as("leaked"),
          coalesce(col("naive_leaked"), lit(0L)).as("naive_leaked"))
        .orderBy(col("split"))
    },
    Some(s"""
      WITH RECURSIVE corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 200
        UNION ALL
        SELECT doc_id + 1000000, text || ' qq0'
        FROM documents WHERE doc_id < 200 AND doc_id % 3 = 0),
      sh AS (
        SELECT doc_id AS id, ${DedupQ.shinglesSql(3)} AS shingles
        FROM corpus),
      sh2 AS (SELECT id, shingles FROM sh WHERE len(shingles) > 0),
      sigs AS (
        SELECT id, shingles, ${DedupQ.minhashSql(6)} AS sig FROM sh2),
      banded AS (
        SELECT id, shingles,
               unnest(${DedupQ.bandKeysSql(3, 2)}) AS band_key
        FROM sigs),
      cand AS (
        SELECT l.id AS a, r.id AS b,
               FIRST(l.shingles) AS sh_a, FIRST(r.shingles) AS sh_b
        FROM banded l JOIN banded r ON l.band_key = r.band_key
        WHERE l.id < r.id GROUP BY l.id, r.id),
      pairs AS (
        SELECT a, b FROM cand
        WHERE ROUND(${DedupQ.jaccardSql}, 6) >= 0.93),
      edges AS (
        SELECT a AS src, b AS dst FROM pairs
        UNION SELECT b, a FROM pairs),
      walk AS (
        SELECT doc_id AS id, doc_id AS label FROM corpus
        UNION
        SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.id),
      assign AS (
        SELECT id, component,
               CASE WHEN ${bucketSql("component")} < 80 THEN 'train'
                    WHEN ${bucketSql("component")} < 90 THEN 'val'
                    ELSE 'test' END AS split,
               CASE WHEN ${bucketSql("id")} < 80 THEN 'train'
                    WHEN ${bucketSql("id")} < 90 THEN 'val'
                    ELSE 'test' END AS naive_split
        FROM (SELECT id, MIN(label) AS component
              FROM walk GROUP BY id)),
      leaks AS (
        SELECT sa.split AS split, COUNT(*) AS leaked
        FROM edges e JOIN assign sa ON e.src = sa.id
                     JOIN assign sb ON e.dst = sb.id
        WHERE sa.split <> sb.split GROUP BY 1),
      nleaks AS (
        SELECT sa.naive_split AS split, COUNT(*) AS naive_leaked
        FROM edges e JOIN assign sa ON e.src = sa.id
                     JOIN assign sb ON e.dst = sb.id
        WHERE sa.naive_split <> sb.naive_split GROUP BY 1),
      stats AS (
        SELECT split, COUNT(*) AS n_docs,
               COUNT(DISTINCT component) AS n_components
        FROM assign GROUP BY split)
      SELECT s.split, s.n_docs, s.n_components,
             COALESCE(l.leaked, 0) AS leaked,
             COALESCE(n.naive_leaked, 0) AS naive_leaked
      FROM stats s LEFT JOIN leaks l ON s.split = l.split
                   LEFT JOIN nleaks n ON s.split = n.split
      ORDER BY s.split"""))

  /** q134 — the 100 TB headline form of the q122 table profile:
    * sketch-only (`exact = false`), a plain partial+final aggregate
    * with HLL state per column — NO Expand, no exact-countDistinct
    * second pass through the wide scan (q122's verification job
    * carries the exact legs; since r15 those run as the same
    * per-column single-distinct shape this query pioneered; at
    * scale a profile runs this form). The sketch ESTIMATES are
    * engine-specific, so the hashable contract is the q48/q115
    * in-band projection: hash the cheap exact metrics (n_rows,
    * n_null, min/max) plus a within-15%-band boolean of each
    * engine's OWN sketch against a per-column exact distinct. The
    * exact legs are separate single-distinct aggregates over
    * one-column pruned scans — each plans as a two-phase hash
    * aggregate, so the profile plan itself stays Expand-free
    * (plan-locked in `QualitySpec`). */
  val q134 = Qry(
    "q134_table_profile_sketch",
    (s: SparkSession, d: String) => {
      val numeric = Seq("l_orderkey", "l_quantity", "l_discount")
      val li = Tables.lineitem(s, d)
      val sketch = graft.operators.Quality.profile(
        li, numericCols = numeric,
        otherCols = Seq("l_returnflag"), exact = false)
      val exacts = (numeric :+ "l_returnflag").map { c =>
        li.agg(countDistinct(col(c)).as("n_distinct_exact"))
          .select(lit(c).as("col_name"), col("n_distinct_exact"))
      }.reduce(_ unionByName _)
      sketch.join(broadcast(exacts), Seq("col_name"))
        .select(col("col_name"), col("n_rows"), col("n_null"),
          col("n_distinct_exact"),
          (abs(col("n_distinct") - col("n_distinct_exact")) <=
            lit(0.15) * col("n_distinct_exact")).as("approx_ok"),
          col("min_num"), col("max_num"))
        .orderBy(col("col_name"))
    },
    Some {
      val numeric = Seq("l_orderkey", "l_quantity", "l_discount")
      val legs = (numeric.map(_ -> true) ++ Seq("l_returnflag" -> false))
        .map { case (c, num) =>
          val mn = if (num) s"CAST(MIN($c) AS DOUBLE)" else "NULL"
          val mx = if (num) s"CAST(MAX($c) AS DOUBLE)" else "NULL"
          s"""
          SELECT '$c' AS col_name,
                 COUNT(*) AS n_rows,
                 CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_null,
                 COUNT(DISTINCT $c) AS n_distinct_exact,
                 (ABS(approx_count_distinct($c) - COUNT(DISTINCT $c))
                   <= 0.15 * COUNT(DISTINCT $c)) AS approx_ok,
                 CAST($mn AS DOUBLE) AS min_num,
                 CAST($mx AS DOUBLE) AS max_num
          FROM lineitem"""
        }
      legs.mkString("", "\n          UNION ALL",
        "\n          ORDER BY col_name")
    })

  /** q142 — equi-depth histograms ([[graft.operators.Quality
    * .equiDepthHistogram]]) for two lineitem measure columns, 8
    * buckets each: the ANALYZE statistic a cost-based optimizer's
    * selectivity estimator consumes. Rank-free integer construction
    * (bucket = exclusive-prefix-count·k div n over the value-
    * frequency table), so both engines agree bit-for-bit with no
    * percentile interpolation; l_quantity's 50 uniform values spread
    * ~evenly, l_discount's 11 heavy values exercise the heavy-hitter
    * path (buckets skipped by design). */
  val q142 = Qry(
    "q142_equidepth_histogram",
    (s: SparkSession, d: String) => {
      val li = Tables.lineitem(s, d)
      Seq("l_quantity", "l_discount").map { c =>
        graft.operators.Quality.equiDepthHistogram(li, c, k = 8)
          .select(lit(c).as("col_name"), col("bucket"),
            col("lo").cast("double").as("lo"),
            col("hi").cast("double").as("hi"), col("n_rows"))
      }.reduce(_ unionByName _)
        .orderBy(col("col_name"), col("bucket"))
    },
    Some {
      def leg(c: String) = s"""
        SELECT '$c' AS col_name, bucket,
               CAST(MIN(v) AS DOUBLE) AS lo,
               CAST(MAX(v) AS DOUBLE) AS hi,
               CAST(SUM(c) AS BIGINT) AS n_rows
        FROM (
          SELECT v, c,
                 CAST(COALESCE(SUM(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) * 8
                   // CAST(SUM(c) OVER () AS BIGINT) AS bucket
          FROM (SELECT $c AS v, COUNT(*) AS c FROM lineitem
                WHERE $c IS NOT NULL GROUP BY $c))
        GROUP BY bucket"""
      s"""${leg("l_quantity")}
          UNION ALL${leg("l_discount")}
          ORDER BY col_name, bucket"""
    })

  /** q149 — equi-depth histogram over a CONTINUOUS column
    * (l_extendedprice: ~tens of thousands of distinct doubles at
    * sf0.01, unbounded at scale), exercising the pre-binning leg
    * q142's dictionary columns never touch: values snap down to a
    * 100-unit grid cell edge first (floor(v/100)·100 — one
    * identical IEEE chain in both engines), bounding the window
    * cardinality by the price RANGE, not the row count; the
    * equi-depth integer construction then runs over cell edges.
    * Same hashable contract as q142 (integer buckets, double grid
    * edges, exact counts). */
  val q149 = Qry(
    "q149_equidepth_binned",
    (s: SparkSession, d: String) =>
      graft.operators.Quality.equiDepthHistogram(
          Tables.lineitem(s, d), "l_extendedprice", k = 8,
          preBinCell = 100.0)
        .select(col("bucket"),
          col("lo").cast("double").as("lo"),
          col("hi").cast("double").as("hi"), col("n_rows"))
        .orderBy(col("bucket")),
    Some("""
      SELECT bucket,
             CAST(MIN(v) AS DOUBLE) AS lo,
             CAST(MAX(v) AS DOUBLE) AS hi,
             CAST(SUM(c) AS BIGINT) AS n_rows
      FROM (
        SELECT v, c,
               CAST(COALESCE(SUM(c) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS BIGINT) * 8
                 // CAST(SUM(c) OVER () AS BIGINT) AS bucket
        FROM (SELECT FLOOR(l_extendedprice / 100.0) * 100.0 AS v,
                     COUNT(*) AS c
              FROM lineitem WHERE l_extendedprice IS NOT NULL
              GROUP BY 1))
      GROUP BY bucket
      ORDER BY bucket"""))

  /** k-anonymity / l-diversity audit (q161) — the release-risk
    * measurement that decides whether q74's coarsening went far
    * enough: customers grouped by the quasi-identifier pair
    * (nation, account-balance band); each group reports its size k
    * (how many people share the identifier combination — re-identi-
    * fication risk is 1/k) and its l-diversity over the sensitive
    * market segment (a group whose members all share one segment
    * leaks the attribute even at large k). Groups with k < 5 or
    * l < 2 are flagged for suppression — the audit emits the
    * decision, a generalization pass acts on it.
    *
    * Scale shape: one groupBy on the quasi-identifier (bounded
    * cardinality by construction: nations × bands), countDistinct
    * for l — a single exchange at any corpus size. */
  val q161 = Qry(
    "q161_k_anonymity",
    (s: SparkSession, d: String) =>
      Tables.customer(s, d)
        .select(col("c_nationkey").cast("long").as("nation"),
          (floor(col("c_acctbal") / 1000d) * 1000)
            .cast("long").as("bal_band"),
          col("c_mktsegment"))
        .groupBy(col("nation"), col("bal_band"))
        .agg(count(lit(1)).as("k_size"),
          countDistinct(col("c_mktsegment")).as("l_div"))
        .select(col("nation"), col("bal_band"), col("k_size"),
          col("l_div"),
          (col("k_size") < 5 || col("l_div") < 2).as("suppress"))
        .orderBy(col("nation"), col("bal_band")),
    Some("""
      SELECT CAST(c_nationkey AS BIGINT) AS nation,
             CAST(FLOOR(c_acctbal / 1000) * 1000 AS BIGINT)
               AS bal_band,
             COUNT(*) AS k_size,
             COUNT(DISTINCT c_mktsegment) AS l_div,
             (COUNT(*) < 5 OR COUNT(DISTINCT c_mktsegment) < 2)
               AS suppress
      FROM customer
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  val all: Seq[Qry] =
    Seq(q63, q64, q65, q67, q68, q74, q75, q76, q117, q122, q128, q134,
      q142, q149, q161)
}
