package graft.queries

import org.apache.spark.sql.{SparkSession, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Qry, Tables}
import graft.operators.{Ckpt, Corpus, Dedup, Splits, TextOps}
import Q._

/** Corpus-curation queries (the cross-document LLM-pipeline passes
  * in [[graft.operators.Corpus]]): boilerplate detection,
  * train/test contamination, stratified sampling, within-document
  * repetition, Zipf statistics, source-mix rebalancing, and
  * sequence-packing stats. Every fraction goes through [[Q.r6]]
  * (floor-based rounding — engine round() half-tie modes differ).
  */
object CorpusQ {

  /** DuckDB word-3-gram shingle list of a token-list column `t`
    * (mirrors [[graft.operators.Dedup.shingleSet]] n=3: empty below
    * 3 tokens — range(1, len-1) is already empty there). */
  private val Sh3 =
    "list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))"

  private val Toks =
    """list_filter(string_split_regex(text, '\s+'), x -> x <> '')"""

  /** Boilerplate n-grams, C4-style: 3-gram shingles appearing in ≥5
    * distinct documents are template text; each document reports the
    * fraction of its shingles that are boilerplate (a quality-gate
    * input). df is computed over the FULL corpus, the per-doc report
    * is then cut to a bounded id range. */
  val q81 = Qry(
    "q81_boilerplate_ngrams",
    (s: SparkSession, d: String) =>
      Corpus.boilerplateFraction(
          Tables.documents(s, d), "doc_id", "text", n = 3, minDf = 5L)
        .filter(col("doc_id") < 200)
        .select(col("doc_id"), col("n_shingles"), col("n_boiler"),
          r6(col("n_boiler").cast("double") / col("n_shingles"))
            .as("boiler_frac"))
        .orderBy(col("doc_id")),
    Some(s"""
      WITH toks AS (
        SELECT doc_id, $Toks AS t FROM documents),
      sh AS (
        SELECT doc_id, unnest(list_distinct($Sh3)) AS g FROM toks),
      boiler AS (
        SELECT g FROM sh GROUP BY g HAVING COUNT(*) >= 5),
      flagged AS (
        SELECT sh.doc_id,
               CASE WHEN b.g IS NULL THEN 0 ELSE 1 END AS isb
        FROM sh LEFT JOIN boiler b ON sh.g = b.g)
      SELECT doc_id, COUNT(*) AS n_shingles,
             CAST(SUM(isb) AS BIGINT) AS n_boiler,
             ${r6Sql("CAST(SUM(isb) AS DOUBLE) / COUNT(*)")} AS boiler_frac
      FROM flagged WHERE doc_id < 200
      GROUP BY doc_id ORDER BY doc_id"""))

  /** Train/test contamination (benchmark decontamination pass): the
    * corpus is hash-split 90/10 (q63's deterministic buckets), and
    * each held-out document reports the fraction of its 3-gram
    * shingles that occur anywhere in the train split. One distinct
    * over train shingles + one equi-join — the exact formulation;
    * at 100 TB the join key compacts to xxhash64 or a bloom
    * broadcast (Corpus scaladoc). */
  val q82 = Qry(
    "q82_contamination",
    (s: SparkSession, d: String) =>
      Corpus.contamination(
          Tables.documents(s, d), "doc_id", "text",
          when(Splits.hashBucket(col("doc_id")) < 90, "train")
            .otherwise("test"), n = 3)
        .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
          r6(col("n_contaminated").cast("double") / col("n_shingles"))
            .as("contam_frac"))
        .orderBy(col("doc_id")),
    Some(s"""
      WITH split AS (
        SELECT doc_id, text,
               CASE WHEN ${bucketSql("doc_id")} < 90
                    THEN 'train' ELSE 'test' END AS split
        FROM documents),
      toks AS (SELECT doc_id, split, $Toks AS t FROM split),
      sh AS (
        SELECT doc_id, split, unnest(list_distinct($Sh3)) AS g
        FROM toks),
      train AS (SELECT DISTINCT g FROM sh WHERE split = 'train'),
      flagged AS (
        SELECT sh.doc_id,
               CASE WHEN tr.g IS NULL THEN 0 ELSE 1 END AS hit
        FROM sh LEFT JOIN train tr ON sh.g = tr.g
        WHERE sh.split = 'test')
      SELECT doc_id, COUNT(*) AS n_shingles,
             CAST(SUM(hit) AS BIGINT) AS n_contaminated,
             ${r6Sql("CAST(SUM(hit) AS DOUBLE) / COUNT(*)")} AS contam_frac
      FROM flagged GROUP BY doc_id ORDER BY doc_id"""))

  /** Deterministic stratified sampling: per-language keep rates
    * applied through the same md5 percent-buckets (a row's
    * membership is a pure function of its id — stable across runs,
    * partitionings, and engines). The checksum pins exactly WHICH
    * rows were kept, not just how many. */
  val q83 = Qry(
    "q83_stratified_sample",
    (s: SparkSession, d: String) => {
      val rates = Seq("en" -> 40, "de" -> 60, "es" -> 80,
        "fr" -> 90, "zh" -> 100)
      val rate = rates.foldLeft(lit(0): Column) {
        case (acc, (l, r)) => when(col("lang") === l, r).otherwise(acc)
      }
      val kept = Splits.hashBucket(col("doc_id")) < rate
      Tables.documents(s, d)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
          sum(when(kept, col("doc_id"))).as("id_checksum"))
        .select(col("lang"), col("n_total"), col("n_kept"),
          r6(col("n_kept").cast("double") / col("n_total"))
            .as("keep_frac"),
          col("id_checksum"))
        .orderBy(col("lang"))
    },
    Some(s"""
      WITH flagged AS (
        SELECT lang, doc_id,
               CASE WHEN ${bucketSql("doc_id")} <
                 CASE lang WHEN 'en' THEN 40 WHEN 'de' THEN 60
                           WHEN 'es' THEN 80 WHEN 'fr' THEN 90
                           WHEN 'zh' THEN 100 ELSE 0 END
               THEN 1 ELSE 0 END AS kept
        FROM documents)
      SELECT lang, COUNT(*) AS n_total,
             CAST(SUM(kept) AS BIGINT) AS n_kept,
             ${r6Sql("CAST(SUM(kept) AS DOUBLE) / COUNT(*)")} AS keep_frac,
             CAST(SUM(CASE WHEN kept = 1 THEN doc_id END) AS BIGINT)
               AS id_checksum
      FROM flagged GROUP BY lang ORDER BY lang"""))

  /** Within-document repetition ratio (the Gopher repetition quality
    * signal): 1 − distinct/total over the doc's 3-gram multiset.
    * Pure map-side column expressions — no shuffle at any scale. */
  val q84 = Qry(
    "q84_repetition_ratio",
    (s: SparkSession, d: String) => {
      val grams = Corpus.shingleList(col("text"), 3)
      Tables.documents(s, d)
        .filter(col("doc_id") < 300)
        .select(col("doc_id"),
          size(grams).cast("long").as("n_grams"),
          size(array_distinct(grams)).cast("long").as("n_distinct"))
        .withColumn("rep_ratio",
          when(col("n_grams") === 0L, lit(0d))
            .otherwise(r6(lit(1.0) -
              col("n_distinct").cast("double") / col("n_grams"))))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, $Toks AS t FROM documents WHERE doc_id < 300),
      g AS (
        SELECT doc_id,
               len($Sh3) AS n_grams,
               len(list_distinct($Sh3)) AS n_distinct
        FROM toks)
      SELECT doc_id, n_grams, n_distinct,
             CASE WHEN n_grams = 0 THEN 0.0
                  ELSE ${r6Sql(
                    "1.0 - CAST(n_distinct AS DOUBLE) / n_grams")}
             END AS rep_ratio
      FROM g ORDER BY doc_id"""))

  /** Zipf rank-frequency statistics over the whole corpus: top-30
    * tokens with rank and cumulative share. One explode→groupBy
    * shuffle, eagerly checkpointed (the frequency table feeds BOTH
    * the corpus-total scalar and the ranking — left lazy, the
    * corpus-sized explode would run twice); the rank/cumsum window
    * then runs on only the top-30 rows (cumulative share at rank k
    * depends only on ranks 1..k, so top-k-then-window equals
    * window-then-filter — a full-vocabulary single-partition window
    * would be the scale bottleneck). */
  val q85 = Qry(
    "q85_zipf_stats",
    (s: SparkSession, d: String) => {
      val freq = Tables.documents(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
        .transform(Ckpt.cut)
      val w = Window.orderBy(col("freq").desc, col("tok"))
      freq
        .orderBy(col("freq").desc, col("tok")).limit(30)
        .crossJoin(broadcast(freq.agg(sum(col("freq")).as("__total"))))
        .withColumn("tok_rank", row_number().over(w))
        .withColumn("__cum", sum(col("freq")).over(w))
        .select(col("tok_rank"), col("tok"), col("freq"),
          r6(col("__cum").cast("double") / col("__total"))
            .as("cum_share"))
        .orderBy(col("tok_rank"))
    },
    Some(s"""
      WITH toks AS (
        SELECT unnest($Toks) AS tok FROM documents),
      freq AS (SELECT tok, COUNT(*) AS freq FROM toks GROUP BY tok),
      t AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM freq),
      ranked AS (
        SELECT tok, freq,
               ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS tok_rank,
               SUM(freq) OVER (ORDER BY freq DESC, tok) AS cum
        FROM freq)
      SELECT tok_rank, tok, freq,
             ${r6Sql("CAST(cum AS DOUBLE) / total")} AS cum_share
      FROM ranked, t WHERE tok_rank <= 30 ORDER BY tok_rank"""))

  /** Source-mix rebalancing: per-source share of the corpus and the
    * sampling weight that would equalize sources (target uniform
    * mix). The shape behind domain-mixture reweighting: one groupBy
    * plus a broadcast scalar of corpus totals. */
  val q86 = Qry(
    "q86_source_mix",
    (s: SparkSession, d: String) => {
      val bySrc = Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars_sum"))
      // totals from the tiny per-source frame — one corpus scan total
      val tot = bySrc.agg(sum(col("n_docs")).as("__total"),
        count(lit(1)).as("__ns"))
      bySrc
        .crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("chars_sum"),
          r6(col("n_docs").cast("double") / col("__total")).as("share"),
          r6(col("__total").cast("double") /
            (col("__ns") * col("n_docs"))).as("weight"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH agg AS (
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS chars_sum
        FROM documents GROUP BY source),
      t AS (SELECT COUNT(*) AS total, COUNT(DISTINCT source) AS ns
            FROM documents)
      SELECT source, n_docs, chars_sum,
             ${r6Sql("CAST(n_docs AS DOUBLE) / total")} AS share,
             ${r6Sql("CAST(total AS DOUBLE) / (ns * n_docs)")} AS weight
      FROM agg, t ORDER BY source"""))

  /** Greedy sequence-packing stats: documents concatenated per
    * language in doc_id order and chunked into 512-token windows
    * (pretraining batch packing); reports bins used and mean fill.
    * One window shuffle partitioned by language. */
  val q87 = Qry(
    "q87_pack_bins",
    (s: SparkSession, d: String) =>
      Corpus.packBins(
          Tables.documents(s, d).select(
            col("doc_id"), col("lang"), col("text")),
          "lang", "doc_id", TextOps.tokenCount(col("text")), 512)
        .groupBy(col("lang"))
        .agg(countDistinct(col("bin")).as("n_bins"),
          count(lit(1)).as("n_docs"),
          sum(col("__ntok")).as("total_tokens"))
        .select(col("lang"), col("n_bins"), col("n_docs"),
          col("total_tokens"),
          r6(col("total_tokens").cast("double") /
            (col("n_bins") * lit(512))).as("avg_fill"))
        .orderBy(col("lang")),
    Some(s"""
      WITH tc AS (
        SELECT doc_id, lang, len($Toks) AS ntok
        FROM documents),
      c AS (
        SELECT lang, doc_id, ntok,
               SUM(ntok) OVER (PARTITION BY lang ORDER BY doc_id)
                 AS cum
        FROM tc),
      b AS (
        SELECT lang, ntok,
               CAST(FLOOR(CAST(cum - ntok AS DOUBLE) / 512) AS BIGINT)
                 AS bin
        FROM c)
      SELECT lang, COUNT(DISTINCT bin) AS n_bins, COUNT(*) AS n_docs,
             CAST(SUM(ntok) AS BIGINT) AS total_tokens,
             ${r6Sql(
               "CAST(SUM(ntok) AS DOUBLE) / (COUNT(DISTINCT bin) * 512)")}
               AS avg_fill
      FROM b GROUP BY lang ORDER BY lang"""))

  /** RAG-style document chunking: overlapping 64-token windows at
    * stride 48 (16-token overlap), each chunk pinned by an md5 of
    * its joined text. Pure map-side HOF + posexplode — chunking a
    * 100 TB corpus is embarrassingly parallel (and rides
    * [[graft.Tables.fanOut]]-style scan splits). */
  val q91 = Qry(
    "q91_chunk_overlap",
    (s: SparkSession, d: String) =>
      Tables.documents(s, d)
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
        .select(col("doc_id"), col("t"),
          posexplode(
            when(size(col("t")) === 0,
              array().cast("array<int>"))
              .otherwise(sequence(lit(0), size(col("t")) - 1, lit(48)))))
        .select(col("doc_id"), col("pos").as("chunk_idx"),
          slice(col("t"), col("col") + 1, lit(64)).as("chunk"))
        .select(col("doc_id"), col("chunk_idx"),
          size(col("chunk")).cast("long").as("n_tokens"),
          md5(concat_ws(" ", col("chunk"))).as("chunk_hash"))
        .orderBy(col("doc_id"), col("chunk_idx")),
    Some(s"""
      WITH toks AS (
        SELECT doc_id, $Toks AS t FROM documents WHERE doc_id < 50),
      offs AS (
        SELECT doc_id, t, unnest(range(0, len(t), 48)) AS off
        FROM toks),
      chunks AS (
        SELECT doc_id, CAST(off // 48 AS INTEGER) AS chunk_idx,
               t[off + 1 : off + 64] AS chunk
        FROM offs)
      SELECT doc_id, chunk_idx,
             CAST(len(chunk) AS BIGINT) AS n_tokens,
             md5(array_to_string(chunk, ' ')) AS chunk_hash
      FROM chunks ORDER BY doc_id, chunk_idx"""))

  /** Incremental (mergeable) corpus statistics: the corpus is split
    * into two shards by the deterministic md5 percent-bucket, each
    * shard aggregates its own partial state (counts, token sums,
    * micro-unit quality sums — all ADDITIVE), and the shard states
    * are then MERGED by a second groupBy. The oracle computes the
    * same statistics directly over the full corpus, so the hash
    * match proves merge(state(A), state(B)) == state(A ∪ B) — the
    * algebra a 100 TB ingest depends on: daily shards fold into
    * running corpus stats without ever rescanning history. Quality
    * is snapped to micro-units per doc BEFORE summing (the
    * continuous-double rule), making every partial an exact BIGINT. */
  val q98 = Qry(
    "q98_incremental_stats",
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          when(Splits.hashBucket(col("doc_id")) < 50, lit("shard_a"))
            .otherwise(lit("shard_b")).as("shard"),
          TextOps.tokenCount(col("text")).cast("long").as("ntok"),
          floor(TextOps.qualityScore(col("text"), Seq("the", "a"))
            * lit(1e6) + lit(0.5)).as("qm"))
      val partials = docs
        .groupBy(col("shard"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ntok")).as("sum_tokens"),
          sum(col("qm")).as("sum_qm"))
      partials
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_shards"),
          sum(col("n_docs")).as("n_docs"),
          sum(col("sum_tokens")).as("sum_tokens"),
          sum(col("sum_qm")).as("sum_qm"))
        .select(col("lang"), col("n_shards"), col("n_docs"),
          col("sum_tokens"),
          r6(col("sum_qm").cast("double") / lit(1e6)
            / col("n_docs").cast("double")).as("avg_quality"))
        .orderBy(col("lang"))
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id, lang, $Toks AS t FROM documents),
      m AS (
        SELECT lang,
               CASE WHEN ${bucketSql("doc_id")} < 50
                 THEN 'shard_a' ELSE 'shard_b' END AS shard,
               CAST(len(t) AS BIGINT) AS ntok,
               FLOOR(ROUND(
                 CASE WHEN len(t) = 0 THEN 0.0
                      ELSE len(list_distinct(t)) * 1.0 / len(t) END * 0.4
                 + (1.0 - CASE WHEN len(t) = 0 THEN 0.0
                      ELSE len(list_filter(t,
                        x -> list_contains(['the','a'], x))) * 1.0
                        / len(t) END) * 0.3
                 + LEAST(len(t) / 100.0, 1.0) * 0.3, 6) * 1e6 + 0.5)
                 AS qm
        FROM t)
      SELECT lang,
             COUNT(DISTINCT shard) AS n_shards,
             COUNT(*) AS n_docs,
             CAST(SUM(ntok) AS BIGINT) AS sum_tokens,
             ${r6Sql(
               "CAST(SUM(qm) AS DOUBLE) / 1e6 / CAST(COUNT(*) AS DOUBLE)")}
               AS avg_quality
      FROM m GROUP BY lang ORDER BY lang"""))

  /** Applying the [[q86]] rebalancing weights as an actual draw:
    * each source gets a deterministic keep-percentage
    * `min(100, (total·50) div (n_sources·n_docs_source))` — i.e.
    * weight × a 50% global rate, computed in PURE INTEGER arithmetic
    * (no float weight near a rounding boundary) — and documents are
    * kept when their md5 percent-bucket falls under it. Over-
    * represented sources are cut toward the uniform target;
    * sources at/below target keep everything (a sample can only
    * downweight). Scale shape: one groupBy for source counts, the
    * per-source percentage broadcast back onto the scan, keep
    * decision map-side — the actual draw touches each row once. */
  val q99 = Qry(
    "q99_weighted_sample",
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val bySrc = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_src"))
      // corpus totals derive from the tiny per-source frame — no
      // second scan of the corpus for one scalar row
      val tot = bySrc.agg(sum(col("n_src")).as("total"),
        count(lit(1)).as("ns"))
      val pct = bySrc
        .crossJoin(broadcast(tot))
        .select(col("source"),
          least(lit(100L), expr("(total * 50) div (ns * n_src)"))
            .as("keep_pct"))
      docs.join(broadcast(pct), Seq("source"))
        .withColumn("kept",
          when(Splits.hashBucket(col("doc_id")) < col("keep_pct"), 1L)
            .otherwise(0L))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_total"),
          max(col("keep_pct")).as("keep_pct"),
          sum(col("kept")).as("n_kept"),
          sum(when(col("kept") === 1, col("doc_id"))).as("id_checksum"))
        .select(col("source"), col("n_total"), col("keep_pct"),
          col("n_kept"),
          r6(col("n_kept").cast("double") / col("n_total"))
            .as("kept_frac"),
          col("id_checksum"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH tot AS (
        SELECT COUNT(*) AS total, COUNT(DISTINCT source) AS ns
        FROM documents),
      pct AS (
        SELECT source,
               LEAST(CAST(100 AS BIGINT),
                 (MAX(total) * 50) // (MAX(ns) * COUNT(*))) AS keep_pct
        FROM documents, tot GROUP BY source),
      flagged AS (
        SELECT d.source, d.doc_id, p.keep_pct,
               CASE WHEN ${bucketSql("d.doc_id")} < p.keep_pct
                 THEN 1 ELSE 0 END AS kept
        FROM documents d JOIN pct p ON d.source = p.source)
      SELECT source, COUNT(*) AS n_total,
             CAST(MAX(keep_pct) AS BIGINT) AS keep_pct,
             CAST(SUM(kept) AS BIGINT) AS n_kept,
             ${r6Sql("CAST(SUM(kept) AS DOUBLE) / COUNT(*)")}
               AS kept_frac,
             CAST(SUM(CASE WHEN kept = 1 THEN doc_id END) AS BIGINT)
               AS id_checksum
      FROM flagged GROUP BY source ORDER BY source"""))

  /** Deterministic epoch shuffle into training shards — the "global
    * shuffle" a training run needs, as a pure function of (epoch
    * salt, doc_id) instead of an RNG: shard = md5 percent-bucket
    * mod 8, within-shard order = md5('epoch0:' || id). A different
    * salt re-deals the whole order next epoch; the same salt
    * reproduces it exactly on any cluster size or partitioning
    * (which `repartition` + RNG sampling cannot promise).
    *
    * Scale shape: the assignment and order key are map-side
    * expressions; the real sink is `repartition($"shard")` +
    * `sortWithinPartitions($"ord")` — one shuffle, no global sort
    * (ShardShuffleSpec drives that writer path and checks the files
    * against these fingerprints). The md5-of-ordered-ids here is the
    * per-shard MANIFEST the write is verified against, not the
    * payload: the hashed projection stays O(shards), never
    * O(corpus). */
  val q104 = Qry(
    "q104_epoch_shuffle",
    (s: SparkSession, d: String) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          (Splits.hashBucket(col("doc_id")) % 8).cast("long").as("shard"),
          md5(concat(lit("epoch0:"), col("doc_id").cast("string")))
            .as("ord"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          md5(array_join(
            transform(
              array_sort(collect_list(struct(col("ord"), col("doc_id")))),
              x => x.getField("doc_id").cast("string")), ","))
            .as("order_md5"))
        .orderBy(col("shard")),
    Some(s"""
      WITH sharded AS (
        SELECT doc_id, n_chars,
               ${bucketSql("doc_id")} % 8 AS shard,
               md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS ord
        FROM documents)
      SELECT shard, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             md5(string_agg(CAST(doc_id AS VARCHAR), ','
               ORDER BY ord, doc_id)) AS order_md5
      FROM sharded GROUP BY shard ORDER BY shard"""))

  /** Exact-substring repetition (the "deduplicating training data"
    * span pass): every 8-token window is hashed at every POSITION
    * (multiset, not the shingle set — within-doc repeats count), a
    * corpus-wide count-over-window on the hash partition marks
    * windows that occur anywhere else, and the per-doc rollup reports
    * what fraction of each doc's windows are duplicated text. The
    * fixture re-appends the first 50 docs verbatim, so those docs
    * (and their twins) must read 100% repeated while unique docs
    * show only coincidental n-gram collisions.
    *
    * Scale shape: explode → ONE hash-partition exchange shared by the
    * window count → per-doc groupBy; no membership join (the q81
    * single-scan-window pattern). The ultra-common span (a corpus
    * boilerplate sentence) is a hot hash key — same documented skew
    * ownership as q81/q102: two-level (hash, doc-bucket) partial
    * count at 100 TB. Span extraction itself is map-side HOFs
    * (sequence + transform + slice), no UDF. */
  val q120 = Qry(
    "q120_repeated_spans",
    (s: SparkSession, d: String) => {
      val n = 8
      val docs = Tables.documents(s, d)
        .filter(col("doc_id") < 200).select(col("doc_id"), col("text"))
      val corpus = docs.unionByName(
        docs.filter(col("doc_id") < 50)
          .withColumn("doc_id", col("doc_id") + lit(10000L)))
      // window hashes via the native shingle kernel (multiset form,
      // bit-equivalent to the transform/sequence/slice chain)
      val spans = corpus.select(col("doc_id"),
        explode(transform(Corpus.shingleList(col("text"), n),
          g => md5(g))).as("h"))
      spans
        .withColumn("cnt",
          count(lit(1)).over(Window.partitionBy(col("h"))))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_windows"),
          sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_repeated"))
        .select(col("doc_id"), col("n_windows"), col("n_repeated"),
          r6(col("n_repeated") / col("n_windows")).as("repeat_frac"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 200
        UNION ALL
        SELECT doc_id + 10000, text FROM documents WHERE doc_id < 50),
      t AS (SELECT doc_id, ${DedupQ.toksSql} AS toks FROM corpus),
      w AS (
        SELECT doc_id, unnest(
          CASE WHEN len(toks) < 8 THEN []::VARCHAR[]
          ELSE list_transform(range(0, len(toks) - 8 + 1),
            i -> md5(array_to_string(list_slice(toks, i + 1, i + 8), ' ')))
          END) AS h
        FROM t),
      f AS (
        SELECT doc_id, COUNT(*) OVER (PARTITION BY h) AS cnt FROM w)
      SELECT doc_id,
             COUNT(*) AS n_windows,
             CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_repeated,
             ${r6Sql("SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) * 1.0" +
               " / COUNT(*)")} AS repeat_frac
      FROM f GROUP BY doc_id ORDER BY doc_id"""))

  /** Corpus-wide exact line dedup WITH document reassembly (the
    * C4/RefinedWeb pass that q120 only measures): documents are
    * segmented into fixed 10-token lines, every line instance after
    * the corpus-wide FIRST occurrence (ordered by doc_id, then
    * position) is dropped, and each document is rebuilt from its
    * surviving lines in original order. A shared boilerplate header
    * is prepended to every third doc, so exactly one header instance
    * (in the lowest such doc) survives and every other copy is
    * stripped — while unique lines pass through untouched.
    *
    * Scale shape: segment extraction is map-side HOFs; ONE
    * hash-partition exchange carries the first-occurrence window
    * (min of the packed (doc_id, pos) key — no orderBy, so it stays
    * a plain window aggregate, not a running frame); the reassembly
    * groupBy(doc) is the second exchange. Same hot-line skew
    * ownership as q120/q81. The packed key bounds positions at 1e6
    * lines per doc — beyond that, pack wider. */
  val q123 = Qry(
    "q123_line_dedup",
    (s: SparkSession, d: String) => {
      val L = 10
      val boiler = "subscribe to our newsletter for updates " +
        "terms of service apply"
      val docs = Tables.documents(s, d).filter(col("doc_id") < 150)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(lit(boiler), lit(" "), col("text")))
            .otherwise(col("text")).as("text"))
      val toks = TextOps.tokens(col("text"))
      val segs = docs.select(col("doc_id"),
        posexplode(
          // empty-token guard: sequence(0, -1) DESCENDS, it is not
          // empty — degenerate docs must produce zero segments
          when(size(toks) === 0, array().cast("array<string>"))
            .otherwise(transform(
              sequence(lit(0), ceil(size(toks) / lit(L)).cast("int") - 1),
              k => concat_ws(" ",
                slice(toks, k * lit(L) + lit(1), lit(L)))))))
        .toDF("doc_id", "seg_idx", "seg")
      val okey = col("doc_id") * lit(1000000L) + col("seg_idx")
      val firstKey = min(okey)
        .over(Window.partitionBy(md5(col("seg"))))
      segs
        .withColumn("keep", okey === firstKey)
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_segs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          md5(array_join(
            transform(
              array_sort(collect_list(
                when(col("keep"),
                  struct(col("seg_idx"), col("seg"))))),
              x => x.getField("seg")),
            " ")).as("kept_md5"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH docs AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0
                 THEN 'subscribe to our newsletter for updates terms of service apply ' || text
                 ELSE text END AS text
        FROM documents WHERE doc_id < 150),
      t AS (SELECT doc_id, ${DedupQ.toksSql} AS toks FROM docs),
      segs AS (
        SELECT doc_id,
               unnest(range(0, CAST(ceil(len(toks) / 10.0) AS BIGINT)))
                 AS seg_idx,
               unnest(list_transform(
                 range(0, CAST(ceil(len(toks) / 10.0) AS BIGINT)),
                 k -> array_to_string(
                   list_slice(toks, k * 10 + 1, k * 10 + 10), ' ')))
                 AS seg
        FROM t),
      marked AS (
        SELECT doc_id, seg_idx, seg,
               (doc_id * 1000000 + seg_idx) =
                 MIN(doc_id * 1000000 + seg_idx)
                   OVER (PARTITION BY md5(seg)) AS keep
        FROM segs)
      SELECT doc_id,
             COUNT(*) AS n_segs,
             CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             md5(coalesce(string_agg(seg, ' ' ORDER BY seg_idx)
               FILTER (WHERE keep), '')) AS kept_md5
      FROM marked GROUP BY doc_id ORDER BY doc_id"""))

  /** Cross-document maximal duplicated spans (q152) — the
    * exact-substring dedup pass (Lee et al. 2022) that q120 only
    * measures window-wise: 10-token windows shared by ≥2 DISTINCT
    * documents (intra-doc repeats don't qualify) coalesce into
    * maximal duplicated token intervals per doc
    * ([[graft.operators.Dedup.crossDocDupSpans]] →
    * [[graft.operators.Intervals.merge]]), i.e. exactly the spans a
    * removal pass would cut. The fixture plants mashup docs
    * (id+20000): a 30-token slice of the source doc, a shared
    * boilerplate sentence, then a second 30-token slice — so source
    * docs must report TWO separated spans while the mashups fuse
    * slices and boilerplate into wider ones.
    *
    * Scale shape: one window-hash exchange (min/max doc — no distinct
    * count), then doc-partitioned interval windows; the trailing
    * length join is doc-keyed on the same partitioning. Hot
    * boilerplate hashes = the q81/q120 documented skew. */
  /** The q152/q156 planted corpus: documents < 200 plus mashup docs
    * (id+20000) built from two 30-token slices of a source doc around
    * a shared boilerplate sentence. */
  private def spanCorpus(s: SparkSession, d: String) = {
    val boiler = "click here now to claim your free prize " +
      "offer terms apply today"
    val base = Tables.documents(s, d).filter(col("doc_id") < 200)
      .select(col("doc_id"), col("text"))
    val toksB = TextOps.tokens(col("text"))
    val mash = base
      .filter(col("doc_id") < 30 && size(toksB) >= 91)
      .select((col("doc_id") + lit(20000L)).as("doc_id"),
        concat_ws(" ",
          concat_ws(" ", slice(toksB, 12, 30)),
          lit(boiler),
          concat_ws(" ", slice(toksB, 62, 30))).as("text"))
    base.unionByName(mash)
  }

  /** DuckDB twin of [[spanCorpus]] + tokenization + per-position
    * 10-token window hashes (CTEs `base`, `corpus`, `t`, `w`). */
  private val SpanCorpusSql = s"""base AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 200),
      corpus AS (
        SELECT doc_id, text FROM base
        UNION ALL
        SELECT doc_id + 20000 AS doc_id,
               array_to_string(list_slice($Toks, 12, 41), ' ')
                 || ' click here now to claim your free prize offer terms apply today '
                 || array_to_string(list_slice($Toks, 62, 91), ' ')
                 AS text
        FROM base WHERE doc_id < 30 AND len($Toks) >= 91),
      t AS (SELECT doc_id, $Toks AS toks FROM corpus),
      w AS (
        SELECT doc_id,
               unnest(CASE WHEN len(toks) < 10 THEN []::BIGINT[]
                 ELSE range(0, len(toks) - 10 + 1) END) AS pos,
               unnest(CASE WHEN len(toks) < 10 THEN []::VARCHAR[]
                 ELSE list_transform(range(0, len(toks) - 10 + 1),
                   i -> md5(array_to_string(
                     list_slice(toks, i + 1, i + 10), ' ')))
                 END) AS h
        FROM t)"""

  val q152 = Qry(
    "q152_crossdoc_spans",
    (s: SparkSession, d: String) => {
      val corpus = spanCorpus(s, d)
      val lens = corpus.select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_toks"))
      Dedup.crossDocDupSpans(corpus, "doc_id", "text", n = 10)
        .groupBy(col("doc").as("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(col("m_end") - col("m_start")).as("dup_tokens"),
          max(col("m_end") - col("m_start")).as("longest"),
          md5(array_join(
            transform(
              array_sort(collect_list(
                struct(col("m_start"), col("m_end")))),
              x => concat(x.getField("m_start").cast("string"),
                lit(":"), x.getField("m_end").cast("string"))),
            ",")).as("spans_md5"))
        .join(lens, Seq("doc_id"))
        .select(col("doc_id"), col("n_toks"), col("n_spans"),
          col("dup_tokens"), col("longest"), col("spans_md5"),
          r6(col("dup_tokens").cast("double") / col("n_toks"))
            .as("dup_frac"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH $SpanCorpusSql,
      dup AS (
        SELECT doc_id, pos AS s0, pos + 10 AS e0
        FROM (
          SELECT doc_id, pos,
                 MIN(doc_id) OVER (PARTITION BY h) AS dmin,
                 MAX(doc_id) OVER (PARTITION BY h) AS dmax
          FROM w)
        WHERE dmin <> dmax),
      flagged AS (
        SELECT doc_id, s0, e0,
               CASE WHEN MAX(e0) OVER (
                      PARTITION BY doc_id ORDER BY s0
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    IS NULL
                 OR s0 > MAX(e0) OVER (
                      PARTITION BY doc_id ORDER BY s0
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               THEN 1 ELSE 0 END AS new_grp
        FROM dup),
      labeled AS (
        SELECT doc_id, s0, e0,
               SUM(new_grp) OVER (
                 PARTITION BY doc_id ORDER BY s0
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS grp
        FROM flagged),
      merged AS (
        SELECT doc_id, grp, MIN(s0) AS m_start, MAX(e0) AS m_end
        FROM labeled GROUP BY doc_id, grp),
      perdoc AS (
        SELECT doc_id, COUNT(*) AS n_spans,
               CAST(SUM(m_end - m_start) AS BIGINT) AS dup_tokens,
               MAX(m_end - m_start) AS longest,
               md5(string_agg(
                 CAST(m_start AS VARCHAR) || ':' ||
                 CAST(m_end AS VARCHAR), ',' ORDER BY m_start))
                 AS spans_md5
        FROM merged GROUP BY doc_id),
      lens AS (SELECT doc_id, len(toks) AS n_toks FROM t)
      SELECT p.doc_id, CAST(l.n_toks AS BIGINT) AS n_toks, p.n_spans,
             p.dup_tokens, p.longest, p.spans_md5,
             ${r6Sql("CAST(p.dup_tokens AS DOUBLE) / l.n_toks")}
               AS dup_frac
      FROM perdoc p JOIN lens l USING (doc_id)
      ORDER BY p.doc_id"""))

  /** Sequence-packing boundary statistics (q153) — the GPT-style
    * concat-and-split pack ([[graft.operators.Corpus.packSequences]]):
    * docs concatenate in md5-shuffled order within 4 shards, the
    * stream is cut into 256-token sequences, and each sequence
    * reports how many documents touch it, how many START in it, its
    * token fill, and an order-pinning md5 of the contributing doc
    * ids. Unlike q87 (whole-doc bin assignment) documents here CROSS
    * sequence boundaries — the relation a pretraining batch loader
    * actually materializes.
    *
    * Scale shape: offsets are a per-SHARD prefix-sum window (one
    * shard exchange; there is never a corpus-global offset), fan-out
    * is map-side, and the final groupBy re-partitions on
    * (shard, seq) — bounded keys. */
  val q153 = Qry(
    "q153_pack_sequences",
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 400)
      Corpus.packSequences(docs,
          Splits.hashBucket(col("doc_id")) % 4,
          md5(concat(lit("pack:"), col("doc_id").cast("string"))),
          "doc_id", TextOps.tokenCount(col("text")), seqLen = 256)
        .groupBy(col("shard"), col("seq"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("starts_here")).as("n_starts"),
          sum(col("seq_tokens")).as("seq_tokens"),
          md5(array_join(
            transform(
              array_sort(collect_list(
                struct(col("tok_start"), col("doc_id")))),
              x => x.getField("doc_id").cast("string")),
            ",")).as("docs_md5"))
        .orderBy(col("shard"), col("seq"))
    },
    Some(s"""
      WITH tc AS (
        SELECT doc_id, len($Toks) AS ntok,
               ${bucketSql("doc_id")} % 4 AS shard,
               md5('pack:' || CAST(doc_id AS VARCHAR)) AS ord
        FROM documents
        WHERE doc_id < 400 AND len($Toks) > 0),
      o AS (
        SELECT shard, doc_id,
               CAST(COALESCE(SUM(ntok) OVER (
                 PARTITION BY shard ORDER BY ord, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS BIGINT) AS tok_start,
               CAST(COALESCE(SUM(ntok) OVER (
                 PARTITION BY shard ORDER BY ord, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) + ntok AS BIGINT) AS tok_end
        FROM tc),
      fan AS (
        SELECT shard, doc_id, tok_start, tok_end,
               unnest(range(tok_start // 256, (tok_end - 1) // 256 + 1))
                 AS seq
        FROM o)
      SELECT shard, seq, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN tok_start // 256 = seq THEN 1 ELSE 0 END)
               AS BIGINT) AS n_starts,
             CAST(SUM(LEAST(tok_end, (seq + 1) * 256) -
                      GREATEST(tok_start, seq * 256)) AS BIGINT)
               AS seq_tokens,
             md5(string_agg(CAST(doc_id AS VARCHAR), ','
               ORDER BY tok_start, doc_id)) AS docs_md5
      FROM fan GROUP BY shard, seq ORDER BY shard, seq"""))

  /** Temperature-weighted corpus mixing (q154) — the α-smoothed
    * multinomial source weighting of multilingual pretraining
    * (mT5/XLM-R style, α = 0.5): per-language token mass is
    * square-rooted and renormalized, flattening the head so
    * low-resource languages are oversampled; the query reports raw
    * share, smoothed probability, the token allocation at a 1M-token
    * budget, and the resulting epochs (passes over each language's
    * data) — the number every data-mixture card publishes. q86's
    * inverse-frequency weight is the α→0 extreme; this is the tunable
    * middle.
    *
    * Determinism: sqrt is correctly-rounded IEEE in both engines and
    * every input to a float op is an exact integer (< 2^53), so each
    * float result is bit-identical; weights are floored to integer
    * micro-units before renormalizing. Scale shape: one map-side
    * agg to ~#languages rows, then broadcast totals — the corpus is
    * scanned once.
    *
    * Shared q154/q159 smoothed-mixture frame: per-language
    * (lang, n_docs, tok_sum, __t, w, __sw, alloc_tokens) via the
    * α = 0.5 chain (share → sqrt → micro-unit floor → renormalized
    * allocation at a 1M-token budget). */
  private def langMix(s: SparkSession, d: String) = {
    val byLang = Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextOps.tokenCount(col("text")).cast("long"))
          .as("tok_sum"))
    val tot = byLang.agg(sum(col("tok_sum")).as("__t"))
    val withW = byLang.crossJoin(broadcast(tot))
      .withColumn("w",
        floor(sqrt(col("tok_sum").cast("double") / col("__t")) *
          lit(1e6)).cast("long"))
    val totW = withW.agg(sum(col("w")).as("__sw"))
    withW.crossJoin(broadcast(totW))
      .withColumn("alloc_tokens",
        floor((lit(1000000L) * col("w")).cast("double") / col("__sw"))
          .cast("long"))
  }

  /** DuckDB twin of [[langMix]] (CTEs `byl`, `t`, `w`, `sw`, `a`). */
  private val LangMixSql = s"""byl AS (
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(len($Toks)) AS BIGINT) AS tok_sum
        FROM documents GROUP BY lang),
      t AS (SELECT CAST(SUM(tok_sum) AS BIGINT) AS tt FROM byl),
      w AS (
        SELECT lang, n_docs, tok_sum, tt,
               CAST(FLOOR(sqrt(CAST(tok_sum AS DOUBLE) / tt) * 1e6)
                 AS BIGINT) AS w
        FROM byl, t),
      sw AS (SELECT CAST(SUM(w) AS BIGINT) AS sw FROM w),
      a AS (
        SELECT w.*, sw.sw,
               CAST(FLOOR(CAST(1000000 * w AS DOUBLE) / sw) AS BIGINT)
                 AS alloc_tokens
        FROM w, sw)"""

  val q154 = Qry(
    "q154_temperature_mix",
    (s: SparkSession, d: String) => {
      langMix(s, d)
        .select(col("lang"), col("n_docs"), col("tok_sum"),
          r6(col("tok_sum").cast("double") / col("__t")).as("share"),
          col("w"),
          r6(col("w").cast("double") / col("__sw")).as("p"),
          col("alloc_tokens"),
          r6(col("alloc_tokens").cast("double") / col("tok_sum"))
            .as("epochs"))
        .orderBy(col("lang"))
    },
    Some(s"""
      WITH $LangMixSql
      SELECT lang, n_docs, tok_sum,
             ${r6Sql("CAST(tok_sum AS DOUBLE) / tt")} AS share,
             w,
             ${r6Sql("CAST(w AS DOUBLE) / sw")} AS p,
             alloc_tokens,
             ${r6Sql("CAST(alloc_tokens AS DOUBLE) / tok_sum")} AS epochs
      FROM a ORDER BY lang"""))

  /** Cross-corpus vocabulary overlap (q155) — pairwise Jaccard and
    * containment of per-language token vocabularies, the corpus
    * diagnostic behind contamination triage and tokenizer sizing
    * (high containment of corpus B in corpus A means B adds few new
    * types). Exact relational form: distinct (lang, token) pairs,
    * self-joined on token with lang_a < lang_b.
    *
    * Scale shape: per-doc distinct before explode bounds fan-out;
    * one (lang, token) distinct shuffle, then a token-keyed
    * self-join whose per-token fan-out is (#corpora with the
    * token)² — bounded by the corpus count squared, NOT by df, so it
    * stays benign while corpora number dozens. At thousands of
    * corpora the exact join would be replaced by per-corpus vocab
    * HLL sketches + inclusion-exclusion (the q115/q134 machinery). */
  val q155 = Qry(
    "q155_vocab_overlap",
    (s: SparkSession, d: String) => {
      val vocab = Tables.documents(s, d)
        .select(col("lang"),
          explode(array_distinct(TextOps.tokens(col("text"))))
            .as("tok"))
        .distinct()
      val sizes = vocab.groupBy(col("lang"))
        .agg(count(lit(1)).as("vsize"))
      vocab.as("a").join(vocab.as("b"), Seq("tok"))
        .filter(col("a.lang") < col("b.lang"))
        .groupBy(col("a.lang").as("lang_a"), col("b.lang").as("lang_b"))
        .agg(count(lit(1)).as("inter"))
        .join(broadcast(sizes.select(col("lang").as("lang_a"),
          col("vsize").as("size_a"))), Seq("lang_a"))
        .join(broadcast(sizes.select(col("lang").as("lang_b"),
          col("vsize").as("size_b"))), Seq("lang_b"))
        .select(col("lang_a"), col("lang_b"),
          col("size_a"), col("size_b"), col("inter"),
          r6(col("inter").cast("double") /
            (col("size_a") + col("size_b") - col("inter")))
            .as("jaccard"),
          r6(col("inter").cast("double") /
            least(col("size_a"), col("size_b"))).as("containment"))
        .orderBy(col("lang_a"), col("lang_b"))
    },
    Some(s"""
      WITH ex AS (
        SELECT lang, unnest($Toks) AS tok FROM documents),
      v AS (SELECT DISTINCT lang, tok FROM ex),
      sizes AS (SELECT lang, COUNT(*) AS vsize FROM v GROUP BY lang),
      pairs AS (
        SELECT a.lang AS lang_a, b.lang AS lang_b, COUNT(*) AS inter
        FROM v a JOIN v b ON a.tok = b.tok AND a.lang < b.lang
        GROUP BY 1, 2)
      SELECT p.lang_a, p.lang_b, sa.vsize AS size_a, sb.vsize AS size_b,
             p.inter,
             ${r6Sql("CAST(p.inter AS DOUBLE) / " +
               "(sa.vsize + sb.vsize - p.inter)")} AS jaccard,
             ${r6Sql("CAST(p.inter AS DOUBLE) / " +
               "LEAST(sa.vsize, sb.vsize)")} AS containment
      FROM pairs p
      JOIN sizes sa ON sa.lang = p.lang_a
      JOIN sizes sb ON sb.lang = p.lang_b
      ORDER BY p.lang_a, p.lang_b"""))

  /** Keep-first duplicated-span REMOVAL with document reassembly
    * (q156) — the pass q152 only reports: a maximal duplicated span
    * is CUT from doc D iff any of its windows was first seen (lowest
    * doc id) in an EARLIER document (`m_first < D`,
    * [[graft.operators.Dedup.crossDocDupSpansOwned]]); the span's
    * first-occurrence doc keeps its text. Documents are rebuilt from
    * the surviving tokens — the q123 reassembly contract at span
    * granularity. On the planted fixture the mashups are cut
    * ENTIRELY (slice/boilerplate spans touch, and touching intervals
    * merge), while source docs survive except the few whose text a
    * lower-id document already carried.
    *
    * Scale shape: the same two exchanges as q152 produce the owned
    * spans; the rebuild explodes tokens once (the removal pass must
    * touch every token to rewrite text anyway) and anti-joins cut
    * spans PER DOC — a doc-keyed sort-merge anti join with a bounded
    * range predicate, never a cross join. */
  val q156 = Qry(
    "q156_crossdoc_removal",
    (s: SparkSession, d: String) => {
      val corpus = spanCorpus(s, d)
      val lens = corpus.select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_toks"))
      val cut = Dedup
        .crossDocDupSpansOwned(corpus, "doc_id", "text", n = 10)
        .filter(col("m_first") < col("doc"))
        .select(col("doc"), col("m_start"), col("m_end"))
      val cutAgg = cut.groupBy(col("doc").as("doc_id"))
        .agg(count(lit(1)).as("n_cut_spans"),
          sum(col("m_end") - col("m_start")).as("cut_tokens"))
      val pos = corpus.select(col("doc_id"),
          posexplode(TextOps.tokens(col("text"))))
        .toDF("doc_id", "p", "tok")
      val keptAgg = pos.as("p").join(cut.as("c"),
          col("p.doc_id") === col("c.doc") &&
            col("p.p") >= col("c.m_start") &&
            col("p.p") < col("c.m_end"),
          "left_anti")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("kept_tokens"),
          md5(array_join(
            transform(
              array_sort(collect_list(struct(col("p"), col("tok")))),
              x => x.getField("tok")),
            " ")).as("kept_md5"))
      lens
        .join(keptAgg, Seq("doc_id"), "left")
        .join(cutAgg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_toks"),
          coalesce(col("n_cut_spans"), lit(0L)).as("n_cut_spans"),
          coalesce(col("cut_tokens"), lit(0L)).as("cut_tokens"),
          coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
          coalesce(col("kept_md5"), md5(lit(""))).as("kept_md5"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH $SpanCorpusSql,
      dup AS (
        SELECT doc_id, pos AS s0, pos + 10 AS e0, dmin
        FROM (
          SELECT doc_id, pos,
                 MIN(doc_id) OVER (PARTITION BY h) AS dmin,
                 MAX(doc_id) OVER (PARTITION BY h) AS dmax
          FROM w)
        WHERE dmin <> dmax),
      flagged AS (
        SELECT doc_id, s0, e0, dmin,
               CASE WHEN MAX(e0) OVER (
                      PARTITION BY doc_id ORDER BY s0
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    IS NULL
                 OR s0 > MAX(e0) OVER (
                      PARTITION BY doc_id ORDER BY s0
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               THEN 1 ELSE 0 END AS new_grp
        FROM dup),
      labeled AS (
        SELECT doc_id, s0, e0, dmin,
               SUM(new_grp) OVER (
                 PARTITION BY doc_id ORDER BY s0
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS grp
        FROM flagged),
      cut AS (
        SELECT doc_id, MIN(s0) AS m_start, MAX(e0) AS m_end
        FROM labeled GROUP BY doc_id, grp
        HAVING MIN(dmin) < doc_id),
      pos AS (
        SELECT doc_id,
               unnest(range(0, len(toks))) AS p,
               unnest(toks) AS tok
        FROM t),
      kept AS (
        SELECT p.doc_id, p.p, p.tok FROM pos p
        WHERE NOT EXISTS (
          SELECT 1 FROM cut c
          WHERE c.doc_id = p.doc_id
            AND p.p >= c.m_start AND p.p < c.m_end)),
      keptagg AS (
        SELECT doc_id, COUNT(*) AS kept_tokens,
               md5(string_agg(tok, ' ' ORDER BY p)) AS kept_md5
        FROM kept GROUP BY doc_id),
      cutagg AS (
        SELECT doc_id, COUNT(*) AS n_cut_spans,
               CAST(SUM(m_end - m_start) AS BIGINT) AS cut_tokens
        FROM cut GROUP BY doc_id),
      lens AS (SELECT doc_id, len(toks) AS n_toks FROM t)
      SELECT l.doc_id, CAST(l.n_toks AS BIGINT) AS n_toks,
             COALESCE(ca.n_cut_spans, 0) AS n_cut_spans,
             COALESCE(ca.cut_tokens, 0) AS cut_tokens,
             COALESCE(ka.kept_tokens, 0) AS kept_tokens,
             COALESCE(ka.kept_md5, md5('')) AS kept_md5
      FROM lens l
      LEFT JOIN keptagg ka ON ka.doc_id = l.doc_id
      LEFT JOIN cutagg ca ON ca.doc_id = l.doc_id
      ORDER BY l.doc_id"""))

  /** Vocabulary growth curve (q158) — Heaps'-law diagnostics over
    * crawl order: documents in 50-doc ingest batches, each batch
    * reporting its token volume, distinct types, and the types whose
    * corpus-wide FIRST occurrence lands in it, plus the cumulative
    * vocabulary after the batch. A flattening new-type rate is how a
    * crawl shows saturation (more data, no new language); a jump
    * flags a domain shift — the monitoring curve behind "is more of
    * this source still worth ingesting".
    *
    * Scale shape: one token-keyed shuffle for first occurrences
    * (min doc id per type), one batch-keyed shuffle for per-batch
    * stats; the running vocabulary total is a window over the
    * ~(corpus/50) batch rows — agg-of-agg, never row-level. */
  val q158 = Qry(
    "q158_vocab_growth",
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val toks = docs.select(col("doc_id"),
        explode(TextOps.tokens(col("text"))).as("tok"))
      val firsts = toks.groupBy(col("tok"))
        .agg(min(col("doc_id")).as("f"))
        .groupBy(floor(col("f") / 50).cast("long").as("batch"))
        .agg(count(lit(1)).as("new_types"))
      val stats = toks
        .withColumn("batch", floor(col("doc_id") / 50).cast("long"))
        .groupBy(col("batch"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_tokens"),
          countDistinct(col("tok")).as("n_types"))
      stats.join(firsts, Seq("batch"), "left")
        .withColumn("new_types", coalesce(col("new_types"), lit(0L)))
        .withColumn("cum_types",
          sum(col("new_types")).over(Window.orderBy(col("batch"))
            .rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("batch"), col("n_docs"), col("n_tokens"),
          col("n_types"), col("new_types"), col("cum_types"),
          r6(col("new_types").cast("double") / col("n_tokens"))
            .as("novelty"))
        .orderBy(col("batch"))
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, unnest($Toks) AS tok FROM documents),
      firsts AS (
        SELECT CAST(FLOOR(MIN(doc_id) / 50) AS BIGINT) AS batch,
               tok
        FROM toks GROUP BY tok),
      nt AS (
        SELECT batch, COUNT(*) AS new_types FROM firsts
        GROUP BY batch),
      stats AS (
        SELECT CAST(FLOOR(doc_id / 50) AS BIGINT) AS batch,
               COUNT(DISTINCT doc_id) AS n_docs,
               COUNT(*) AS n_tokens,
               COUNT(DISTINCT tok) AS n_types
        FROM toks GROUP BY 1)
      SELECT s.batch, s.n_docs, s.n_tokens, s.n_types,
             COALESCE(nt.new_types, 0) AS new_types,
             CAST(SUM(COALESCE(nt.new_types, 0)) OVER (ORDER BY s.batch
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_types,
             ${r6Sql(
               "CAST(COALESCE(nt.new_types, 0) AS DOUBLE) / s.n_tokens")}
               AS novelty
      FROM stats s LEFT JOIN nt ON nt.batch = s.batch
      ORDER BY s.batch"""))

  /** Mixture materialization (q159) — q154's epochs turned into a
    * concrete oversampled dataset: each document of language l is
    * replicated floor(epochs_l) times, plus one extra copy iff its
    * salted hash bucket falls under the fractional part (in integer
    * percent) — deterministic fractional oversampling, no RNG. The
    * per-language rollup verifies the materialized token mass lands
    * on the q154 allocation (achieved ≈ 1 up to the percent
    * granularity of the fractional gate).
    *
    * Scale shape: the 5-row mixture frame broadcasts onto the corpus
    * scan; the copy count is a map-side expression per doc (the
    * actual replication at 100 TB is the same map-side explode) and
    * the rollup is one ~#languages-key agg. */
  val q159 = Qry(
    "q159_mixture_materialize",
    (s: SparkSession, d: String) => {
      val e = col("alloc_tokens").cast("double") / col("tok_sum")
      val mix = langMix(s, d)
        .withColumn("k", floor(e).cast("long"))
        .withColumn("f_pct",
          floor((e - floor(e)) * lit(100)).cast("long"))
        .select(col("lang"), col("k"), col("f_pct"),
          col("alloc_tokens"))
      val docs = Tables.documents(s, d)
        .select(col("lang"), col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("ntok"))
      docs.join(broadcast(mix), Seq("lang"))
        .withColumn("copies",
          col("k") + when(
            Splits.hashBucket(concat(lit("mix:"),
              col("doc_id").cast("string"))) < col("f_pct"),
            1L).otherwise(0L))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          first(col("k")).as("epochs_floor"),
          first(col("f_pct")).as("frac_pct"),
          first(col("alloc_tokens")).as("alloc_tokens"),
          sum(col("copies")).as("n_materialized"),
          sum(col("ntok") * col("copies")).as("tok_materialized"))
        .select(col("lang"), col("n_docs"), col("epochs_floor"),
          col("frac_pct"), col("alloc_tokens"),
          col("n_materialized"), col("tok_materialized"),
          r6(col("tok_materialized").cast("double") /
            col("alloc_tokens")).as("achieved"))
        .orderBy(col("lang"))
    },
    Some(s"""
      WITH $LangMixSql,
      p AS (
        SELECT lang,
               CAST(FLOOR(CAST(alloc_tokens AS DOUBLE) / tok_sum)
                 AS BIGINT) AS k,
               CAST(FLOOR((CAST(alloc_tokens AS DOUBLE) / tok_sum -
                 FLOOR(CAST(alloc_tokens AS DOUBLE) / tok_sum)) * 100)
                 AS BIGINT) AS f_pct,
               alloc_tokens
        FROM a),
      d2 AS (
        SELECT lang, doc_id, CAST(len($Toks) AS BIGINT) AS ntok
        FROM documents),
      m AS (
        SELECT d2.lang, d2.ntok, p.k, p.f_pct, p.alloc_tokens,
               p.k + CASE WHEN
                 ${bucketSql("'mix:' || CAST(doc_id AS VARCHAR)")}
                   < p.f_pct THEN 1 ELSE 0 END AS copies
        FROM d2 JOIN p ON p.lang = d2.lang)
      SELECT lang, COUNT(*) AS n_docs,
             MIN(k) AS epochs_floor,
             MIN(f_pct) AS frac_pct,
             MIN(alloc_tokens) AS alloc_tokens,
             CAST(SUM(copies) AS BIGINT) AS n_materialized,
             CAST(SUM(ntok * copies) AS BIGINT) AS tok_materialized,
             ${r6Sql("CAST(SUM(ntok * copies) AS DOUBLE)" +
               " / MIN(alloc_tokens)")} AS achieved
      FROM m GROUP BY lang ORDER BY lang"""))

  /** q226 — temperature-scaled mixture quotas ([[graft.operators
    * .Splits.temperatureQuotas]], α = 0.5): apportion a 1000-example
    * budget over the 20 documents sources with weight √count — the
    * GPT-3/Pile data-mixing step that upweights small sources — as
    * EXACT integer largest-remainder apportionment: quotas sum to
    * 1000 by construction, micro-sqrt weights are bit-identical
    * cross-engine (IEEE sqrt is correctly rounded; log/pow are not,
    * which is why α is restricted to {0, 0.5, 1}). The oracle
    * replays weights, floor quotas, remainders, seat ranking and the
    * leftover distribution; a single seat landing on the wrong
    * source breaks the hash. */
  val q226 = Qry(
    "q226_temperature_mix",
    (s: SparkSession, d: String) => {
      val counts = Tables.documents(s, d)
        .groupBy(col("source").as("src"))
        .agg(count(lit(1)).as("c"))
      graft.operators.Splits.temperatureQuotas(counts, "src", "c",
          n = 1000L, alpha = 0.5)
        .orderBy(col("key"))
    },
    Some("""
      WITH c AS (
        SELECT source AS key, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM documents GROUP BY 1),
      w AS (
        SELECT key, cnt,
               CAST(FLOOR(sqrt(CAST(cnt AS DOUBLE)) * 1e6) AS BIGINT)
                 AS w
        FROM c),
      t AS (SELECT SUM(w) AS tw FROM w),
      q AS (
        SELECT key, cnt, w,
               (1000 * w) // tw AS qf, (1000 * w) % tw AS rem
        FROM w, t),
      lo AS (SELECT 1000 - SUM(qf) AS lo FROM q),
      r AS (
        SELECT key, cnt, w, qf,
               ROW_NUMBER() OVER (ORDER BY rem DESC, key)
                 AS seat_rank
        FROM q)
      SELECT key, cnt, w, CAST(qf AS BIGINT) AS quota_floor,
             CAST(seat_rank AS BIGINT) AS seat_rank,
             CAST(qf + CASE WHEN seat_rank <= (SELECT lo FROM lo)
                            THEN 1 ELSE 0 END AS BIGINT) AS quota
      FROM r ORDER BY key"""))

  /** q227 — quota-exact mixture sample: q226's temperature quotas
    * MATERIALIZED — each source contributes exactly its quota of
    * documents, chosen by md5(doc_id) rank (deterministic,
    * engine-independent, stable under corpus growth for the kept
    * prefix — the [[graft.operators.Splits]] hash-order contract).
    * The per-source rank window rides one shuffle on source; the
    * output hashes the per-source census AND an md5 digest of the
    * selected doc_id set, so one wrong document (not just a wrong
    * count) breaks the gate.
    *
    * Scale shape: quotas are a broadcast dimension; the sample is
    * one window over source partitions (bounded by per-source doc
    * count — at 100 TB switch the rank to the q104 epoch-shard form
    * if a single source outgrows a partition). */
  val q227 = Qry(
    "q227_quota_sample",
    (s: SparkSession, d: String) => {
      val counts = Tables.documents(s, d)
        .groupBy(col("source").as("src"))
        .agg(count(lit(1)).as("c"))
      val quotas = graft.operators.Splits.temperatureQuotas(
          counts, "src", "c", n = 200L, alpha = 0.5)
        .select(col("key").as("source"), col("quota"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("pick"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          md5(col("doc_id").cast("string")).as("pick"))
        .join(broadcast(quotas), Seq("source"))
        .withColumn("r", row_number().over(w).cast("long"))
        .filter(col("r") <= col("quota"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_sampled"),
          md5(concat_ws(",",
            sort_array(collect_list(col("doc_id"))))).as("ids_md5"))
        .orderBy(col("source"))
    },
    Some("""
      WITH c AS (
        SELECT source AS key, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM documents GROUP BY 1),
      w AS (
        SELECT key, cnt,
               CAST(FLOOR(sqrt(CAST(cnt AS DOUBLE)) * 1e6) AS BIGINT)
                 AS w
        FROM c),
      t AS (SELECT SUM(w) AS tw FROM w),
      q AS (
        SELECT key, w.w, (200 * w.w) // tw AS qf,
               (200 * w.w) % tw AS rem
        FROM w, t),
      lo AS (SELECT 200 - SUM(qf) AS lo FROM q),
      quotas AS (
        SELECT key AS source,
               qf + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC,
                 key) <= (SELECT lo FROM lo) THEN 1 ELSE 0 END
                 AS quota
        FROM q),
      ranked AS (
        SELECT d.source, d.doc_id,
               ROW_NUMBER() OVER (PARTITION BY d.source
                 ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id)
                 AS r,
               quota
        FROM documents d JOIN quotas USING (source)),
      kept AS (SELECT source, doc_id FROM ranked WHERE r <= quota)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sampled,
             md5(string_agg(CAST(doc_id AS VARCHAR), ','
               ORDER BY doc_id)) AS ids_md5
      FROM kept GROUP BY source ORDER BY source"""))

  /** q231 — exact-substring dedup SCRUB ([[graft.operators.Dedup
    * .scrubDupSpans]]): q152's detected spans actually REMOVED, with
    * Lee-et-al keep-first semantics — each duplicated passage
    * survives only in its lowest-id document (base docs keep their
    * text; the mashups lose their borrowed slices, and the shared
    * boilerplate survives only in the lowest mashup). The gate
    * hashes the md5 of every cleaned doc's rebuilt token stream, so
    * one token kept or cut wrongly anywhere breaks it; the oracle
    * replays windows → islands → ownership → excision → rebuild. */
  val q231 = Qry(
    "q231_dedup_scrub",
    (s: SparkSession, d: String) =>
      graft.operators.Dedup.scrubDupSpans(
          spanCorpus(s, d), "doc_id", "text", n = 10)
        .orderBy(col("doc_id")),
    Some(s"""
      WITH $SpanCorpusSql,
      dup AS (
        SELECT doc_id, pos AS s0, pos + 10 AS e0, dmin AS gmin
        FROM (
          SELECT doc_id, pos,
                 MIN(doc_id) OVER (PARTITION BY h) AS dmin,
                 MAX(doc_id) OVER (PARTITION BY h) AS dmax
          FROM w)
        WHERE dmin <> dmax),
      flagged AS (
        SELECT doc_id, s0, e0, gmin,
               CASE WHEN MAX(e0) OVER (
                      PARTITION BY doc_id ORDER BY s0
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    IS NULL
                 OR s0 > MAX(e0) OVER (
                      PARTITION BY doc_id ORDER BY s0
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               THEN 1 ELSE 0 END AS new_grp
        FROM dup),
      grp AS (
        SELECT doc_id, s0, e0, gmin,
               SUM(new_grp) OVER (PARTITION BY doc_id ORDER BY s0
                 ROWS UNBOUNDED PRECEDING) AS g
        FROM flagged),
      spans AS (
        SELECT doc_id, g, MIN(s0) AS m_start, MAX(e0) AS m_end,
               MIN(gmin) AS m_first
        FROM grp GROUP BY doc_id, g),
      rem AS (
        SELECT doc_id, m_start, m_end FROM spans
        WHERE doc_id <> m_first),
      tok AS (
        SELECT doc_id,
               unnest(range(0, len(toks))) AS i,
               unnest(toks) AS tk
        FROM t),
      kept AS (
        SELECT tok.doc_id, tok.i, tok.tk
        FROM tok
        WHERE NOT EXISTS (
          SELECT 1 FROM rem r
          WHERE r.doc_id = tok.doc_id
            AND tok.i >= r.m_start AND tok.i < r.m_end)),
      cleaned AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_after,
               md5(string_agg(tk, ' ' ORDER BY i)) AS cleaned_md5
        FROM kept GROUP BY doc_id),
      removedagg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans_removed
        FROM rem GROUP BY doc_id),
      lens AS (
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_before FROM t)
      SELECT r.doc_id, l.n_before,
             COALESCE(c.n_after, 0) AS n_after,
             r.n_spans_removed,
             COALESCE(c.cleaned_md5,
               'd41d8cd98f00b204e9800998ecf8427e') AS cleaned_md5
      FROM removedagg r
      JOIN lens l ON l.doc_id = r.doc_id
      LEFT JOIN cleaned c ON c.doc_id = r.doc_id
      ORDER BY r.doc_id"""))

  /** q243 — vocabulary-coverage estimation
    * ([[Corpus.vocabCoverage]], 3-grams): the Good-Turing unseen
    * mass (f1/N — probability the next gram drawn is novel) and the
    * bias-corrected Chao1 richness estimate
    * (D + f1·(f1−1)/(2·(f2+1))) over the corpus 3-gram multiset —
    * the "keep crawling or saturated?" dial, exact integers from
    * the frequency-of-frequencies histogram. One corpus-sized
    * explode+groupBy; everything after is a scalar aggregate of the
    * frequency relation. */
  val q243 = Qry(
    "q243_vocab_coverage",
    (s: SparkSession, d: String) =>
      Corpus.vocabCoverage(Tables.documents(s, d), "text", n = 3),
    Some(s"""
      WITH toks AS (SELECT $Toks AS t FROM documents),
      g AS (SELECT unnest($Sh3) AS g FROM toks),
      cnt AS (SELECT g.g, COUNT(*) AS c FROM g GROUP BY 1),
      a AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS d_distinct,
               CAST(SUM(c) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS f1,
               CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END)
                 AS BIGINT) AS f2
        FROM cnt)
      SELECT n_grams, d_distinct, f1, f2,
             CAST((CAST(f1 AS HUGEINT) * 1000000) // n_grams
               AS BIGINT) AS gt_unseen_ppm,
             CAST((CAST(f1 AS HUGEINT) * (f1 - 1)) // (2 * (f2 + 1))
               AS BIGINT) AS chao1_extra,
             d_distinct + CAST((CAST(f1 AS HUGEINT) * (f1 - 1))
               // (2 * (f2 + 1)) AS BIGINT) AS chao1_total
      FROM a"""))

  val all: Seq[Qry] =
    Seq(q81, q82, q83, q84, q85, q86, q87, q91, q98, q99, q104,
      q120, q123, q152, q153, q154, q155, q156, q158, q159, q226,
      q227, q231, q243)
}
