package graft.queries

import org.apache.spark.sql.{SparkSession}
import org.apache.spark.sql.functions._

import graft.{Qry, Tables}
import graft.operators.{BigramLm, Ckpt, Postings, Repetition}
import Q._

/** Corpus statistical signals for training-data curation: the
  * MassiveText repetition rule set (q135), bigram-LM likelihood
  * outlier scoring (q136), and a positional inverted index with
  * phrase-query intersection (q138). All three are documents-table
  * operators whose DuckDB oracles re-derive the full computation from
  * raw text.
  */
object Signals {

  /** chr(31) — the gram separator [[graft.operators.TextOps.grams]]
    * uses; DuckDB spells it chr(31). */
  private[queries] val GramSep = "chr(31)"

  private[queries] val Toks =
    "list_filter(string_split_regex(text, '\\s+'), x -> x <> '')"

  /** DuckDB n-gram list via list_zip over shifted slices (zip pads
    * with NULL at the tail; the filter drops partial grams) —
    * the mirror of [[graft.operators.TextOps.grams]]. */
  private[queries] def gramsSql(t: String, n: Int): String = n match {
    case 1 => t
    case 2 =>
      s"""list_transform(
            list_filter(list_zip($t, $t[2:]), p -> p[2] IS NOT NULL),
            p -> p[1] || $GramSep || p[2])"""
    case 3 =>
      s"""list_transform(
            list_filter(list_zip($t, $t[2:], $t[3:]),
              p -> p[3] IS NOT NULL),
            p -> p[1] || $GramSep || p[2] || $GramSep || p[3])"""
    case _ => sys.error(s"gramsSql: unsupported n=$n")
  }

  /** q135 — per-document repetition signal profile (the Gopher/
    * MassiveText quality rules; [[graft.operators.Repetition]]):
    * top-unigram share, top-bigram share, duplicate-trigram
    * occurrence fraction, and the composite `repetitive` verdict.
    * Complements q84's scalar 1−distinct/total ratio with the
    * which-kind-of-repetition breakdown the curation rules actually
    * threshold on. Thresholds (0.15/0.08/0.05) sit at ~p90 of this
    * corpus so both verdicts are exercised; shares are r6-snapped
    * BEFORE the compare so a boundary doc can't diverge engines. */
  val q135 = Qry(
    "q135_repetition_signals",
    (s: SparkSession, d: String) =>
      Repetition.signals(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), col("n_toks"),
          r6(col("top1_share")).as("top1_share"),
          r6(col("top2_share")).as("top2_share"),
          r6(col("dup3_frac")).as("dup3_frac"))
        .withColumn("repetitive",
          col("top1_share") > 0.15 || col("top2_share") > 0.08 ||
            col("dup3_frac") > 0.05)
        .orderBy(col("doc_id")),
    Some(s"""
      WITH toks AS (SELECT doc_id, $Toks AS t FROM documents),
      g AS (
        SELECT doc_id, 1 AS kind, unnest(${gramsSql("t", 1)}) AS gram
        FROM toks
        UNION ALL
        SELECT doc_id, 2, unnest(${gramsSql("t", 2)}) FROM toks
        UNION ALL
        SELECT doc_id, 3, unnest(${gramsSql("t", 3)}) FROM toks),
      c AS (
        SELECT doc_id, kind, gram, COUNT(*) AS c
        FROM g GROUP BY doc_id, kind, gram),
      per AS (
        SELECT doc_id, kind, MAX(c) AS top_c,
               SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_c,
               SUM(c) AS tot
        FROM c GROUP BY doc_id, kind),
      w AS (
        SELECT doc_id,
               MAX(CASE WHEN kind = 1 THEN tot END) AS n_toks,
               ${r6Sql("""CAST(MAX(CASE WHEN kind = 1 THEN top_c END)
                   AS DOUBLE) / MAX(CASE WHEN kind = 1 THEN tot END)""")}
                 AS top1_share,
               ${r6Sql("""CAST(MAX(CASE WHEN kind = 2 THEN top_c END)
                   AS DOUBLE) / MAX(CASE WHEN kind = 2 THEN tot END)""")}
                 AS top2_share,
               ${r6Sql("""CAST(MAX(CASE WHEN kind = 3 THEN dup_c END)
                   AS DOUBLE) / MAX(CASE WHEN kind = 3 THEN tot END)""")}
                 AS dup3_frac
        FROM per GROUP BY doc_id HAVING n_toks >= 3)
      SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks,
             top1_share, top2_share, dup3_frac,
             (top1_share > 0.15 OR top2_share > 0.08 OR
              dup3_frac > 0.05) AS repetitive
      FROM w ORDER BY doc_id"""))

  /** q136 — bigram-LM likelihood outliers ([[graft.operators
    * .BigramLm]]): the corpus add-one bigram model scores every
    * document by MEAN transition probability; the 15 least-likely
    * documents (statistical outliers — gibberish/boilerplate in a
    * real pipeline) surface with their scores. Integer-nano snapping
    * before every cross-engine sum; ranking and the LIMIT cut order
    * on (score_nano, doc_id) — both integers. */
  val q136 = Qry(
    "q136_bigram_lm_outliers",
    (s: SparkSession, d: String) =>
      BigramLm.scoreDocs(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), col("n_trans"),
          (col("score_nano").cast("double") / lit(1e9)).as("lm_score"),
          col("score_nano"))
        .orderBy(col("score_nano"), col("doc_id"))
        .limit(15)
        .select(col("doc_id"), col("n_trans"), col("lm_score")),
    Some(s"""
      WITH toks AS (SELECT doc_id, $Toks AS t FROM documents),
      pairs AS (
        SELECT doc_id,
               string_split(g, chr(31))[1] AS w1,
               string_split(g, chr(31))[2] AS w2
        FROM (SELECT doc_id, unnest(${gramsSql("t", 2)}) AS g
              FROM toks)),
      model AS (
        SELECT w1, w2, COUNT(*) AS c12 FROM pairs GROUP BY w1, w2),
      prefix AS (
        SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1
        FROM model GROUP BY w1),
      vocab AS (
        SELECT COUNT(DISTINCT tok) AS v
        FROM (SELECT unnest([w1, w2]) AS tok FROM model)),
      scored AS (
        SELECT doc_id,
               CAST(FLOOR(CAST(c12 + 1 AS DOUBLE)
                 / CAST(c1 + v AS DOUBLE) * 1e9 + 0.5) AS BIGINT)
                 AS p_nano
        FROM pairs
        JOIN model USING (w1, w2)
        JOIN prefix USING (w1)
        CROSS JOIN vocab),
      per AS (
        SELECT doc_id, COUNT(*) AS n_trans,
               CAST(SUM(p_nano) AS BIGINT) // COUNT(*) AS score_nano
        FROM scored GROUP BY doc_id)
      SELECT doc_id, n_trans,
             CAST(score_nano AS DOUBLE) / 1e9 AS lm_score
      FROM per ORDER BY score_nano, doc_id LIMIT 15"""))

  /** q138 — positional inverted index + phrase intersection
    * ([[graft.operators.Postings]]): the corpus's most frequent
    * bigram becomes the phrase query (data-derived, tiebreak by
    * text), resolved purely against the (term, doc, pos) postings
    * relation — posting of w1 at p meets posting of w2 at p+1.
    * Top-25 documents by hit count. */
  val q138 = Qry(
    "q138_phrase_postings",
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val posts = Postings.positional(docs, "doc_id", "text")
      val phrase = Postings.topBigram(docs, "text")
      Postings.phraseHits(posts, "doc_id", phrase, "w1", "w2")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hits"), min(col("pos")).as("first_pos"))
        .crossJoin(broadcast(phrase))
        .select(col("doc_id"), col("w1"), col("w2"),
          col("n_hits"), col("first_pos"))
        .orderBy(col("n_hits").desc, col("doc_id"))
        .limit(25)
    },
    Some(s"""
      WITH toks AS (SELECT doc_id, $Toks AS t FROM documents),
      bg AS (
        SELECT unnest(${gramsSql("t", 2)}) AS g FROM toks),
      top1 AS (
        SELECT string_split(g, chr(31))[1] AS w1,
               string_split(g, chr(31))[2] AS w2
        FROM (SELECT g, COUNT(*) AS c FROM bg GROUP BY g
              ORDER BY c DESC, g LIMIT 1)),
      posts AS (
        SELECT doc_id, unnest(t) AS tok,
               generate_subscripts(t, 1) AS pos
        FROM toks),
      p1 AS (SELECT doc_id, pos FROM posts, top1 WHERE tok = w1),
      p2 AS (SELECT doc_id, pos FROM posts, top1 WHERE tok = w2),
      hits AS (
        SELECT p1.doc_id, p1.pos
        FROM p1 JOIN p2 ON p1.doc_id = p2.doc_id
                       AND p2.pos = p1.pos + 1)
      SELECT doc_id, (SELECT w1 FROM top1) AS w1,
             (SELECT w2 FROM top1) AS w2,
             COUNT(*) AS n_hits,
             CAST(MIN(pos) AS BIGINT) AS first_pos
      FROM hits GROUP BY doc_id
      ORDER BY n_hits DESC, doc_id LIMIT 25"""))

  /** q219 — importance-based domain selection (the DSIR shape:
    * Xie et al.'s data selection via importance resampling, with the
    * repo's derandomized-selection contract): score every document
    * under TWO bigram models — one trained on the TARGET domain
    * (source = src7) via [[BigramLm.scoreAgainst]] (left-join
    * smoothing: unseen grams get their add-one floor, so
    * out-of-domain text is penalized, not dropped), one trained on
    * the full corpus — and keep documents whose target/corpus
    * likelihood ratio ≥ 1 (ratio in exact integer ppm of the two
    * nano-unit means; a FIXED threshold, so selection is map-side —
    * no global ranking window). The digest is the per-source
    * selected/rejected census with n_trans sums and the exact ppm
    * extremes. Fixture honesty (the q62 note): the synthetic corpus
    * shares one vocabulary across sources, so enrichment is mild —
    * the query verifies the two-model mechanics, ratio algebra, and
    * unseen-gram smoothing, not semantic domain separation.
    *
    * Scale shape: the corpus is tokenized ONCE into the aggregated
    * per-doc gram relation (checkpointed; both models and both
    * scoring passes consume it — the target model's training grams
    * are a semi-join of it), model aggregates are model-sized,
    * scoring joins AQE-broadcastable, selection and census one
    * partial aggregate. */
  val q219 = Qry(
    "q219_importance_selection",
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      // tokenize ONCE: both models and both scoring passes consume
      // the same checkpointed gram relation
      val g = BigramLm.docGrams(docs, "doc_id", "text")
        .transform(Ckpt.cut)
      val tgtGrams = g.join(
        docs.filter(col("source") === "src7").select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      val t = BigramLm.scoreAgainstGrams(tgtGrams, g, "doc_id")
        .select(col("doc_id"), col("n_trans"),
          col("score_nano").as("t_nano"))
      val sc = BigramLm.scoreAgainstGrams(g, g, "doc_id")
        .select(col("doc_id"), col("score_nano").as("s_nano"))
      t.join(sc, Seq("doc_id"))
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .withColumn("ratio_ppm",
          expr("(t_nano * CAST(1000000 AS BIGINT))" +
            " DIV GREATEST(s_nano, CAST(1 AS BIGINT))"))
        .groupBy(col("source"),
          (col("ratio_ppm") >= 1000000L).as("selected"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_trans")).as("sum_trans"),
          min(col("ratio_ppm")).as("min_ppm"),
          max(col("ratio_ppm")).as("max_ppm"))
        .orderBy(col("source"), col("selected"))
    },
    Some {
      def modelSql(p: String, trainRel: String) = s"""
      ${p}model AS MATERIALIZED (
        SELECT w1, w2, CAST(SUM(cnt) AS BIGINT) AS c12
        FROM $trainRel GROUP BY 1, 2),
      ${p}prefix AS (
        SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1
        FROM ${p}model GROUP BY 1),
      ${p}vocab AS (
        SELECT COUNT(DISTINCT tok) AS v
        FROM (SELECT unnest([w1, w2]) AS tok FROM ${p}model)),
      ${p}per AS MATERIALIZED (
        SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_trans,
               CAST(SUM(p_nano * cnt) AS BIGINT)
                 // CAST(SUM(cnt) AS BIGINT) AS score_nano
        FROM (
          SELECT dg.doc_id, dg.cnt,
                 CAST(FLOOR(CAST(COALESCE(m.c12, 0) + 1 AS DOUBLE)
                   / CAST(COALESCE(pf.c1, 0)
                       + (SELECT v FROM ${p}vocab) AS DOUBLE)
                   * 1e9 + 0.5) AS BIGINT) AS p_nano
          FROM dg
          LEFT JOIN ${p}model m ON m.w1 = dg.w1 AND m.w2 = dg.w2
          LEFT JOIN ${p}prefix pf ON pf.w1 = dg.w1)
        GROUP BY doc_id)"""
      s"""
      WITH toks AS (SELECT doc_id, source, $Toks AS t FROM documents),
      pairs AS (
        SELECT doc_id,
               string_split(g, $GramSep)[1] AS w1,
               string_split(g, $GramSep)[2] AS w2
        FROM (SELECT doc_id, unnest(${gramsSql("t", 2)}) AS g
              FROM toks)),
      dg AS MATERIALIZED (
        SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM pairs GROUP BY 1, 2, 3),
      tgt AS (
        SELECT dg.* FROM dg
        JOIN documents USING (doc_id) WHERE source = 'src7'),
      ${modelSql("t_", "tgt")},
      ${modelSql("s_", "dg")},
      w AS (
        SELECT doc.source, tp.n_trans,
               (tp.score_nano * 1000000)
                 // GREATEST(sp.score_nano, 1) AS ratio_ppm
        FROM t_per tp
        JOIN s_per sp USING (doc_id)
        JOIN documents doc USING (doc_id))
      SELECT source, (ratio_ppm >= 1000000) AS selected,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(n_trans) AS BIGINT) AS sum_trans,
             MIN(ratio_ppm) AS min_ppm, MAX(ratio_ppm) AS max_ppm
      FROM w GROUP BY 1, 2 ORDER BY source, selected"""
    })

  val all: Seq[Qry] = Seq(q135, q136, q138, q219)
}
