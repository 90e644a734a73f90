package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Qry, Tables}
import graft.functions.Exact
import graft.operators.{Graph, Importance, Sq8, TextClassifier}
import Q._

/** Second curation wave: DSIR-style importance weighting for data
  * selection (q166) and int8 scalar-quantized similarity search with
  * exact re-rank (q167). Both oracles replay the full arithmetic —
  * hashed features, smoothing, quantization, integer dots — from the
  * raw tables.
  */
object Curation2 {

  private val B = 256

  /** DuckDB bucket 0..255 from the first md5 byte of expression
    * `g` — mirrors `conv(substring(md5(g), 1, 2), 16, 10)`. */
  private def md5ByteSql(g: String): String = {
    def nib(i: Int) =
      s"(strpos('0123456789abcdef', substr(md5($g), $i, 1)) - 1)"
    s"((${nib(1)} * 16 + ${nib(2)}) % $B)"
  }

  /** q166 — hashed-bigram importance weights ([[graft.operators
    * .Importance.hashedNgramWeights]]): English documents are the
    * target domain; every document scores the count-weighted mean
    * nano-ratio of target vs raw bucket probability over 256 hashed
    * bigram buckets (add-one smoothed). The 25 most target-like
    * documents surface — the selection step of importance
    * resampling. Integer end to end except one pinned IEEE division
    * per bucket. */
  val q166 = Qry(
    "q166_importance_weights",
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      Importance.hashedNgramWeights(
          docs.withColumn("tgt", col("lang") === "en"),
          "doc_id", "text", "tgt", buckets = B)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .orderBy(col("imp_nano").desc, col("doc_id"))
        .limit(25)
        .select(col("doc_id"), col("lang"), col("n_feats"),
          col("imp_nano"))
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, lang = 'en' AS tgt, ${Signals.Toks} AS t
        FROM documents),
      g AS (
        SELECT doc_id, tgt,
               unnest(list_transform(
                 list_filter(list_zip(t, t[2:]),
                   p -> p[2] IS NOT NULL),
                 p -> p[1] || ' ' || p[2])) AS g
        FROM toks),
      docb AS (
        SELECT doc_id, tgt, ${md5ByteSql("g")} AS b,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM g GROUP BY doc_id, tgt, b),
      bt AS (
        SELECT b, CAST(SUM(c) AS BIGINT) AS r_b,
               CAST(SUM(CASE WHEN tgt THEN c ELSE 0 END) AS BIGINT)
                 AS t_b
        FROM docb GROUP BY b),
      tot AS (
        SELECT CAST(SUM(r_b) AS BIGINT) AS rr,
               CAST(SUM(t_b) AS BIGINT) AS tt
        FROM bt),
      rho AS (
        SELECT b,
               CAST(floor(
                 CAST(CAST(t_b + 1 AS HUGEINT) * (rr + $B) AS DOUBLE) /
                 CAST(CAST(r_b + 1 AS HUGEINT) * (tt + $B) AS DOUBLE)
                 * 1e9 + 0.5)
                 AS BIGINT) AS rho_nano
        FROM bt, tot),
      sc AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_feats,
               CAST(SUM(c * rho_nano) AS BIGINT) AS s
        FROM docb JOIN rho USING (b) GROUP BY doc_id)
      SELECT sc.doc_id, d.lang, n_feats, s // n_feats AS imp_nano
      FROM sc JOIN documents d ON d.doc_id = sc.doc_id
      ORDER BY imp_nano DESC, sc.doc_id LIMIT 25"""))

  /** DuckDB rendering of the [[graft.operators.Sq8]] coding +
    * code-space-cosine chain over `embeddings`: absmax int8 codes,
    * integer self-dots, and the two-sqrt one-division cosine —
    * shared by the q167/q179 oracles. Yields CTEs `coded`, `codes`
    * (with `q` codes and `n2` self-dot). */
  private def sq8CodesSql: String = s"""
      coded AS (
        SELECT vec_id, label, embedding,
               list_max(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE)))) AS scale
        FROM embeddings),
      codes AS (
        SELECT vec_id, label, embedding,
               q,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(q, x -> x * x)),
                 (acc, x) -> acc + x) AS n2
        FROM (
          SELECT vec_id, label, embedding,
                 CASE WHEN scale = 0
                   THEN list_transform(embedding,
                     x -> CAST(0 AS BIGINT))
                   ELSE list_transform(embedding,
                     x -> CAST(floor(CAST(x AS DOUBLE) * 127 / scale
                       + 0.5) AS BIGINT))
                 END AS q
          FROM coded))"""

  /** DuckDB code-space cosine between two `codes` rows `a`/`b` —
    * mirrors `Sq8.codeCos` (zero self-dot scores 0; identical
    * two-sqrt one-division IEEE chain). */
  private def sq8CosSql(a: String, b: String): String = s"""
      CASE WHEN $a.n2 = 0 OR $b.n2 = 0 THEN 0.0
           ELSE CAST(list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(list_zip($a.q, $b.q),
                      z -> z[1] * z[2])),
                  (acc, x) -> acc + x) AS DOUBLE)
                / (sqrt(CAST($a.n2 AS DOUBLE)) *
                   sqrt(CAST($b.n2 AS DOUBLE)))
      END"""

  /** q167 — int8 scalar-quantized ANN with exact re-rank
    * ([[graft.operators.Sq8.searchTopK]]): absmax codes + integer
    * dot, normalized by the stored integer self-dots into a
    * code-space cosine (the scales cancel — the nomination metric
    * mirrors the re-rank metric, which is what keeps recall honest
    * at corpus scale), nominate 20 candidates per query; the exact
    * cosine re-ranks them to a top 5. Both the approximate and the
    * exact score are pinned, so the oracle catches a wrong
    * quantizer OR a wrong re-rank. */
  val q167 = Qry(
    "q167_sq8_rerank",
    (s: SparkSession, d: String) => {
      val e = Tables.embeddings(s, d)
      Sq8.searchTopK(e.filter(col("vec_id") < 8), e,
          "vec_id", "embedding", m = 20, k = 5)
        .select(col("q_id"), col("rank"), col("n_id"),
          round(col("cos"), 6).as("cos"),
          round(col("acos"), 6).as("acos"))
        .orderBy(col("q_id"), col("rank"))
    },
    Some(s"""
      WITH $sq8CodesSql,
      cand AS (
        SELECT a.vec_id AS q_id, b.vec_id AS n_id,
               a.embedding AS q_emb, b.embedding AS n_emb,
               ${sq8CosSql("a", "b")} AS acos
        FROM codes a JOIN codes b
          ON a.vec_id < 8 AND a.vec_id <> b.vec_id),
      appr AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
          ORDER BY acos DESC, n_id) AS arank
        FROM cand),
      ex AS (
        SELECT q_id, n_id, acos,
               ${SimilarityQ.cosSql("q_emb", "n_emb")} AS cos
        FROM appr WHERE arank <= 20),
      rk AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
          ORDER BY cos DESC, n_id) AS rank
        FROM ex)
      SELECT q_id, rank, n_id,
             ROUND(cos, 6) AS cos, ROUND(acos, 6) AS acos
      FROM rk WHERE rank <= 5 ORDER BY q_id, rank"""))

  /** q173 — contrastive triplet mining: for each anchor, the hardest
    * positive (exact top-1 cosine neighbor) plus four deterministic
    * hash-picked random negatives — the (anchor, positive, negatives)
    * batches an embedding-training pipeline samples. Negatives come
    * from md5("anchor#j") mod corpus-size (vec_ids are contiguous by
    * the testdata contract; a rank join replaces the modulo when ids
    * are sparse), skipping collisions with the anchor or its
    * positive. Every cosine is pinned, so the oracle catches a wrong
    * neighbor AND a wrong sampler.
    *
    * Scale shape: the positive leg is the documented bounded brute
    * baseline (LSH/IVF/PQ are the corpus-scale paths); the negative
    * leg is a map-side hash + one broadcast-size join back to
    * vectors + the pair-cosine evaluation — linear in anchors. */
  val q173 = Qry(
    "q173_contrastive_triplets",
    (s: SparkSession, d: String) => {
      import graft.operators.Similarity
      val e = Tables.embeddings(s, d)
      val nTab = e.agg(count(lit(1)).as("nn"))
      val anchors = e.filter(col("vec_id") < 30)
      val pos = Similarity.topKBrute(anchors, e, "vec_id",
          "embedding", k = 1)
        .select(col("q_id").as("a_id"), col("n_id").as("pos_id"),
          col("cos").as("pos_cos"))
      val negs = anchors.select(col("vec_id").as("a_id"))
        .crossJoin(broadcast(nTab))
        .select(col("a_id"), col("nn"),
          explode(expr("sequence(1, 4)")).as("j"))
        .select(col("a_id"), col("j"),
          (conv(substring(md5(concat(col("a_id").cast("string"),
              lit("#"), col("j").cast("string"))), 1, 8), 16, 10)
            .cast("bigint") % col("nn")).as("neg_id"))
      val withPos = negs.join(pos, Seq("a_id"))
        .filter(col("neg_id") =!= col("a_id") &&
          col("neg_id") =!= col("pos_id"))
      val aEmb = e.select(col("vec_id").as("a_id"),
        col("embedding").as("a_emb"))
      val nEmb = e.select(col("vec_id").as("neg_id"),
        col("embedding").as("n_emb"))
      val negRows = withPos
        .join(aEmb, Seq("a_id")).join(nEmb, Seq("neg_id"))
        .select(col("a_id"), lit("neg").as("role"), col("j"),
          col("neg_id").as("other_id"),
          round(Similarity.cosine(col("a_emb"), col("n_emb")), 6)
            .as("cos"))
      val posRows = pos.select(col("a_id"), lit("pos").as("role"),
        lit(0).as("j"), col("pos_id").as("other_id"),
        round(col("pos_cos"), 6).as("cos"))
      posRows.unionByName(negRows)
        .orderBy(col("a_id"), col("role"), col("j"))
    },
    Some(s"""
      WITH n AS (SELECT COUNT(*) AS nn FROM embeddings),
      anchors AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id < 30),
      scored AS (
        SELECT a.vec_id AS a_id, e.vec_id AS n_id,
               ${SimilarityQ.cosSql("a.embedding", "e.embedding")}
                 AS cos
        FROM anchors a JOIN embeddings e ON e.vec_id <> a.vec_id),
      pos AS (
        SELECT a_id, n_id AS pos_id, cos AS pos_cos
        FROM scored
        QUALIFY ROW_NUMBER() OVER (PARTITION BY a_id
          ORDER BY cos DESC, n_id) = 1),
      negs AS (
        SELECT a.vec_id AS a_id, t.j,
               ${Q.md5Hex32Sql(
                 "a.vec_id || '#' || t.j", 1)} % nn AS neg_id
        FROM anchors a, n, unnest(generate_series(1, 4)) AS t(j)),
      kept AS (
        SELECT g.a_id, g.j, g.neg_id, p.pos_id, p.pos_cos
        FROM negs g JOIN pos p ON p.a_id = g.a_id
        WHERE g.neg_id <> g.a_id AND g.neg_id <> p.pos_id),
      negrows AS (
        SELECT k.a_id, 'neg' AS role, CAST(k.j AS INTEGER) AS j,
               k.neg_id AS other_id,
               ROUND(${SimilarityQ.cosSql("ae.embedding",
                 "ne.embedding")}, 6) AS cos
        FROM kept k
        JOIN embeddings ae ON ae.vec_id = k.a_id
        JOIN embeddings ne ON ne.vec_id = k.neg_id),
      posrows AS (
        SELECT a_id, 'pos' AS role, 0 AS j, pos_id AS other_id,
               ROUND(pos_cos, 6) AS cos
        FROM pos)
      SELECT * FROM posrows
      UNION ALL SELECT * FROM negrows
      ORDER BY a_id, role, j"""))

  /** q177 — per-dimension embedding statistics (the feature-
    * engineering / drift-audit pass before standardization or
    * quantizer training): mean, standard deviation, and 3σ outlier
    * count for each of the 64 dimensions. Element values snap to 7
    * decimals and sum exactly (the q137-oracle contract: `Exact.sum`
    * for x, a decimal sum for x², whose double product is not exact at
    * scale 14); variance closes in mirrored double arithmetic (DuckDB
    * errors on decimal widths past 38, so the exact sums are doubles
    * for the closing products); the outlier test squares instead of
    * sqrt-ing: (x−μ)² > 9σ² — one fewer float op to mirror.
    *
    * Scale shape: one partial-aggregable (dim) rollup of the
    * exploded elements (64 rows out of any corpus), then a broadcast
    * of the 64-row stats back over a second scan for the outlier
    * count. */
  val q177 = Qry(
    "q177_embedding_dim_stats",
    (s: SparkSession, d: String) => {
      val elems = Tables.embeddings(s, d)
        .select(posexplode(col("embedding")).as(Seq("j", "x0")))
        .select(col("j"), col("x0"),
          round(col("x0").cast("double"), 7).as("x"))
      val stats = elems.groupBy(col("j"))
        .agg(count(lit(1)).as("n"),
          Exact.sum(col("x0").cast("double"), 7, 27).as("sx"),
          sum((col("x") * col("x")).cast("decimal(27,14)"))
            .as("sxx"))
      val nd = col("n").cast("double")
      val sxd = col("sx")
      val sxxd = col("sxx").cast("double")
      val mv = stats.select(col("j"), col("n"),
        (sxd / nd).as("mean"),
        (((nd * sxxd) - (sxd * sxd)) / (nd * nd)).as("vr"))
      val outl = elems.join(broadcast(mv), Seq("j"))
        .groupBy(col("j"))
        .agg(sum(when(
          (col("x") - col("mean")) * (col("x") - col("mean")) >
            lit(9d) * col("vr"), 1L).otherwise(0L))
          .as("n_outliers"))
      mv.join(outl, Seq("j"))
        // r6 on a possibly-negative mean is still cross-engine safe:
        // it is the identical IEEE op sequence on both sides (the
        // helper's non-negative note is about round()-tie semantics)
        .select(col("j"), col("n"), r6(col("mean")).as("mean"),
          r6(sqrt(col("vr"))).as("std"), col("n_outliers"))
        .orderBy(col("j"))
    },
    Some(s"""
      WITH elems AS (
        SELECT u.pos[2] AS j,
               ROUND(CAST(u.pos[1] AS DOUBLE), 7) AS x
        FROM embeddings,
             unnest(list_zip(embedding, range(0, 64))) AS u(pos)),
      stats AS (
        SELECT j, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(x AS DECIMAL(27,7))) AS sx,
               SUM(CAST(x * x AS DECIMAL(27,14))) AS sxx
        FROM elems GROUP BY j),
      mv AS (
        SELECT j, n,
               CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
               ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)) -
                (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) /
               (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS vr
        FROM stats),
      outl AS (
        SELECT e.j,
               CAST(SUM(CASE WHEN (e.x - mv.mean) * (e.x - mv.mean)
                 > 9 * mv.vr THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_outliers
        FROM elems e JOIN mv ON mv.j = e.j
        GROUP BY e.j)
      SELECT mv.j, mv.n, ${r6Sql("mv.mean")} AS mean,
             ${r6Sql("sqrt(mv.vr)")} AS std, o.n_outliers
      FROM mv JOIN outl o ON o.j = mv.j
      ORDER BY mv.j"""))

  /** q179 — routed int8 ANN: the composed SQ8 × IVF index
    * ([[graft.operators.Sq8.searchTopKInCells]]), closing the
    * "composes with IVF routing" contract the way [[graft.operators
    * .Pq.adcTopKInCells]] (q144) does for PQ. The coarse quantizer
    * (q33's per-label centroids) routes each query to its 2 nearest
    * cells; the integer-dot scan runs over those cells' int8 codes
    * ONLY (partition pruning in relational form, 4× less bandwidth
    * inside the scanned cells); the exact cosine re-ranks the top 20
    * to a top 5. The oracle replays centroid derivation, routing,
    * absmax quantization, the integer dot, and the re-rank — wrong
    * cells, a wrong quantizer, or a wrong re-rank each break a
    * pinned column. */
  val q179 = Qry(
    "q179_sq8_ivf_routed",
    (s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      import graft.operators.Similarity
      val e = Tables.embeddings(s, d)
      val cent = Similarity.centroids(e, "label", "embedding", 64)
      val wCent = Window.partitionBy(col("q_id"))
        .orderBy(col("c_cos").desc, col("part"))
      val probes = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        .crossJoin(broadcast(cent))
        .select(col("q_id"), col("part"),
          Similarity.cosine(col("q_emb"), col("centroid")).as("c_cos"))
        .withColumn("rn", row_number().over(wCent))
        .filter(col("rn") <= 2)
        .select(col("q_id").as("vec_id"), col("part").as("label"))
      Sq8.searchTopKInCells(e.filter(col("vec_id") < 8), e,
          "vec_id", "embedding", "label", probes, m = 20, k = 5)
        .select(col("q_id"), col("rank"), col("n_id"), col("cell"),
          round(col("cos"), 6).as("cos"),
          round(col("acos"), 6).as("acos"))
        .orderBy(col("q_id"), col("rank"))
    },
    Some(s"""
      WITH expl AS (
        SELECT label, unnest(list_zip(embedding,
                 range(0, len(embedding)))) AS u
        FROM embeddings),
      cent_elem AS (
        SELECT label AS part, u[2] AS pos,
               CAST(SUM(CAST(ROUND(CAST(u[1] AS DOUBLE), 7)
                   AS DECIMAL(27,7))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS m
        FROM expl GROUP BY label, u[2]),
      cent AS (
        SELECT part, list(m ORDER BY pos) AS centroid
        FROM cent_elem GROUP BY part),
      qv AS (SELECT vec_id AS q_id, embedding AS q_emb
             FROM embeddings WHERE vec_id < 8),
      probes AS (
        SELECT q_id, part FROM (
          SELECT q_id, part,
                 ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
                   ${SimilarityQ.cosSql("q_emb", "centroid")} DESC,
                   part) AS rn
          FROM qv CROSS JOIN cent) t
        WHERE rn <= 2),
      $sq8CodesSql,
      cand AS (
        SELECT p.q_id, b.vec_id AS n_id, b.label AS cell,
               a.embedding AS q_emb, b.embedding AS n_emb,
               ${sq8CosSql("a", "b")} AS acos
        FROM probes p
        JOIN codes b ON b.label = p.part
        JOIN codes a ON a.vec_id = p.q_id
        WHERE b.vec_id <> p.q_id),
      appr AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
          ORDER BY acos DESC, n_id) AS arank
        FROM cand),
      ex AS (
        SELECT q_id, n_id, cell, acos,
               ${SimilarityQ.cosSql("q_emb", "n_emb")} AS cos
        FROM appr WHERE arank <= 20),
      rk AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
          ORDER BY cos DESC, n_id) AS rank
        FROM ex)
      SELECT q_id, rank, n_id, cell,
             ROUND(cos, 6) AS cos, ROUND(acos, 6) AS acos
      FROM rk WHERE rank <= 5 ORDER BY q_id, rank"""))

  /** Renders the q254 fixed-point-ln chain over a (k, rid, d) input
    * CTE named `lnin`: CTEs `lntab`, `lnarg`, `lnval(k, rid, ln)`.
    * ln = lnPpm(d) — identical BIGINTs to [[Graph.withLnPpm]] by
    * construction (same embedded mantissa table, same integer
    * algebra). */
  private def lnChainSql: String = s"""
      lntab(m, lnm) AS (VALUES ${Graph.lnTabValuesSql}),
      lnarg AS (
        SELECT k, rid, d, bl,
          CASE WHEN bl >= 9 THEN d // (1::BIGINT << CAST(bl - 9 AS INT))
               ELSE d * (1::BIGINT << CAST(9 - bl AS INT)) END AS m,
          CASE WHEN bl > 9 THEN d % (1::BIGINT << CAST(bl - 9 AS INT))
               ELSE 0 END AS r
        FROM (SELECT k, rid, d, ${Graph.blCaseSql("d")} AS bl
              FROM lnin) t),
      lnval AS (
        SELECT k, rid, CAST(lnm + (bl - 9) * 693147 +
          CASE WHEN bl > 9 THEN
            CAST(CAST(r AS HUGEINT) * 1000000 AS HUGEINT)
              // (CAST(m AS HUGEINT)
                 * (1::BIGINT << CAST(bl - 9 AS INT)))
          ELSE 0 END AS BIGINT) AS ln
        FROM lnarg JOIN lntab USING (m))"""

  /** q255 — model-based quality classification
    * ([[graft.operators.TextClassifier]]): the CCNet/fastText-style
    * hashed-bigram LINEAR classifier — the standard model-based gate
    * between the heuristic quality signals (q135/q136) and curation.
    * Even doc_ids are the labeled training half (target class =
    * English); Naive-Bayes log-odds weights over 256 hashed bigram
    * buckets train in-plan with the q254 fixed-point ln (identical
    * BIGINTs in both engines — the mantissa table is embedded in
    * this oracle as literals), then EVERY document scores one
    * broadcast integer dot against the 256-row weight table:
    * llr_ppm = Σ c_b·w_ppm(b), keep = llr > 0. The oracle replays
    * hashing, smoothing, ln, dot and decision end to end. */
  val q255 = Qry(
    "q255_quality_classifier",
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val labeled = docs.withColumn("y",
        when(col("doc_id") % 2 === 0, col("lang") === "en"))
      val w = TextClassifier.nbLogOddsWeights(labeled, "doc_id",
        "text", "y", buckets = B)
      TextClassifier.scoreDocs(docs, "doc_id", "text", w, buckets = B)
        .orderBy(col("llr_ppm").desc, col("doc_id"))
        .limit(25)
        .select(col("doc_id"), col("n_feats"), col("llr_ppm"),
          col("keep"))
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, ${Signals.Toks} AS t FROM documents),
      g AS (
        SELECT doc_id,
               unnest(list_transform(
                 list_filter(list_zip(t, t[2:]),
                   p -> p[2] IS NOT NULL),
                 p -> p[1] || ' ' || p[2])) AS g
        FROM toks),
      docb AS (
        SELECT doc_id, ${md5ByteSql("g")} AS b,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM g GROUP BY 1, 2),
      lab AS (
        SELECT doc_id, lang = 'en' AS y
        FROM documents WHERE doc_id % 2 = 0),
      pb AS (
        SELECT b,
               CAST(SUM(CASE WHEN y THEN c ELSE 0 END) AS BIGINT)
                 AS p_b,
               CAST(SUM(CASE WHEN NOT y THEN c ELSE 0 END) AS BIGINT)
                 AS n_b
        FROM docb JOIN lab USING (doc_id) GROUP BY 1),
      tot AS (
        SELECT CAST(SUM(p_b) + $B AS BIGINT) AS pt,
               CAST(SUM(n_b) + $B AS BIGINT) AS nt
        FROM pb),
      lnin AS (
        SELECT 'p1' AS k, b AS rid, p_b + 1 AS d FROM pb
        UNION ALL SELECT 'n1', b, n_b + 1 FROM pb
        UNION ALL SELECT 'pt', -1, pt FROM tot
        UNION ALL SELECT 'nt', -1, nt FROM tot),
      $lnChainSql,
      w AS (
        SELECT p.rid AS b,
               p.ln - (SELECT ln FROM lnval WHERE k = 'pt')
               - n.ln + (SELECT ln FROM lnval WHERE k = 'nt') AS w_ppm
        FROM (SELECT rid, ln FROM lnval WHERE k = 'p1') p
        JOIN (SELECT rid, ln FROM lnval WHERE k = 'n1') n
          USING (rid)),
      sc AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_feats,
               CAST(SUM(CAST(c AS HUGEINT) * COALESCE(w_ppm, 0))
                 AS BIGINT) AS llr_ppm
        FROM docb LEFT JOIN w USING (b) GROUP BY 1)
      SELECT doc_id, n_feats, llr_ppm, llr_ppm > 0 AS keep
      FROM sc ORDER BY llr_ppm DESC, doc_id LIMIT 25"""))

  val all: Seq[Qry] = Seq(q166, q167, q173, q177, q179, q255)
}
