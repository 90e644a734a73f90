package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Blocked fuzzy entity resolution (record linkage): cluster records
  * whose name strings are within a small edit distance, without ever
  * comparing all pairs.
  *
  * Three-stage shape, each stage chosen for the 100 TB case:
  *  1. EXACT collapse — records group to DISTINCT name strings first
  *     (one partial-aggregable shuffle). All fuzzy work then runs on
  *     the name vocabulary, which is orders of magnitude smaller
  *     than the record stream (Zipfian names collapse hard).
  *  2. BLOCKED pairing — names self-join on a cheap blocking key (a
  *     short prefix here; phonetic keys or q-gram buckets slot in the
  *     same way). The quadratic comparison is confined to each block;
  *     `levenshtein` (codegen'd built-in) runs only inside blocks,
  *     and the classic blocking recall tradeoff (true matches that
  *     disagree on the block key are never compared) is explicit.
  *  3. TRANSITIVE closure — matched name pairs form a graph; the
  *     shared [[Components]] kernel labels each name with its min
  *     reachable name id, so chains A≈B≈C resolve to one entity even
  *     when A and C exceed the distance threshold.
  */
object EntityRes {

  /** Edit-distance-1 similarity self-join via DELETION-NEIGHBORHOOD
    * blocking (the FastSS / SymSpell scheme): every string emits
    * itself plus its |s| single-character-deletion variants as block
    * keys; two strings within ED 1 ALWAYS share a key (substitution
    * at i → both i-deletions coincide; insertion/deletion → the
    * shorter string IS a variant of the longer), so an equi-join on
    * variants finds every qualifying pair with zero false negatives,
    * and an exact `levenshtein` verify removes the false positives
    * (strings sharing a deletion at different positions can sit at
    * ED 2). Generalizes to ED ≤ k with k-deletion neighborhoods
    * (~|s|^k per-side neighborhood growth — k = 2 implemented as
    * [[editDistance2Pairs]]).
    *
    * Versus q203's prefix filter: that one prunes SET similarity
    * (Jaccard over shingles), this prunes STRING similarity — the
    * record-linkage key normalizer (names, SKUs, URLs) where a
    * single typo must still match.
    *
    * Scale shape: key generation is one map-side HOF (|s|+1 rows per
    * string); deletion variants of length-L strings are near-unique,
    * so posting lists stay tiny and the candidate join is sharp —
    * the opposite of a q-gram join, whose hot grams (shared
    * prefixes) degenerate toward all-pairs. One key exchange, one
    * pair distinct, one verify join.
    *
    * @return (a, b, ed) with a < b and ed = exact Levenshtein ≤ 1
    */
  def editDistance1Pairs(records: DataFrame, idCol: String,
      strCol: String): DataFrame = {
    val base = records.select(col(idCol).as("id"),
        col(strCol).as("s"))
      .filter(col("s").isNotNull)
      .transform(Ckpt.cut)
    // keys = s plus delete-at-i for i in 0..|s|-1 (1-based substr:
    // first i chars ++ chars from i+2 on)
    val keyed = base.select(col("id"), explode(concat(
        array(col("s")),
        transform(sequence(lit(0), length(col("s")) - 1),
          i => concat(col("s").substr(lit(1), i),
            col("s").substr(i + lit(2), length(col("s"))))))).as("k"))
    val cand = keyed.as("l")
      .join(keyed.as("r"), col("l.k") === col("r.k") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"))
      .distinct()
    cand
      .join(base.select(col("id").as("a"), col("s").as("sa")), Seq("a"))
      .join(base.select(col("id").as("b"), col("s").as("sb")), Seq("b"))
      .select(col("a"), col("b"),
        levenshtein(col("sa"), col("sb")).cast("long").as("ed"))
      .filter(col("ed") <= 1)
  }

  /** Edit-distance ≤ 2 similarity self-join — the k = 2 instance of
    * the FastSS deletion-neighborhood scheme documented on
    * [[editDistance1Pairs]]: every string emits its ≤2-deletion
    * neighborhood (itself, |s| delete-one variants, |s|·(|s|−1)/2
    * delete-two variants — ~|s|²/2 keys per string). Soundness of
    * the block: if ED(u,v) = e ≤ 2, an optimal alignment has
    * s substitutions + i insertions + d deletions with
    * s + i + d = e; dropping the substituted/inserted/deleted
    * positions from each side leaves one COMMON string reachable by
    * ≤ e deletions from both — so every qualifying pair shares a
    * neighborhood key and the equi-join has zero false negatives.
    * The converse fails (ab/ba share a key at distance 2 deletions
    * but ED can exceed it in general), hence the exact `levenshtein`
    * verify.
    *
    * Scale shape: key generation stays map-side (nested HOF, no
    * explode-join); `array_distinct` collapses the duplicate
    * variants of repeated characters before the explode, and
    * two-deletion variants of length-L strings are still near-unique
    * so posting lists stay sharp. One key exchange, one pair
    * distinct, one verify join — the growth versus k = 1 is the
    * ~L²/2 keys per string (the documented |s|^k neighborhood
    * cost), not any join blow-up.
    *
    * @return (a, b, ed) with a < b and ed = exact Levenshtein ≤ 2
    */
  def editDistance2Pairs(records: DataFrame, idCol: String,
      strCol: String): DataFrame = {
    val base = records.select(col(idCol).as("id"),
        col(strCol).as("s"))
      .filter(col("s").isNotNull)
      .transform(Ckpt.cut)
    val cand = editDistance2Candidates(base)
    cand
      .join(base.select(col("id").as("a"), col("s").as("sa")), Seq("a"))
      .join(base.select(col("id").as("b"), col("s").as("sb")), Seq("b"))
      .select(col("a"), col("b"),
        levenshtein(col("sa"), col("sb")).cast("long").as("ed"))
      .filter(col("ed") <= 2)
  }

  /** Candidate stage of [[editDistance2Pairs]], exposed so scale
    * probes can assert the posting-list bound directly: (a, b) pairs
    * (a < b) sharing at least one ≤2-deletion variant — a superset
    * of the true ED ≤ 2 pairs (FastSS guarantees no false
    * negatives), before Levenshtein verification. Input must be an
    * (id, s) frame. */
  def editDistance2Candidates(base: DataFrame): DataFrame = {
    val L = length(col("s"))
    val idx = sequence(lit(0), L - 1)
    // delete position i (0-based): first i chars ++ chars from i+2
    def del1(s: Column, i: Column) = concat(s.substr(lit(1), i),
      s.substr(i + lit(2), length(s)))
    // delete i < j: [1,i) ++ (i,j) ++ (j, L]
    def del2(s: Column, i: Column, j: Column) = concat(
      s.substr(lit(1), i),
      s.substr(i + lit(2), j - i - lit(1)),
      s.substr(j + lit(2), length(s)))
    val neigh = when(L === 0, array(col("s"))).otherwise(
      array_distinct(concat(
        array(col("s")),
        transform(idx, i => del1(col("s"), i)),
        filter(
          flatten(transform(idx, i => transform(idx, j =>
            when(j > i, del2(col("s"), i, j))
              .otherwise(lit(null).cast("string"))))),
          v => v.isNotNull))))
    val keyed = base.select(col("id"), explode(neigh).as("k"))
    keyed.as("l")
      .join(keyed.as("r"), col("l.k") === col("r.k") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"))
      .distinct()
  }

  /** Sorted-neighborhood blocking (Hernández & Stolfo 1995) — the
    * third member of the blocking family (q209/q212 block by
    * deletion variants, [[resolve]] by key prefix): sort all records
    * by a blocking key and emit every pair within a sliding window
    * of `w` consecutive records. Catches near-matches that share no
    * prefix or variant (numeric keys off by one, sort-adjacent
    * typos) at a GUARANTEED linear candidate budget: exactly
    * (w−1)·n pairs, data-skew-proof — hot keys cannot blow up a
    * posting list because the window is positional.
    *
    * Scale shape — no global-window single task: the total order is
    * computed DISTRIBUTED as range-repartition by key → per-
    * partition row_number → plus broadcast cumulative partition
    * offsets (one #partitions-sized frame; the rank is well-defined
    * regardless of where the sampled range boundaries fall because
    * (key, id) is a total order). Window pairs come from a bucket
    * equi-join (bucket = rank div w, right side duplicated into its
    * predecessor bucket — each qualifying pair matches exactly one
    * bucket copy), never a rank-band theta-join.
    *
    * @return (a, b, dist, key_a, key_b) — one row per ordered pair
    *         within the window, dist = rank distance ∈ [1, w−1] */
  def sortedNeighborhoodPairs(records: DataFrame, idCol: String,
      keyCol: String, w: Int): DataFrame = {
    require(w >= 2, s"window must be >= 2: $w")
    import org.apache.spark.sql.expressions.Window
    val local = records.select(col(idCol).as("id"),
        col(keyCol).as("key"))
      .repartitionByRange(col("key"), col("id"))
      .withColumn("pid", spark_partition_id())
      .withColumn("lrk", row_number().over(
        Window.partitionBy(col("pid"))
          .orderBy(col("key"), col("id"))))
    val offsets = local.groupBy(col("pid"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(
        sum(col("cnt")).over(Window.orderBy(col("pid"))
          .rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("pid"), col("off"))
    val ranked = local
      .join(broadcast(offsets), Seq("pid"))
      .select(col("id"), col("key"),
        (col("off") + col("lrk")).as("rk"))
      .withColumn("bkt", expr(s"(rk - 1) DIV $w"))
      .transform(Ckpt.cut)
    val left = ranked.select(col("bkt"), col("rk").as("rka"),
      col("id").as("a"), col("key").as("key_a"))
    val right0 = ranked.select(col("bkt"), col("rk").as("rkb"),
      col("id").as("b"), col("key").as("key_b"))
    val right = right0.unionByName(
      right0.withColumn("bkt", col("bkt") - 1))
    left.join(right, Seq("bkt"))
      .filter(col("rkb") > col("rka") && col("rkb") - col("rka") < w)
      .select(col("a"), col("b"),
        (col("rkb") - col("rka")).as("dist"),
        col("key_a"), col("key_b"))
  }

  /** Resolve records to entities by fuzzy name identity.
    *
    * @param records one row per record: `idCol` (unique long) +
    *                `nameCol`
    * @param blockPrefix blocking-key length (name prefix, exact)
    * @param maxDist  max Levenshtein distance to match within block
    * @return one row per distinct name: name, name_id (min record id
    *         bearing it), n_recs, entity_id (min name_id in cluster)
    */
  def resolve(records: DataFrame, idCol: String, nameCol: String,
      blockPrefix: Int, maxDist: Int): DataFrame = {
    val names = records
      .groupBy(col(nameCol).as("name"))
      .agg(min(col(idCol)).as("name_id"), count(lit(1)).as("n_recs"))
    val blocked = names
      .withColumn("blk", substring(col("name"), 1, blockPrefix))
    val edges = blocked.select(col("blk"), col("name_id").as("a"),
        col("name").as("na"))
      .join(blocked.select(col("blk"), col("name_id").as("b"),
        col("name").as("nb")), Seq("blk"))
      .filter(col("a") < col("b") &&
        levenshtein(col("na"), col("nb")) <= maxDist)
      .select(col("a"), col("b"))
    val comp = Components.connectedComponents(
      names.select(col("name_id")), "name_id", edges, "a", "b")
    names.join(comp, names("name_id") === comp("id"))
      .select(col("name"), col("name_id"), col("n_recs"),
        col("component").as("entity_id"))
  }
}
