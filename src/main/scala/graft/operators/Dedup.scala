package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate detection for LLM training-data pipelines
  * (SURVEY.md §2.B G13): word-shingle sets, MinHash signatures,
  * LSH banding, SimHash, and set-Jaccard verification.
  *
  * All hashing stays in md5-hex-string space (lexicographic MIN over
  * uniformly-distributed hex strings is a valid minhash), so every
  * step is reproducible in ANSI-ish SQL for the DuckDB oracle — and
  * every step is a codegen'd Column expression, no UDFs.
  *
  * Scale shape: per-doc signature computation is shuffle-free map
  * work; LSH banding shuffles (band_idx, band_key) once; only
  * same-bucket docs are ever paired — the quadratic all-pairs join
  * (see [[shingleJaccard]] brute force) is replaced by
  * O(candidates). Bucket skew (a band key shared by thousands of
  * docs at 100 TB) is bounded because identical band keys imply
  * near-identical docs; AQE skew-join handles the residue.
  */
object Dedup {

  /** Distinct word n-gram shingles of `text`, via the native
    * [[graft.functions.ShingleNGrams]] kernel (bit-equivalent to the
    * HOF formulation `array_distinct(transform(sequence(0, size-n),
    * i -> concat_ws(' ', slice(toks, i+1, n))))`, but one codegen'd
    * kernel call per row — the interpreted HOF chain dominated every
    * shingle-based query's profile). */
  def shingleSet(text: Column, n: Int): Column =
    call_function("shingles", TextOps.tokens(text), lit(n), lit(true))

  /** MinHash signature: element s is MIN over shingles of
    * md5("s#" + shingle) — k independent permutation approximations. */
  def minhashSignature(shingles: Column, k: Int): Column =
    array((0 until k).map(s =>
      array_min(transform(shingles,
        g => md5(concat(lit(s + "#"), g))))): _*)

  /** LSH band keys: the signature cut into `bands` groups of
    * `rows` = k/bands elements, each group hashed to one key. The
    * band index is folded into the key so keys from different bands
    * can never collide and a single-column join suffices. Docs
    * sharing ANY band key become candidate pairs. */
  def bandKeys(sig: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map(j =>
      md5(concat_ws("|",
        lit(j.toString) +: (0 until rows).map(r =>
          sig.getItem(j * rows + r)): _*))): _*)

  /** Exact set Jaccard |A∩B| / |A∪B| (0 for two empty sets). */
  def setJaccard(a: Column, b: Column): Column = {
    val union = size(array_distinct(concat(a, b)))
    when(union === 0, lit(0d))
      .otherwise(size(array_intersect(a, b)) / union.cast("double"))
  }

  /** Full MinHash-LSH near-dup pipeline: docs(idCol, textCol) →
    * candidate pairs (a < b) sharing ≥1 band key, verified with exact
    * shingle Jaccard. One shuffle on band key, one on the pair. */
  def lshNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, bands: Int, minJaccard: Double): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val rows = k / bands
    val sh = docs.select(
        col(idCol).as("id"),
        shingleSet(col(textCol), n).as("shingles"))
      // docs shorter than one shingle all hash to the SAME (null)
      // signature — without this filter they form one giant LSH
      // bucket and the candidate join goes quadratic at scale
      .filter(size(col("shingles")) > 0)
    // Only (band_key, id) goes through the band shuffle — the
    // shingle arrays (the heavy payload at corpus scale) are joined
    // back onto the DEDUPED candidate pairs afterwards, so each
    // array crosses the wire once per surviving pair side, not once
    // per band per candidate.
    val banded = sh.select(col("id"),
      explode(bandKeys(minhashSignature(col("shingles"), k),
        bands, rows)).as("band_key"))
    val candidates = banded.as("l")
      .join(banded.as("r"), Seq("band_key"))
      .select(col("l.id").as("a"), col("r.id").as("b"))
      .filter(col("a") < col("b"))
      .distinct()
    candidates
      .join(sh.select(col("id").as("a"), col("shingles").as("sh_a")),
        Seq("a"))
      .join(sh.select(col("id").as("b"), col("shingles").as("sh_b")),
        Seq("b"))
      .select(col("a"), col("b"),
        round(setJaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Cross-corpus MinHash-LSH near-dup pairs: candidates pair a LEFT
    * doc with a RIGHT doc only (never left-left or right-right) —
    * the incremental-ingest shape, where a new batch dedups AGAINST
    * a historical index without re-pairing the index with itself.
    * Same band-key construction and heavy-payload discipline as
    * [[lshNearDupPairs]]: only (band_key, id) crosses the band
    * shuffle; shingle arrays join back onto the deduped candidate
    * pairs. At 100 TB the index side's banded projection is a
    * precomputed table (band keys are a pure function of content),
    * so a daily batch pays one band-key equi-join against it, never
    * a scan of the index text.
    *
    * @return (a = left id, b = right id, jaccard) pairs with
    *         jaccard ≥ `minJaccard`
    */
  def lshNearDupPairsAcross(left: DataFrame, right: DataFrame,
      idCol: String, textCol: String,
      n: Int, k: Int, bands: Int, minJaccard: Double): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val rows = k / bands
    def prep(docs: DataFrame) = docs.select(
        col(idCol).as("id"),
        shingleSet(col(textCol), n).as("shingles"))
      .filter(size(col("shingles")) > 0)
    def banded(sh: DataFrame) = sh.select(col("id"),
      explode(bandKeys(minhashSignature(col("shingles"), k),
        bands, rows)).as("band_key"))
    val (shL, shR) = (prep(left), prep(right))
    val candidates = banded(shL).as("l")
      .join(banded(shR).as("r"), Seq("band_key"))
      .select(col("l.id").as("a"), col("r.id").as("b"))
      .distinct()
    candidates
      .join(shL.select(col("id").as("a"), col("shingles").as("sh_a")),
        Seq("a"))
      .join(shR.select(col("id").as("b"), col("shingles").as("sh_b")),
        Seq("b"))
      .select(col("a"), col("b"),
        round(setJaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Brute-force all-pairs shingle Jaccard (the quadratic baseline
    * LSH replaces; only for bounded subsets / verification).
    * Contract note (shared with [[lshNearDupPairs]]): documents
    * shorter than one shingle have NO shingle set and are excluded
    * from pairing entirely — they are not "near" anything, and at
    * scale they would otherwise all collide into one LSH bucket. */
  def shingleJaccard(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minJaccard: Double): DataFrame = {
    val sh = docs.select(col(idCol).as("id"),
        shingleSet(col(textCol), n).as("shingles"))
      .filter(size(col("shingles")) > 0)
    val l = sh.select(col("id").as("a"), col("shingles").as("sh_a"))
    val r = sh.select(col("id").as("b"), col("shingles").as("sh_b"))
    l.crossJoin(r).filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        round(setJaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Cross-document duplicated-span extraction — the exact-substring
    * dedup pass of "Deduplicating Training Data Makes Language Models
    * Better" (Lee et al. 2022), re-expressed relationally: every
    * n-token window is hashed at every position; a window instance is
    * DUPLICATED iff the same hash occurs in at least one OTHER
    * document (min ≠ max doc over the hash partition — intra-doc-only
    * repeats do NOT qualify, unlike q120's multiset window count);
    * duplicated windows [pos, pos+n) then coalesce per document into
    * maximal duplicated token intervals via [[Intervals.merge]] —
    * exactly the spans a removal pass would cut.
    *
    * Scale shape: suffix arrays don't distribute, but this does —
    * explode is map-side; ONE hash-partition exchange carries the
    * cross-doc flag (min/max doc, no distinct count); the interval
    * merge runs per-doc (one doc-key exchange whose partitioning the
    * final groupBy reuses). Hot boilerplate window hashes are the
    * same documented skew as q81/q120: two-level (hash, doc-bucket)
    * partial min/max at 100 TB.
    *
    * @return one row per maximal duplicated span:
    *         (doc, m_start, m_end, n_source) — token positions,
    *         half-open, n_source = windows merged into the span
    */
  def crossDocDupSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    Intervals.merge(dupWindows(docs, idCol, textCol, n).drop("gmin"),
      "doc", "s0", "e0", "s0")

  /** Duplicated window instances [s0, e0) per doc, with `gmin` = the
    * LOWEST doc id anywhere in the corpus carrying the same window —
    * the "first occurrence" a keep-one removal pass preserves. */
  private def dupWindows(docs: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    // per-position window hashes via the native shingle kernel
    // (multiset form — bit-equivalent to the transform/sequence/
    // slice/concat_ws chain, one JIT'd call per row), md5 applied
    // by a codegen'd transform; empty below n tokens by the kernel
    // contract, so posexplode emits nothing for degenerate docs
    val wins = docs
      .select(col(idCol).as("doc"),
        posexplode(transform(Corpus.shingleList(col(textCol), n),
          g => md5(g))))
      .toDF("doc", "pos", "h")
    val wh = Window.partitionBy(col("h"))
    wins
      .withColumn("dmin", min(col("doc")).over(wh))
      .withColumn("dmax", max(col("doc")).over(wh))
      .filter(col("dmin") =!= col("dmax"))
      .select(col("doc"), col("pos").cast("long").as("s0"),
        (col("pos") + lit(n)).cast("long").as("e0"),
        col("dmin").as("gmin"))
  }

  /** [[crossDocDupSpans]] variant carrying ownership: each maximal
    * span also reports `m_first` = the lowest corpus doc id holding
    * ANY of its windows. A keep-first removal pass cuts a span from
    * doc D iff `m_first < D` (the span's text was seen in an earlier
    * document); spans whose every window first occurs in D survive.
    * Same two-exchange shape as [[crossDocDupSpans]] — the merge is
    * inlined because the extra min(gmin) rides the same per-doc
    * window aggregation. */
  def crossDocDupSpansOwned(docs: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val dup = dupWindows(docs, idCol, textCol, n)
    val w = Window.partitionBy(col("doc")).orderBy(col("s0"))
    val prevMax = max(col("e0"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    dup
      .withColumn("_ng",
        when(prevMax.isNull || col("s0") > prevMax, 1L).otherwise(0L))
      .withColumn("_g", sum(col("_ng"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc"), col("_g"))
      .agg(min(col("s0")).as("m_start"), max(col("e0")).as("m_end"),
        min(col("gmin")).as("m_first"),
        count(lit(1)).as("n_source"))
      .drop("_g")
  }

  /** Exact-substring dedup SCRUB — [[crossDocDupSpansOwned]]'s
    * detection turned into the removal pass (Lee et al. 2022's
    * dedup step itself, keep-FIRST semantics): every maximal
    * duplicated span whose doc is NOT the span's first occurrence
    * (`m_first`, the lowest doc id sharing any of its windows) is
    * excised; the first occurrence keeps its text, so exactly one
    * copy of every duplicated passage survives the corpus.
    *
    * Relational shape: tokens explode once (map-side, 0-based
    * positions), removable spans join back per doc (doc equi-key +
    * a range predicate over the handful of spans a doc owns —
    * left_anti, so covered tokens drop), and the survivor tokens
    * re-aggregate in position order into the cleaned text. One
    * window-hash exchange (inherited), one doc exchange reused by
    * the islands window and the rebuild.
    *
    * @return one row per doc that LOST text: (doc_id, n_before,
    *         n_after, n_spans_removed, cleaned_md5) — cleaned_md5
    *         is md5 of the space-joined survivor tokens (the
    *         rebuilt text itself at 100 TB; hashed here so the
    *         gate pins content, not just counts) */
  def scrubDupSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val spans = crossDocDupSpansOwned(docs, idCol, textCol, n)
      .filter(col("doc") =!= col("m_first"))
      .select(col("doc"), col("m_start"), col("m_end"))
      .transform(Ckpt.cut)
    val toks = docs
      .select(col(idCol).as("doc"),
        posexplode(TextOps.tokens(col(textCol))))
      .toDF("doc", "i", "tok")
    val kept = toks.as("t")
      .join(spans.as("r"),
        col("t.doc") === col("r.doc") &&
          col("t.i") >= col("r.m_start") &&
          col("t.i") < col("r.m_end"),
        "left_anti")
    val cleaned = kept.groupBy(col("doc"))
      .agg(count(lit(1)).as("n_after"),
        md5(concat_ws(" ",
          transform(
            array_sort(collect_list(struct(col("i"), col("tok")))),
            x => x.getField("tok")))).as("cleaned_md5"))
    val removed = spans.groupBy(col("doc"))
      .agg(count(lit(1)).as("n_spans_removed"))
    val before = docs.select(col(idCol).as("doc"),
      size(TextOps.tokens(col(textCol))).cast("long").as("n_before"))
    removed
      .join(before, Seq("doc"))
      .join(cleaned, Seq("doc"), "left")
      .select(col("doc").as("doc_id"), col("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        col("n_spans_removed"),
        // a fully-covered doc keeps zero tokens: md5 of the empty
        // string, matching the rebuild-of-nothing both engines agree on
        coalesce(col("cleaned_md5"),
          lit("d41d8cd98f00b204e9800998ecf8427e")).as("cleaned_md5"))
  }

  /** Prefix-filtered EXACT set-similarity self-join (the PPJoin/
    * AllPairs family, Xiao et al. 2008 / Bayardo et al. 2007 — the
    * prefix-filter core, without the positional refinement): all doc
    * pairs with shingle-set Jaccard ≥ τ, found WITHOUT MinHash
    * approximation and WITHOUT all-pairs.
    *
    * Filter principle: order every doc's shingles by one global
    * rarest-first order (corpus document frequency asc, shingle asc);
    * if J(x,y) ≥ τ then |x∩y| ≥ ⌈τ·|x|⌉, and the globally-smallest
    * shared shingle must sit within the first |x| − ⌈τ·|x|⌉ + 1
    * entries of x's ordering (everything before it is unshared) — and
    * symmetrically for y. So an equi-join on PREFIX shingles alone
    * finds every qualifying pair; exact Jaccard verification then
    * removes false positives. No false negatives, by construction.
    *
    * Scale shape: candidate generation touches only prefix tokens —
    * rarest-first ordering keeps boilerplate (high-df) shingles out
    * of prefixes, so the candidate join is driven by rare shingles
    * with tiny posting lists (the opposite of the LSH band join's
    * content-hash buckets). One df aggregation, one per-doc sort, one
    * prefix equi-join (with the length + positional filters inside
    * its condition — see [[prefixFilterCandidates]]), one verify
    * join whose condition runs the SUFFIX filter before the exact
    * intersect (below). All similarity math is integer ppm — no
    * float reaches the output.
    *
    * Suffix filter (the PPJoin+ refinement, Xiao et al. 2008 §4, in
    * relational single-pass form; OPT-IN via `suffixFilter`): for a
    * surviving candidate pair with VALUE-sorted shingle arrays A, B,
    * pick the quartile pivots p1 < p2 < p3 of B (positions ⌊|B|/4⌋,
    * ⌊|B|/2⌋, ⌊3|B|/4⌋ — their ranks in B are known without
    * scanning) and count A's elements below each pivot in ONE
    * aggregate pass. Both arrays are sorted sets, so intersection
    * cannot cross a value boundary: inter ≤ Σ over the 4 value
    * ranges of min(|A ∩ range|, |B ∩ range|). If that bound is below
    * α = ⌈τ/(1+τ)(|A|+|B|)⌉ the pair cannot qualify — dropped BEFORE
    * the exact array_intersect evaluates (the conjunction inside the
    * verify join's condition short-circuits: suffix bound first,
    * exact Jaccard second). Exact — the bound can only overcount —
    * and spec-pinned equal-output to the unfiltered path.
    *
    * DEFAULT OFF, by measurement: the bound is an interpreted
    * higher-order-function scan of A (~|A| lambda steps/row) —
    * about the cost of the array_intersect it tries to skip — and
    * for same-length pairs a 4-range partition rarely discriminates
    * (range counts concentrate near |B|/4 each, so the bound sits
    * near min(|A|,|B|) ≥ α). Measured on the saturated-vocab ScaleUp
    * fixture: sf0.1 verify 1.8 s → 5.7 s, sf1 34.5 s → >240 s. Turn
    * it on when arrays are long, candidate pass-rate is low, AND
    * candidate pair sizes are heterogeneous (where the range bound
    * actually bites).
    *
    * @param tauPpm Jaccard threshold in parts-per-million
    * @param suffixFilter enable the PPJoin+ suffix-filter pre-gate
    *                     in the verify join (see above; default off)
    * @return (a, b, inter, uni, jacc_ppm), a < b
    */
  def prefixFilterPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, tauPpm: Long, suffixFilter: Boolean = false)
      : DataFrame = {
    require(tauPpm > 0 && tauPpm <= 1000000L, s"tauPpm: $tauPpm")
    val sh = docs.select(col(idCol).as("id"),
        // value-sorted ONCE per doc, before the candidate fan-out
        // multiplies each array across its pairs: the suffix filter
        // needs sorted arrays, and array_intersect is order-blind
        array_sort(shingleSet(col(textCol), n)).as("sh"))
      .filter(size(col("sh")) > 0)
      .transform(Ckpt.cut)
    val candidates = prefixFilterCandidates(sh, tauPpm)
    // 4-range partition bound on the intersection (suffix filter).
    // Pivots are B\'s quartile VALUES; B-side range sizes are exact
    // from the quartile positions; A-side counts come from one
    // aggregate scan (3 comparisons per element, no per-range
    // slicing). All counts are int — the aggregate state is a
    // 3-field struct.
    def sufBound(a: Column, b: Column): Column = {
      val nb = size(b)
      val b1 = floor(nb / lit(4)).cast("int")
      val b2 = floor(nb / lit(2)).cast("int")
      val b3 = floor(nb * lit(3) / lit(4)).cast("int")
      val q1 = element_at(b, b1 + lit(1))
      val q2 = element_at(b, b2 + lit(1))
      val q3 = element_at(b, b3 + lit(1))
      // one aggregate expression end to end (counts in the merge
      // lambda, the bound in the finish lambda) — pulling the struct
      // fields out with getField would clone the whole aggregate
      // subtree once per field and the predicate would run it 6x/row
      aggregate(a,
        struct(lit(0).as("c1"), lit(0).as("c2"), lit(0).as("c3")),
        (acc, x) => struct(
          (acc.getField("c1") + when(x < q1, 1).otherwise(0)).as("c1"),
          (acc.getField("c2") + when(x < q2, 1).otherwise(0)).as("c2"),
          (acc.getField("c3") + when(x < q3, 1).otherwise(0)).as("c3")),
        acc => {
          val c1 = acc.getField("c1")
          val c2 = acc.getField("c2")
          val c3 = acc.getField("c3")
          (least(c1, b1) + least(c2 - c1, b2 - b1) +
            least(c3 - c2, b3 - b2) +
            least(size(a) - c3, nb - b3)).cast("long")
        })
    }
    val joined = candidates
      .join(sh.select(col("id").as("a"), col("sh").as("sh_a")), Seq("a"))
      .join(sh.select(col("id").as("b"), col("sh").as("sh_b")), Seq("b"))
    val gated = if (!suffixFilter) joined else joined
      // suffix filter FIRST: the conjunction short-circuits inside
      // the join condition, so failing pairs never pay the intersect
      .filter(sufBound(col("sh_a"), col("sh_b")) *
        (lit(1000000L) + tauPpm) >=
        (size(col("sh_a")) + size(col("sh_b"))).cast("long") * tauPpm)
    // Jaccard gate in single-intersect form: with uni = szs − inter,
    // floor(inter·1e6 / uni) ≥ τ  ⟺  inter·1e6 ≥ τ·uni  ⟺
    // inter·(1e6+τ) ≥ szs·τ (all integers, uni > 0) — so the
    // predicate that Catalyst pushes into the verify join's
    // condition evaluates array_intersect ONCE per candidate row
    // instead of twice (the naive jacc_ppm ≥ τ filter embeds the
    // intersect in both numerator and denominator after alias
    // substitution). The output columns recompute the intersect only
    // for the survivors — a handful of rows against millions of
    // candidates in the saturated-vocabulary regime.
    gated
      .filter(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long") *
          (lit(1000000L) + tauPpm) >=
          (size(col("sh_a")) + size(col("sh_b"))).cast("long") * tauPpm)
      .select(col("a"), col("b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
          .as("inter"),
        (size(col("sh_a")) + size(col("sh_b"))).cast("long").as("szs"))
      .select(col("a"), col("b"), col("inter"),
        (col("szs") - col("inter")).as("uni"))
      .withColumn("jacc_ppm", expr("(inter * 1000000L) div uni"))
  }

  /** Candidate stage of [[prefixFilterPairs]], exposed so scale
    * probes can assert the posting-list bound directly: (a, b) pairs
    * (a < b) sharing a PREFIX shingle under the df-asc global order
    * and passing the length filter — a superset of the true
    * Jaccard ≥ τ pairs (the prefix principle guarantees no false
    * negatives), before exact verification. Input is the (id, sh)
    * shingle-set frame [[prefixFilterPairs]] builds. */
  def prefixFilterCandidates(sh: DataFrame, tauPpm: Long): DataFrame = {
    val tok = sh.select(col("id"), explode(col("sh")).as("g"))
    val freq = tok.groupBy(col("g")).agg(count(lit(1)).as("df"))
    // per-doc shingle list in global (df asc, shingle asc) order --
    // the struct sort makes the collect_list order irrelevant
    val ordered = tok.join(freq, "g")
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("df"), col("g"))))
        .as("sg"))
      .select(col("id"),
        transform(col("sg"), x => x.getField("g")).as("toks"))
    // Asymmetric prefixes (All-Pairs, Bayardo et al. 2007 / PPJoin,
    // Xiao et al. 2008): orient every pair by (set size, id) -- y the
    // lexicographically SMALLER side, x the larger -- so each
    // unordered pair is enumerated exactly once with a fixed
    // probe/index role. The PROBE side (x, the longer) needs prefix
    // |x| - ceil(tau*|x|) + 1 (alpha >= ceil(tau*|x|) because
    // |y| >= tau*|x| under the length filter); the INDEX side (y,
    // the shorter) needs only |y| - ceil(2tau/(1+tau)*|y|) + 1
    // (alpha >= ceil(2tau/(1+tau)*|y|) because |x| >= |y|) -- at
    // tau = 0.6 that is 0.25|y| vs 0.4|y|, so the
    // saturated-vocabulary regime's posting lists shrink on a whole
    // side of the join. `pos` is the 0-based rank of the shingle in
    // the FULL df-asc order (the slice keeps the head, so slice
    // positions ARE full-order positions) -- the positional
    // filter's input.
    // ONE explode at probe length (the longer of the two prefixes),
    // checkpointed: the index side derives from the same frame by a
    // pos filter, so the shingle→df→sort pipeline and the explode
    // run once. Without the materialization the two join inputs are
    // non-identical subtrees (the filter sits below the exchange)
    // and Spark recomputes the whole pipeline once per side.
    val probe = ordered.select(col("id"),
        size(col("toks")).cast("long").as("n_sh"),
        posexplode(slice(col("toks"), lit(1),
          (size(col("toks")).cast("long") -
            expr(s"(CAST(size(toks) AS BIGINT) * $tauPpm + 999999) " +
              "div 1000000") + lit(1L)).cast("int")))
          .as(Seq("pos", "g")))
      .transform(Ckpt.cut)
    // index prefix length |y| - ceil(2tau/(1+tau)*|y|) + 1, from n_sh
    val index = probe.filter(col("pos") <
      col("n_sh") -
        expr(s"(n_sh * ${2 * tauPpm} + ${1000000L + tauPpm - 1}) " +
          s"div ${1000000L + tauPpm}") + lit(1L))
    // PPJoin positional filter (Xiao et al. 2008), pushed INTO the
    // join condition: a match at ranks (px, py) admits
    // ub = 1 + min(|x|-px-1, |y|-py-1), and J >= tau needs
    // inter >= alpha = ceil(tau/(1+tau)*(|x|+|y|)). Filtering match
    // ROWS on ub >= alpha is EXACT -- not because ub bounds inter
    // for every match (it does not: shared shingles can sort before
    // a given match), but because a qualifying pair's globally-FIRST
    // shared shingle (a) is in both asymmetric prefixes by the
    // prefix principle (any shared-in-both-prefixes shingle admits a
    // smaller-ranked shared one only inside both heads) and (b) has
    // no shared shingle before it on either side, so for THAT row
    // ub >= inter >= alpha and the row survives. Rows dropped here
    // are from non-qualifying pairs or are redundant co-matches of a
    // pair whose first-shared row still gets through. Evaluating the
    // test per row inside the join kills the high-df tail (a common
    // shingle sits LATE in a df-asc prefix, so its remaining-suffix
    // bound is small) BEFORE those rows reach the pair shuffle --
    // this is what keeps the candidate frame survivable when corpus
    // growth saturates the shingle-type space and posting lists grow
    // with n (the ScaleUp-fixture regime; a real corpus's open
    // vocabulary keeps rare-prefix df O(1) instead). NOTE: a
    // per-pair accumulated-overlap bound (match count + suffix
    // remainder at the last match) must NOT be layered on top of
    // this per-row pruning -- it needs ALL match rows to count
    // shared prefix shingles, and the pruned frame undercounts.
    // Integer form of ub >= ceil(N/D) with N = (|x|+|y|)*tauPpm,
    // D = 1e6 + tauPpm: for integer ub, ub >= ceil(N/D) iff
    // ub*D >= N -- no ceil arithmetic, no off-by-one.
    index.as("l")
      .join(probe.as("r"), col("l.g") === col("r.g") &&
        // (n_sh, id)-lexicographic orientation: l is the index
        // (smaller) side -- each unordered pair joins exactly once
        (col("l.n_sh") < col("r.n_sh") ||
          (col("l.n_sh") === col("r.n_sh") &&
            col("l.id") < col("r.id"))) &&
        // length filter: tau*|x| <= |y| (x = probe, the longer side;
        // the other direction is implied by the orientation)
        col("r.n_sh") * tauPpm <= col("l.n_sh") * 1000000L &&
        // positional filter, per match row (exactness argued above)
        (lit(1L) + least(
          col("l.n_sh") - col("l.pos") - 1L,
          col("r.n_sh") - col("r.pos") - 1L)) *
          (lit(1000000L) + tauPpm) >=
          (col("l.n_sh") + col("r.n_sh")) * tauPpm)
      .select(least(col("l.id"), col("r.id")).as("a"),
        greatest(col("l.id"), col("r.id")).as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("__m"))
      .select(col("a"), col("b"))
  }

  /** 16-bit SimHash over the token multiset: bit b of the hash is set
    * when the sum over tokens of ±1 (per bit b of md5(token)) is
    * positive. Near-dup docs differ in few bits (small Hamming
    * distance); identical docs collide exactly. */
  def simhash16(text: Column): Column = {
    val toks = TextOps.tokens(text)
    (0 until 16).map { b =>
      val weight = aggregate(toks, lit(0),
        (acc, t) => acc + (shiftright(
          instr(lit("0123456789abcdef"),
            substring(md5(t), b / 4 + 1, 1)) - 1, b % 4)
          .bitwiseAND(1) * 2 - 1))
      when(weight > 0, lit(1 << b)).otherwise(lit(0))
    }.reduce(_ + _)
  }
}
