package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, EntityRes}

/** Dev tool (not library surface): the r10 similarity-join families
  * measured unbounded at parametric corpus size — the q203
  * prefix-filter set-similarity join and the q212 ED≤2
  * deletion-neighborhood join. Their oracle fixtures are bounded by
  * the driver tables; what needs its own probe is the CANDIDATE
  * BOUND: both operators' 100 TB claim is that candidates ride
  * posting lists (rare prefix shingles / near-unique deletion
  * variants), so candidate counts must grow LINEARLY with planted
  * matches, never quadratically with corpus size. The probe asserts
  * that bound in-run (the LinkageScale SNM pair-count precedent) —
  * a blow-up fails loudly instead of just reading as a slow rep.
  *
  * Generators hold DENSITY constant as n grows, per the
  * LinkageScale rule: shingle/variant KEY SPACES grow with the
  * corpus (md5-derived tokens), so posting lists stay O(1) and a
  * fixed-key-space artifact can't manufacture quadratic work.
  *  - set-sim: docs are 20 md5 words (3-word shingles ⇒ an
  *    effectively unbounded key space); every 3rd doc clones its
  *    predecessor with the last TWO words rewritten ⇒ 16 of 18
  *    shingles shared, Jaccard = 0.8 against τ = 0.6 — exactly one
  *    planted pair per clone, chance shingle collisions ≈ 0.
  *  - ED≤2: 12-hex strings; per triple (base, 1-sub variant, 2-sub
  *    variant) exactly two true pairs (the variants sit at distance
  *    3 from each other); 'z'/'y' substitutions leave the hex
  *    alphabet so chance matches are impossible.
  *
  * Usage: Test/runMain graft.JoinScale [n] [reps] [ops-csv]
  * (ops-csv ⊆ setsim,ed2; default both)
  * Prints one JSON line per rep per operator plus summary minima.
  */
object JoinScale {

  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toLong).getOrElse(100000L)
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val ops = args.lift(2).map(_.split(",").map(_.trim).toSet)
      .getOrElse(Set("setsim", "ed2"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ---- set-sim: 20 hash words (12 hex chars — 16^12 key space,
    // collision-free at any probe size while keeping shuffle bytes
    // ~40% of full md5) per doc; id % 3 == 2 clones doc id-1 with
    // the last two words rewritten — 16 of 18 3-word shingles
    // shared, J = 16/20 = 0.8; all other docs disjoint
    def docs(m: Long) = spark.range(m).selectExpr(
      "id AS doc_id",
      s"""concat_ws(' ', transform(sequence(0, 19), w ->
            substring(md5(concat(
              CAST(if(id % 3 = 2 AND w < 18, id - 1, id) AS STRING),
              '_', CAST(w AS STRING))), 1, 12))) AS text""")
    def setsimRun(m: Long): Long = {
      val planted = m / 3L // ids ≡ 2 (mod 3), m multiple of 3
      val d = docs(m)
      val sh = d.select(col("doc_id").as("id"),
          Dedup.shingleSet(col("text"), 3).as("sh"))
        .filter(size(col("sh")) > 0)
        .localCheckpoint(true)
      val cand = Dedup.prefixFilterCandidates(sh, 600000L).count()
      // the posting-list bound: candidates ≈ planted pairs, never
      // corpus-quadratic (allow 2x planted + n/10 chance headroom)
      require(cand <= 2L * planted + m / 10L,
        s"set-sim candidate blow-up: $cand candidates for " +
          s"$planted planted pairs at n=$m")
      val got = Dedup.prefixFilterPairs(d, "doc_id", "text",
        n = 3, tauPpm = 600000L).count()
      require(got == planted,
        s"set-sim result $got != planted $planted at n=$m")
      got
    }

    // ---- ED≤2: 12-hex strings in triples (base, 1-sub, 2-sub);
    // exactly 2 true pairs per triple
    def strs(m: Long) = spark.range(m).selectExpr(
      "id AS rec_id",
      """CASE CAST(id % 3 AS INT)
           WHEN 0 THEN substring(md5(CAST(id AS STRING)), 1, 12)
           WHEN 1 THEN concat(
             substring(md5(CAST(id - 1 AS STRING)), 1, 5), 'z',
             substring(md5(CAST(id - 1 AS STRING)), 7, 6))
           ELSE concat(
             substring(md5(CAST(id - 2 AS STRING)), 1, 2), 'y',
             substring(md5(CAST(id - 2 AS STRING)), 4, 5), 'y',
             substring(md5(CAST(id - 2 AS STRING)), 10, 3))
         END AS s""")
    def ed2Run(m: Long): Long = {
      val planted = 2L * (m / 3L)
      val base = strs(m).select(col("rec_id").as("id"), col("s"))
        .localCheckpoint(true)
      val cand = EntityRes.editDistance2Candidates(base).count()
      require(cand <= 2L * m,
        s"ED2 candidate blow-up: $cand candidates at n=$m " +
          s"($planted planted pairs)")
      val res = EntityRes.editDistance2Pairs(strs(m), "rec_id", "s")
        .select(col("a"), col("b")).localCheckpoint(true)
      // zero false negatives: every planted pair is found. Extras
      // beyond planted are CHANCE true pairs (two random 12-hex
      // strings within 2 edits — birthday math predicts a handful
      // per 100k), Levenshtein-verified by the operator itself, so
      // they're bounded loosely rather than forbidden.
      val want = spark.range(m / 3L)
        .selectExpr("id * 3 AS a", "id * 3 + 1 AS b")
        .unionAll(spark.range(m / 3L)
          .selectExpr("id * 3 AS a", "id * 3 + 2 AS b"))
      val missing = want.join(res, Seq("a", "b"), "left_anti").count()
      require(missing == 0L,
        s"ED2 lost $missing of $planted planted pairs at n=$m")
      val got = res.count()
      require(got - planted <= math.max(1000L, m / 100L),
        s"ED2 result $got implausibly exceeds planted $planted")
      got
    }

    // warmup compiles the identical generated code at 1/10 size
    if (ops("setsim")) setsimRun(math.max(n / 10L, 3000L) / 3L * 3L)
    if (ops("ed2")) ed2Run(math.max(n / 10L, 3000L) / 3L * 3L)

    def timed(tag: String, run: () => Long): Double = {
      val times = (1 to reps).map { r =>
        val t0 = System.nanoTime()
        val out = run()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"""{"metric":"$tag","rep":$r,"n":$n,"out":$out,""" +
          f""""value":$dt%.4f,"unit":"sec"}""")
        dt
      }
      times.min
    }
    val m = n / 3L * 3L
    val ss = if (ops("setsim"))
      timed("setsim_prefix_join_e2e", () => setsimRun(m)) else -1d
    val ed = if (ops("ed2"))
      timed("ed2_deletion_join_e2e", () => ed2Run(m)) else -1d
    println(f"""{"metric":"join_scale_min","n":$m,""" +
      f""""setsim_sec":$ss%.4f,"ed2_sec":$ed%.4f,"unit":"sec"}""")
    spark.stop()
  }
}
