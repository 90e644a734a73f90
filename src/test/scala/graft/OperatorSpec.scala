package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.{AsOfJoin, Dedup, Sessionize, Similarity, TextOps}

/** Unit/property tests for the operator library pieces whose
  * semantics aren't (or aren't fully) expressible in the DuckDB
  * oracle: as-of edge cases, MinHash/SimHash invariants, language
  * ID, sessionization boundaries, cosine identities.
  */
class OperatorSpec extends SparkSpec {
  import spark.implicits._

  // ---- AsOfJoin ---------------------------------------------------

  test("asof: picks latest right row at-or-before left ts") {
    val left = Seq((1L, 100L, "p1"), (1L, 205L, "p2"), (2L, 50L, "p3"))
      .toDF("k", "ts", "tag")
    val right = Seq((1L, 100L, "r100"), (1L, 200L, "r200"),
      (2L, 60L, "r60")).toDF("k", "ts", "payload")
    val out = AsOfJoin.asOf(left, right, "k", "ts", Seq("payload"))
      .select($"tag", $"payload").as[(String, String)].collect().toMap
    assert(out("p1") == "r100") // inclusive: right at exactly left.ts
    assert(out("p2") == "r200")
    assert(out("p3") == null)   // no right row at-or-before
  }

  test("asof: NULL payload on the true as-of row is preserved, not stale-filled") {
    val left = Seq((1L, 3L, "probe")).toDF("k", "ts", "tag")
    val right = Seq((1L, 1L, Some("x"), Some(10L)),
      (1L, 2L, None, Some(20L)))
      .toDF("k", "ts", "p", "q")
    val out = AsOfJoin.asOf(left, right, "k", "ts", Seq("p", "q"))
      .select($"p", $"q").as[(Option[String], Option[Long])].head()
    // the ts=2 row is the as-of match: its NULL p must win (no
    // stale 'x' from ts=1), and q must come from the SAME row (20)
    assert(out == ((None, Some(20L))))
  }

  test("asof: payload guards are case-insensitive and reject dups") {
    val left = Seq((1L, 1L, "v")).toDF("k", "ts", "value")
    val right = Seq((1L, 1L, "w")).toDF("k", "ts", "Value")
    intercept[IllegalArgumentException] {
      AsOfJoin.asOf(left, right, "k", "ts", Seq("Value"))
    }
    intercept[IllegalArgumentException] {
      AsOfJoin.asOf(left, right.withColumnRenamed("Value", "w"),
        "k", "ts", Seq("w", "w"))
    }
  }

  // ---- Dedup ------------------------------------------------------

  test("minhash: identical texts → identical signatures; jaccard 1") {
    val df = Seq((1L, "a b c d e f"), (2L, "a b c d e f"),
      (3L, "x y z w v u")).toDF("doc_id", "text")
    val pairs = Dedup.lshNearDupPairs(df, "doc_id", "text",
      n = 2, k = 6, bands = 3, minJaccard = 0.9)
      .select($"a", $"b", $"jaccard").as[(Long, Long, Double)].collect()
    assert(pairs.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("shingle jaccard: disjoint texts score 0, subsets score fractionally") {
    val df = Seq((1L, "a b c"), (2L, "a b d")).toDF("doc_id", "text")
    val j = Dedup.shingleJaccard(df, "doc_id", "text", n = 2,
      minJaccard = 0.0).select($"jaccard").as[Double].head()
    // shingles: {a b, b c} vs {a b, b d} → 1/3
    assert(math.abs(j - 1.0 / 3) < 1e-6)
  }

  test("simhash: identical docs collide; token order doesn't matter for multiset") {
    val df = Seq((1L, "q w e r t y"), (2L, "q w e r t y"),
      (3L, "completely different tokens here now ok"))
      .toDF("doc_id", "text")
    val h = df.select($"doc_id", Dedup.simhash16($"text").as("h"))
      .as[(Long, Int)].collect().toMap
    assert(h(1L) == h(2L))
    assert(h(1L) != h(3L)) // overwhelmingly likely for 16 bits
    assert(h(1L) >= 0 && h(1L) < 65536)
  }

  test("minhash signature stability under element repetition (set semantics)") {
    // property check driven by scalacheck generators, fixed seed
    val gen = Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "d", "e"))
    val cases = (0 until 20).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(42L + i)))
    assert(cases.nonEmpty)
    val df = cases.zipWithIndex.flatMap { case (toks, i) =>
      Seq((i.toLong * 2, toks.mkString(" ")),
        (i.toLong * 2 + 1, (toks ++ toks).mkString(" ")))
    }.toDF("doc_id", "text") // doubled token list = same shingle SET (n=1)
    val sigs = df.select($"doc_id", Dedup.minhashSignature(
        Dedup.shingleSet($"text", 1), 4).as("s"))
      .as[(Long, Seq[String])].collect().toMap
    cases.indices.foreach { i =>
      assert(sigs(i.toLong * 2) == sigs(i.toLong * 2 + 1))
    }
  }

  // ---- TextOps ----------------------------------------------------

  test("langid: profile trigram argmax with lexicographic tie-break") {
    val profiles = Map(
      "en" -> Seq("the", "ing", "and"),
      "de" -> Seq("der", "sch", "ein"),
      "fr" -> Seq("les", "eau", "oix"))
    val df = Seq(
      (1L, "the thing and everything"),
      (2L, "der schoene einband"),
      (3L, "les eaux du roi"),
      (4L, "zzz qqq")) // no profile hits → tie → 'de' (lex first)
      .toDF("id", "text")
    val out = df.select($"id",
        TextOps.langIdByProfiles($"text", profiles).as("lang"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "en"); assert(out(2L) == "de")
    assert(out(3L) == "fr"); assert(out(4L) == "de")
  }

  test("quality score bounds and monotonicity vs stopword stuffing") {
    val df = Seq(
      (1L, "unique words everywhere in this rich document text"),
      (2L, "the the the the the the the the the the"))
      .toDF("id", "text")
    val q = df.select($"id",
        TextOps.qualityScore($"text", Seq("the", "a")).as("q"))
      .as[(Long, Double)].collect().toMap
    assert(q(1L) > q(2L))
    assert(q.values.forall(v => v >= 0 && v <= 1))
  }

  test("rolling fingerprint is order-sensitive, whitespace-insensitive") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "alpha  beta\tgamma"),
      (3L, "gamma beta alpha")).toDF("id", "text")
    val fp = df.select($"id",
        TextOps.rollingFingerprint($"text").as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }

  // ---- Sessionize -------------------------------------------------

  test("sessionize: gap strictly greater than threshold splits") {
    val rows = Seq(
      (1L, "2024-01-01 00:00:00"), (1L, "2024-01-01 00:30:00"),
      (1L, "2024-01-01 01:00:01"), // 30m01s gap → new session (gap 30m)
      (2L, "2024-01-01 05:00:00"))
      .toDF("user_id", "s")
      .select($"user_id", to_timestamp($"s").as("ts"))
    val out = Sessionize.withSessionId(rows, "user_id", "ts", 1800L)
      .select($"user_id", $"session_id")
      .as[(Long, Long)].collect().groupBy(_._1)
    assert(out(1L).map(_._2).sorted.toSeq == Seq(0L, 0L, 1L))
    assert(out(2L).map(_._2).toSeq == Seq(0L))
  }

  // ---- Similarity -------------------------------------------------

  test("cosine: orthogonal → 0, identical → 1, zero-norm guarded") {
    val df = Seq(
      (1L, Array(1f, 0f), Array(0f, 1f)),
      (2L, Array(3f, 4f), Array(3f, 4f)),
      (3L, Array(0f, 0f), Array(1f, 1f)))
      .toDF("id", "a", "b")
    val c = df.select($"id", Similarity.cosine($"a", $"b").as("c"))
      .as[(Long, Double)].collect().toMap
    assert(c(1L) == 0.0)
    assert(math.abs(c(2L) - 1.0) < 1e-12)
    assert(c(3L) == 0.0)
  }

  test("topKBrute ranks by cosine desc with id tie-break") {
    val corpus = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0f, 1f)), (4L, Array(1f, 0f)))
      .toDF("vec_id", "emb")
    val out = Similarity.topKBrute(
        corpus.filter($"vec_id" === 1), corpus, "vec_id", "emb", 2)
      .select($"rank", $"n_id").as[(Int, Long)].collect().sorted
    assert(out.toSeq == Seq((1, 4L), (2, 2L)))
  }

  test("hardNegatives: nearest DIFFERENT-label vector wins, " +
      "same-label nearer vectors are skipped") {
    // query 1 (label 0): vector 4 (label 0) is nearest but shares
    // the label — the hardest NEGATIVE is 2 (label 1), then 3
    val corpus = Seq(
      (1L, Array(1f, 0f), 0), (2L, Array(0.9f, 0.1f), 1),
      (3L, Array(0f, 1f), 1), (4L, Array(1f, 0f), 0))
      .toDF("vec_id", "emb", "label")
    val out = Similarity.hardNegatives(
        corpus.filter($"vec_id" === 1), corpus, "vec_id", "emb",
        "label", k = 2)
      .select($"rank", $"n_id", $"n_label")
      .as[(Int, Long, Int)].collect().sorted
    assert(out.toSeq == Seq((1, 2L, 1), (2, 3L, 1)))
    // k exceeding available negatives: emits what exists, no pad
    val all3 = Similarity.hardNegatives(
        corpus.filter($"vec_id" === 1), corpus, "vec_id", "emb",
        "label", k = 10)
      .count()
    assert(all3 == 2L)
  }

  test("hardNegativesInCells: single cell equals the brute form; " +
      "cross-cell negatives are excluded") {
    val corpus = Seq(
      (1L, Array(1f, 0f), 0, 7), (2L, Array(0.9f, 0.1f), 1, 7),
      (3L, Array(0f, 1f), 1, 7), (4L, Array(1f, 0f), 0, 7))
      .toDF("vec_id", "emb", "label", "cell")
    val routed = Similarity.hardNegativesInCells(
        corpus, "vec_id", "emb", "label", "cell", k = 2)
      .select($"q_id", $"rank", $"n_id")
      .as[(Long, Int, Long)].collect().toSet
    val brute = Similarity.hardNegatives(
        corpus, corpus, "vec_id", "emb", "label", k = 2)
      .select($"q_id", $"rank", $"n_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(routed === brute)
    // split cells: 2 (the hardest negative of 1) moves to another
    // cell — the routed form must fall back to 3, the brute keeps 2
    val split = corpus.withColumn("cell",
      when($"vec_id" === 2, 8).otherwise(7))
    val got = Similarity.hardNegativesInCells(
        split, "vec_id", "emb", "label", "cell", k = 1)
      .filter($"q_id" === 1)
      .select($"n_id").as[Long].collect().toList
    assert(got === List(3L))
  }

  test("lsh buckets: same vector → same bucket, bounded range") {
    val df = Seq((1L, Array.fill(8)(0.5f)), (2L, Array.fill(8)(0.5f)))
      .toDF("id", "emb")
    val b = df.select(Similarity.lshBucket($"emb", 4, 8).as("b"))
      .as[Int].collect()
    assert(b(0) == b(1) && b(0) >= 0 && b(0) < 16)
  }

  // ---- Tables.fanOut ----------------------------------------------

  test("fanOut: a malformed or non-positive minBytesPerTask fails " +
      "naming the key; 1 is valid") {
    val key = "spark.graft.fanout.minBytesPerTask"
    val df = Seq(1L, 2L, 3L).toDF("x")
    try {
      Seq("64KB", "0", "-5", "").foreach { v =>
        spark.conf.set(key, v)
        val err = intercept[IllegalArgumentException](Tables.fanOut(df))
        assert(err.getMessage.contains(key) &&
          err.getMessage.contains(s"'$v'"), err.getMessage)
      }
      spark.conf.set(key, "1")
      assert(Tables.fanOut(df).count() === 3L)
    } finally spark.conf.unset(key)
  }
}
