package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators._

/** Degenerate-input robustness sweep: every composable operator must
  * return an EMPTY (or identity) frame on empty input — never throw,
  * never NaN/divide-by-zero, never hang an iteration loop. A library
  * user's first pipeline run is on an empty dev table; at scale,
  * empty partitions/filtered-out shards hit the same code paths.
  */
class EmptyInputSpec extends SparkSpec {
  import spark.implicits._

  private def emptyDocs =
    Seq.empty[(Long, String)].toDF("doc_id", "text")

  test("LSH near-dup pairs on an empty corpus") {
    assert(Dedup.lshNearDupPairs(emptyDocs, "doc_id", "text",
      n = 3, k = 6, bands = 3, minJaccard = 0.9).count() == 0L)
  }

  test("cross-corpus LSH with one empty side (both ways)") {
    val docs = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    assert(Dedup.lshNearDupPairsAcross(emptyDocs, docs, "doc_id", "text",
      n = 3, k = 6, bands = 3, minJaccard = 0.9).count() == 0L)
    assert(Dedup.lshNearDupPairsAcross(docs, emptyDocs, "doc_id", "text",
      n = 3, k = 6, bands = 3, minJaccard = 0.9).count() == 0L)
  }

  test("directed PageRank on an empty edge list (|V| = 0 division guard)") {
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(PageRank.directedRanks(edges, "src", "dst", iters = 2)
      .count() == 0L)
  }

  test("integer HITS on an empty edge list: empty hubs and auths, no div 0, ANSI on and off") {
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    for (ansi <- Seq("true", "false"))
      withConf("spark.sql.ansi.enabled", ansi) {
        val (hubs, auths) = PageRank.integerHits(edges, "src", "dst",
          iters = 2)
        for (f <- Seq(hubs, auths)) {
          assert(f.count() == 0L, s"ansi=$ansi")
          assert(f.schema("v").dataType ==
            org.apache.spark.sql.types.LongType)
          assert(!f.queryExecution.analyzed.toString.contains(" div "),
            s"ansi=$ansi: ${f.queryExecution.analyzed}")
        }
      }
  }

  test("connected components with nodes but no edges: every node its own component") {
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val edges = Seq.empty[(Long, Long)].toDF("a", "b")
    val got = Components.connectedComponents(nodes, "id", edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("connected components on an empty node set") {
    val nodes = Seq.empty[Long].toDF("id")
    val edges = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Components.connectedComponents(nodes, "id", edges, "a", "b")
      .count() == 0L)
  }

  test("interval merge, skyline, packBins on empty frames") {
    val spans = Seq.empty[(Long, Long, Long, Long)]
      .toDF("user_id", "s", "e", "tie")
    assert(Intervals.merge(spans, "user_id", "s", "e", "tie")
      .count() == 0L)
    val pts = Seq.empty[(Long, Long)].toDF("x", "y")
    assert(Frontier.skyline(pts, "x", "y", "x % 4").count() == 0L)
    assert(Corpus.packBins(emptyDocs, "doc_id", "doc_id",
      lit(1L), window = 512).count() == 0L)
  }

  test("full curation pipeline on an empty corpus (both policies)") {
    assert(Curate.curate(emptyDocs, "doc_id", "text").count() == 0L)
    assert(Curate.curate(emptyDocs, "doc_id", "text",
      policy = Curate.NearDupPolicy.TransitiveBestQuality).count() == 0L)
  }

  test("media probe on an empty dataset and co-occurrence edges on an empty fact") {
    assert(Multimodal.probe(
      Seq.empty[Multimodal.MediaRecord].toDS()).count() == 0L)
    val li = Seq.empty[(Long, Long)].toDF("ok", "pk")
    assert(Graph.coOccurrenceEdges(li, "ok", "pk").count() == 0L)
  }

  test("salted aggregation on an empty frame keeps its schema, zero rows") {
    val ev = Seq.empty[(Long, String, Double)]
      .toDF("event_id", "event_type", "value")
    val out = Skew.saltedSumCount(ev, "event_type", "value",
      saltSource = "event_id", salts = 16)
    assert(out.count() == 0L)
    assert(out.columns.contains("sum_value") && out.columns.contains("n"))
  }

  test("r8 linkage/change operators on empty frames") {
    val chg = Seq.empty[(Long, Long, String, Long)]
      .toDF("k", "seq", "op", "v")
    assert(Cdc.mergeLatest(chg, Seq("k"), "seq", "op").count() == 0L)
    val ev = Seq.empty[(Long, Long, Timestamp, String, Double)]
      .toDF("user_id", "event_id", "ts", "event_type", "value")
    assert(Attribution.credits(ev, "user_id", "event_id", "ts",
      "event_type", "value", "purchase", Seq("click"),
      1000000L).count() == 0L)
    val recs = Seq.empty[(Long, String)].toDF("rec_id", "name")
    assert(EntityRes.resolve(recs, "rec_id", "name", 4, 2)
      .count() == 0L)
    val pts = Seq.empty[(Long, Long, Long)].toDF("id", "x", "y")
    assert(Geo.proximityPairs(pts, "id", "x", "y", 64L, 3600L)
      .count() == 0L)
  }

  test("r8 curation/graph operators on empty frames") {
    val docs = Seq.empty[(Long, String, Boolean)]
      .toDF("doc_id", "text", "tgt")
    assert(Importance.hashedNgramWeights(docs, "doc_id", "text",
      "tgt").count() == 0L)
    val emb = Seq.empty[(Long, Array[Float])]
      .toDF("vec_id", "embedding")
    assert(Sq8.searchTopK(emb, emb, "vec_id", "embedding",
      m = 5, k = 3).count() == 0L)
    val edges = Seq.empty[(Long, Long)].toDF("a", "b")
    val srcs = Seq.empty[Long].toDF("id")
    assert(Graph.bfsHops(edges, "a", "b", srcs, "id", 3)
      .count() == 0L)
    // sources but no edges: hop-0 singletons survive
    val s2 = Seq(7L).toDF("id")
    assert(Graph.bfsHops(edges, "a", "b", s2, "id", 3)
      .count() == 1L)
  }

  test("r9 operators on empty frames") {
    // routed SQ8: empty corpus and empty probe relation both yield
    // zero candidates, never an error
    val emb = Seq.empty[(Long, Array[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    val probes = Seq.empty[(Long, Int)].toDF("vec_id", "label")
    assert(Sq8.searchTopKInCells(emb, emb, "vec_id", "embedding",
      "label", probes, m = 5, k = 3).count() == 0L)
    val oneVec = Seq((1L, Array(1.0f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    assert(Sq8.searchTopKInCells(oneVec, oneVec, "vec_id",
      "embedding", "label", probes, m = 5, k = 3).count() == 0L)
    // shortest paths: no sources -> empty; sources but no edges ->
    // distance-0 singletons
    val edges = Seq.empty[(Long, Long, Long)].toDF("a", "b", "w")
    val srcs = Seq.empty[Long].toDF("id")
    assert(Graph.boundedShortestPaths(edges, "a", "b", "w", srcs,
      "id", 3).count() == 0L)
    assert(Graph.boundedShortestPaths(edges, "a", "b", "w",
      Seq(7L).toDF("id"), "id", 3).count() == 1L)
    // PII masking: empty string and null survive
    val txts = Seq(Some(""), None).toDF("text")
    val masked = txts.select(TextOps.maskPii(col("text")).as("m"),
      col("text"))
    assert(masked.filter(col("m").isNull).count() == 1L)
    assert(masked.filter(col("m") === "").count() == 1L)
  }

  test("late-r9 operators on empty frames") {
    val edges = Seq.empty[(Long, Long)].toDF("a", "b")
    // k-core / LPA: empty graph -> empty result, loops exit at once
    assert(Graph.kCore(edges, "a", "b", k = 2, maxRounds = 10)
      .count() == 0L)
    assert(Graph.labelPropagation(edges, "a", "b", rounds = 3)
      .count() == 0L)
    // winnowing: empty corpus -> no fingerprints, no pairs
    val docs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val fps = Winnow.fingerprints(docs, "doc_id", "text", k = 8, w = 4)
    assert(fps.count() == 0L)
    assert(Winnow.overlapPairs(fps, "doc_id", 1).count() == 0L)
    // k-anonymity: empty records -> empty, schema keeps anon_level
    val recs = Seq.empty[(Long, String, String)]
      .toDF("id", "city", "region")
    val lev = Anonymize.generalizationLevels(recs, Seq(col("city")),
      Seq(col("region")), k = 3)
    assert(lev.columns.contains("anon_level") && lev.count() == 0L)
    // MMR: covered in MmrSpec (empty pool); zero-k rejected
    intercept[IllegalArgumentException] {
      Similarity.mmrTopK(docs, "doc_id", "text", Array(1f), 0, 0.5)
    }
  }

  test("as-of join with an empty quote side leaves payload null, keeps left rows") {
    val trades = Seq((1L, Timestamp.valueOf("2024-01-01 00:00:01")))
      .toDF("sym", "ts")
    val quotes = Seq.empty[(Long, Timestamp, Double)]
      .toDF("sym", "ts", "px")
    val out = AsOfJoin.asOf(trades, quotes, "sym", "ts",
      payload = Seq("px"))
    assert(out.count() == 1L)
    assert(out.select(col("px")).head().isNullAt(0))
  }
}
