package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators.PageRank

/** Semantic checks for the iterative/retrieval queries (q93-q95)
  * that go beyond the DuckDB hash-compare: hand-computed PageRank
  * on a known graph, an independent argmin/mean re-derivation of
  * the k-means update, and a from-scratch recomputation of the
  * BM25 score for the top hit. */
class RankRetrievalSpec extends SparkSpec {
  import spark.implicits._

  test("integerRanks matches a hand-computed round on a 4-node graph") {
    // Triangle 1-2-3 with pendant 4-1 (undirected -> both directions).
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    // degrees 1:3, 2:2, 3:2, 4:1; contributions r div deg:
    //   i1(1) = 150000 + 85*(500000+500000+1000000) div 100 = 1850000
    //   i1(2) = i1(3) = 150000 + (85*(333333+500000)) div 100 = 858333
    //   i1(4) = 150000 + (85*333333) div 100 = 433333
    val r1 = PageRank.integerRanks(edges, "src", "dst", iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 1850000L, 2L -> 858333L,
      3L -> 858333L, 4L -> 433333L))
    // both forced broadcast decisions agree with the data-driven
    // default
    for (b <- Seq(true, false)) {
      val rb = PageRank.integerRanks(edges, "src", "dst", iters = 1,
        broadcastRanks = Some(b)).as[(Long, Long)].collect().toMap
      assert(rb == r1, s"forced broadcast ($b) diverged")
    }
  }

  test("integerRanks total mass stays within the damped envelope") {
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val r3 = PageRank.integerRanks(edges, "src", "dst", iters = 3)
      .as[(Long, Long)].collect().toMap
    // Integer division only loses mass: total <= n*1e6, and each
    // node keeps at least the teleport floor.
    assert(r3.values.sum <= 4L * 1000000L)
    assert(r3.values.forall(_ >= 150000L))
    // The hub (node 1, degree 3) outranks every other node.
    assert(r3(1L) > r3(2L) && r3(2L) == r3(3L) && r3(3L) > r3(4L))
  }

  test("integerRanks on an empty edge list returns an empty frame, no crash") {
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(PageRank.integerRanks(edges, "src", "dst", iters = 3)
      .count() == 0L)
  }

  test("edge-form PageRank is bit-identical to the adjacency form") {
    // Same integer algebra, different physical shape — results must
    // match EXACTLY, not approximately. 4-node graph w/ known answer:
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val adj = PageRank.integerRanks(edges, "src", "dst", iters = 3)
      .as[(Long, Long)].collect().toMap
    val edge = PageRank.integerRanksEdgeForm(edges, "src", "dst",
      iters = 3).as[(Long, Long)].collect().toMap
    assert(edge == adj)
  }

  test("edge-form PageRank handles the hub graph the adjacency contract excludes") {
    // Star: center 1 joined to 2..200 (degree 199 — the power-law-hub
    // shape where the adjacency form's per-vertex array is the wrong
    // layout). Both forms still agree at this scale; the edge form is
    // the one whose per-row width stays O(1) as the hub grows.
    val star = (2L to 200L).flatMap(i => Seq((1L, i), (i, 1L)))
      .toDF("src", "dst")
    val adj = PageRank.integerRanks(star, "src", "dst", iters = 2)
      .as[(Long, Long)].collect().toMap
    val edge = PageRank.integerRanksEdgeForm(star, "src", "dst",
      iters = 2).as[(Long, Long)].collect().toMap
    assert(edge == adj)
    assert(edge(1L) > edge(2L), "hub must outrank a leaf")
    assert((2L to 200L).map(edge).distinct.size == 1,
      "leaves are symmetric, ranks must be equal")
  }

  test("directedRanks keeps a source-only chain alive where the symmetric kernel drops it") {
    // Pure directed chain 1→2→3→4: each round of the symmetric-only
    // kernel keeps only contribution RECEIVERS, so the live set
    // shrinks from the source end — {2,3,4} → {3,4} → {4} → ∅. That
    // is exactly the documented unsupported case; the directed kernel
    // must return all 4 nodes with the teleport floor intact.
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    assert(PageRank.integerRanks(chain, "src", "dst", iters = 4)
      .count() == 0L, "symmetric kernel no longer empties — update docs")
    val r = PageRank.directedRanks(chain, "src", "dst", iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(r.keySet == Set(1L, 2L, 3L, 4L))
    assert(r.values.forall(_ >= 150000L), "teleport floor violated")
    // Source node 1 receives only teleport + dangling share; the
    // chain accumulates rank downstream toward the sink.
    assert(r(1L) < r(4L))
  }

  test("directedRanks matches a plain-Scala reference on a dangling graph") {
    // Diamond-with-sink: 1→{2,3}, 2→4, 3→4; node 4 is dangling, so
    // its mass must re-enter via the D div |V| share each round.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
    def ref(es: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
      val e = es.distinct
      val vs = (e.map(_._1) ++ e.map(_._2)).distinct
      val out = e.groupBy(_._1).map { case (k, v) =>
        k -> v.map(_._2).distinct }
      var r = vs.map(_ -> 1000000L).toMap
      for (_ <- 1 to iters) {
        val contrib = scala.collection.mutable
          .Map.empty[Long, Long].withDefaultValue(0L)
        for (v <- vs; ns <- out.get(v); n <- ns)
          contrib(n) += r(v) / ns.size
        val share = vs.filterNot(out.contains).map(r).sum / vs.size
        r = vs.map(v =>
          v -> (150000L + (85L * (contrib(v) + share)) / 100L)).toMap
      }
      r
    }
    val got = PageRank
      .directedRanks(edges.toDF("src", "dst"), "src", "dst", iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == ref(edges, 3), s"got $got, want ${ref(edges, 3)}")
  }

  test("q93 centroid update equals a window-argmin mean re-derivation") {
    val d = sf()
    val got = queries.Stats.q93.fn(spark, d)
      .as[(Long, Long, Long, Double)].collect()
    assert(got.length == 8 * 64)
    // Independent formulation: window-ranked argmin assignment, then
    // plain float mean snapped to micro-units at the end (different
    // plan, same semantics up to the documented micro-unit snap).
    val e = Tables.embeddings(spark, d)
    val c = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
    val dist = aggregate(
      zip_with(col("embedding"), col("cemb"), (x, y) =>
        (x.cast("double") - y.cast("double")) *
          (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, x) => acc + x)
    val assigned = e.crossJoin(broadcast(c))
      .withColumn("dist", dist)
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("dist"), col("cid"))))
      .filter(col("rn") === 1)
    val want = assigned
      .select(col("cid"), posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy(col("cid"), (col("i") + 1).cast("long").as("dim"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("x").cast("double") * 1e6 + 0.5)).as("sm"))
      .select(col("cid"), col("dim"), col("n"),
        (floor(col("sm") / col("n") / 1e6 * 1e6 + 0.5) / 1e6).as("c"))
      .as[(Long, Long, Long, Double)].collect()
      .map { case (cid, dim, n, v) => (cid, dim) -> ((n, v)) }.toMap
    got.foreach { case (cid, dim, n, v) =>
      val (wn, wv) = want((cid, dim))
      assert(n == wn, s"cluster $cid size")
      // 2e-6 tolerance: the two formulations round to micro-units
      // through different float chains, which may differ by one ulp
      // at a half-boundary (one micro-unit in the result).
      assert(math.abs(v - wv) < 2e-6, s"centroid ($cid,$dim): $v vs $wv")
    }
  }

  test("q95 top hit's BM25 score recomputes from raw tf/df/dl") {
    val d = sf()
    val top = queries.Text.q95.fn(spark, d)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(top.length == 15)
    assert(top.map(_._6).sliding(2).forall(p => p(0) >= p(1)),
      "scores not descending")
    // Recompute the winner's score in plain Scala from independently
    // aggregated corpus stats.
    val terms = Seq("spark", "window", "merge")
    val toks = Tables.documents(spark, d)
      .select(col("doc_id"), operators.TextOps.tokens(col("text")).as("t"))
    val (nd, sdl) = toks.agg(count(lit(1)), sum(size(col("t"))))
      .as[(Long, Long)].head()
    val dfs = terms.map { t =>
      toks.filter(array_contains(col("t"), t)).count()
    }
    val (docId, dl, tf0, tf1, tf2, bm25) = top.head
    val avgdl = sdl.toDouble / nd.toDouble
    val score = terms.indices.map { i =>
      val tf = Seq(tf0, tf1, tf2)(i).toDouble
      val idf = (nd.toDouble - dfs(i).toDouble + 0.5) /
        (dfs(i).toDouble + 0.5)
      idf * (tf * 2.2) /
        (tf + 1.2 * (0.25 + 0.75 * dl.toDouble / avgdl))
    }.sum
    assert(math.abs(bm25 - math.floor(score * 1e6 + 0.5) / 1e6) < 1e-9,
      s"doc $docId: $bm25 vs recomputed $score")
  }
}
