package graft

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate,
  LocalRelation}
import org.apache.spark.sql.functions._

import graft.operators.Pq

/** Product-quantization fixtures: hand-computed codebooks, code
  * assignments (including exact-tie → lower-code), ADC estimates, and
  * the exact ground-truth ranking — all on integer coordinates so
  * every distance is float-exact. */
class PqSpec extends SparkSpec {
  import spark.implicits._

  // dim 4, 2 sub-spaces of 2 dims, 2 centroids (rows 0 and 1)
  private def corpus = Seq(
    (0L, Array(0.0f, 0.0f, 10.0f, 10.0f)),
    (1L, Array(5.0f, 5.0f, 0.0f, 0.0f)),
    (2L, Array(0.0f, 0.0f, 10.0f, 9.0f)),
    (3L, Array(5.0f, 4.0f, 0.0f, 0.0f)),
    (4L, Array(2.0f, 3.0f, 5.0f, 5.0f))).toDF("id", "emb")

  private def cb = Pq.codebook(corpus, "id", "emb",
    subs = 2, subDim = 2, k = 2)

  test("codebook slices seed rows per sub-space") {
    val got = cb.orderBy(col("j"), col("m"))
      .collect().map(r => (r.getInt(0), r.getLong(1),
        r.getSeq[Float](2).map(_.toDouble).toList)).toList
    assert(got === List(
      (0, 0L, List(0.0, 0.0)), (0, 1L, List(5.0, 5.0)),
      (1, 0L, List(10.0, 10.0)), (1, 1L, List(0.0, 0.0))))
  }

  test("encode picks argmin centroid, exact ties to the lower code") {
    val got = Pq.encode(corpus, "id", "emb", cb, subDim = 2)
      .orderBy(col("id"), col("j"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toList
    assert(got === List(
      (0L, 0, 0L), (0L, 1, 0L),   // seed rows quantize to themselves
      (1L, 0, 1L), (1L, 1, 1L),
      (2L, 0, 0L), (2L, 1, 0L),
      (3L, 0, 1L), (3L, 1, 1L),
      (4L, 0, 0L), (4L, 1, 0L))) // d2 = 13/13 and 50/50: tie -> 0
  }

  test("ADC ranking sums per-sub-space LUT distances; exact leg agrees") {
    val q = corpus.filter(col("id") === 0L)
    val enc = Pq.encode(corpus, "id", "emb", cb, subDim = 2)
    val est = Pq.adcTopK(q, "id", "emb", enc, "id", cb,
        subDim = 2, k = 4)
      .orderBy(col("rank"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toList
    // LUT for q0: j0 -> (m0: 0, m1: 50); j1 -> (m0: 0, m1: 200)
    // est: id2 (0,0) -> 0; id4 (0,0) -> 0; id1/(1,1) -> 250; id3 -> 250
    assert(est === List(
      (1L, 2L, 0L), (2L, 4L, 0L),
      (3L, 1L, 250000000L), (4L, 3L, 250000000L)))

    val exact = Pq.exactTopK(q, "id", "emb", corpus, "id", "emb", k = 4)
      .orderBy(col("rank"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toList
    // true d2 from q0: id2 = 1, id4 = 63, id3 = 241, id1 = 250
    assert(exact === List(
      (1L, 2L, 1000000L), (2L, 4L, 63000000L),
      (3L, 3L, 241000000L), (4L, 1L, 250000000L)))
  }

  test("ADC self-match: a vector sharing the query's codes scores the " +
      "query's own quantization residual") {
    // query id1 quantizes exactly to (1,1); id3 shares those codes, so
    // ADC(q1 -> id3) = d2(q1_sub, centroids) = 0 + 0 = 0
    val q = corpus.filter(col("id") === 1L)
    val enc = Pq.encode(corpus, "id", "emb", cb, subDim = 2)
    val top = Pq.adcTopK(q, "id", "emb", enc, "id", cb,
        subDim = 2, k = 1)
      .collect().map(r => (r.getLong(2), r.getLong(3))).toList
    assert(top === List((3L, 0L)))
  }

  test("codebook rejects duplicate ids even when the row count matches") {
    // ids {0, 0, 1 missing}: 2 rows under id < 2, so the old pure
    // row-count guard would pass while seeding duplicate (j, m) codes
    val dup = Seq(
      (0L, Array(0.0f, 0.0f, 1.0f, 1.0f)),
      (0L, Array(2.0f, 2.0f, 3.0f, 3.0f)),
      (5L, Array(9.0f, 9.0f, 9.0f, 9.0f))).toDF("id", "emb")
    val ex = intercept[IllegalArgumentException] {
      Pq.codebook(dup, "id", "emb", subs = 2, subDim = 2, k = 2)
    }
    assert(ex.getMessage.contains("distinct"))
  }

  test("refine moves each centroid to its cell's mean; empty cells keep seed") {
    // j=0 cell m=0 attracts sub-vectors (0,0), (0,0), (2,3) -> mean
    // (2/3, 1); cell m=1 attracts (5,5), (5,4) -> mean (5, 4.5).
    // j=1 cell m=0 attracts (10,10), (10,9), (5,5) -> mean (25/3, 8);
    // cell m=1 attracts (0,0), (0,0) -> mean (0, 0).
    val got = Pq.refine(corpus, "id", "emb", cb, subDim = 2)
      .orderBy(col("j"), col("m"))
      .collect().map(r => (r.getInt(0), r.getLong(1),
        r.getSeq[Float](2).toList)).toList
    assert(got === List(
      (0, 0L, List((2.0 / 3).toFloat, 1.0f)),
      (0, 1L, List(5.0f, 4.5f)),
      (1, 0L, List((25.0 / 3).toFloat, 8.0f)),
      (1, 1L, List(0.0f, 0.0f))))

    // a centroid that attracts NO vectors must survive refine
    // unchanged: seed an outlier codebook row, then refine over a
    // corpus that excludes it — every remaining vector is closer to
    // centroid 0, so cell m=1 is empty and keeps its seed
    val shifted = corpus.withColumn("emb",
      when(col("id") === 1L,
        typedLit(Array(1000.0f, 1000.0f, 1000.0f, 1000.0f)))
        .otherwise(col("emb")))
    val cbS = Pq.codebook(shifted, "id", "emb", subs = 2, subDim = 2,
      k = 2)
    val ref = Pq.refine(shifted.filter(col("id") =!= 1L), "id", "emb",
        cbS, subDim = 2)
      .filter(col("m") === 1L)
      .orderBy(col("j"))
      .collect().map(_.getSeq[Float](2).toList).toList
    assert(ref === List(List(1000.0f, 1000.0f), List(1000.0f, 1000.0f)))
  }

  test("codebook and refine return driver-side local frames") {
    assert(cb.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    val ref = Pq.refine(corpus, "id", "emb", cb, subDim = 2)
    assert(ref.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
  }

  test("encode + adcTopK on a refined codebook build without a job, " +
      "and the refine subtree never re-enters the ADC plan") {
    val ref = Pq.refine(corpus, "id", "emb", cb, subDim = 2)
    val q = corpus.filter(col("id") === 0L)
    val (est, jobs) = withJobs("pq-build") {
      val enc = Pq.encode(corpus, "id", "emb", ref, subDim = 2)
      val est = Pq.adcTopK(q, "id", "emb", enc, "id", ref,
        subDim = 2, k = 4)
      est.queryExecution.optimizedPlan
      est
    }
    assert(jobs.isEmpty, s"building started jobs $jobs")
    // the scoring sum is the plan's only aggregate: refine's Lloyd
    // M-step (its own aggregate) is a LocalRelation by now
    val aggs = est.queryExecution.optimizedPlan.collect {
      case a: Aggregate => a
    }
    assert(aggs.size === 1, est.queryExecution.optimizedPlan)
  }

  test("refine is independent of the corpus partitioning") {
    def centroids(df: org.apache.spark.sql.DataFrame) =
      Pq.refine(df, "id", "emb", cb, subDim = 2)
        .collect().map(r => (r.getInt(0), r.getLong(1),
          r.getSeq[Float](2).toList)).sortBy(t => (t._1, t._2)).toList
    assert(centroids(corpus.repartition(3)) ===
      centroids(corpus.repartition(1)))
  }

  test("refine rejects a non-dense codebook, naming Pq.refine") {
    val holed = cb.filter(!(col("j") === 1 && col("m") === 1L))
    val ex = intercept[IllegalArgumentException] {
      Pq.refine(corpus, "id", "emb", holed, subDim = 2)
    }
    assert(ex.getMessage.contains("Pq.refine") &&
      ex.getMessage.contains("not dense"), ex.getMessage)
  }

  test("pq_assign through SQL yields the codes Pq.encode produces") {
    corpus.createOrReplaceTempView("pq_corpus_sql")
    // cb's rows in (j, m) order, as integer literals: the codebook
    // argument takes any nested numeric array
    val viaSql = spark.sql(
      "SELECT id, pq_assign(emb, array(array(0, 0), array(5, 5), " +
        "array(10, 10), array(0, 0)), 2, 2) AS pq FROM pq_corpus_sql")
      .collect().flatMap { r =>
        val pq = r.getSeq[Long](1)
        Seq((r.getLong(0), 0, pq(0)), (r.getLong(0), 1, pq(2)))
      }.sorted.toList
    val viaApi = Pq.encode(corpus, "id", "emb", cb, subDim = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sorted.toList
    assert(viaSql === viaApi)
    assert(viaSql.size === 10)
  }
}
