package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Corpus, Dedup, Splits, TextOps}

/** Dev tool (not library surface): the round-8 corpus operators —
  * cross-document duplicated-span extraction (q152), concat-and-split
  * sequence packing (q153), and vocabulary overlap (q155) — measured
  * over the FULL documents table at increasing corpus sizes. The
  * oracle queries bound their inputs (doc_id < 200/400) so their SQL
  * twins stay replayable; this probe is the at-scale row: the same
  * operators, unbounded, at 1×/10×/100× document counts.
  *
  * crossDocDupSpans volume note: [[ScaleUp]] document replicas are
  * per-doc token shuffles, so replicas share token MULTISETS but
  * almost no 10-token windows — window volume grows linearly with
  * corpus size while the duplicated-window density stays corpus-like
  * (Σ|hash-bucket|² must scale like a real corpus, the ScaleUp
  * documents rule).
  *
  * Usage: Test/runMain graft.CorpusScale <sfDir> [reps] [label]
  * Prints one JSON line per rep plus a min summary.
  */
object CorpusScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val label = args.lift(2).getOrElse(sfDir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.documents(spark, sfDir)
    val nDocs = docs.count()

    def spans(): (Long, Long) = {
      val merged = Dedup.crossDocDupSpans(docs, "doc_id", "text", 10)
        .localCheckpoint(true)
      (merged.count(),
        merged.agg(sum(col("m_end") - col("m_start")))
          .head().getLong(0))
    }
    def scrub(): (Long, Long) = {
      // detection -> removal (q231): same window hashes, plus the
      // ownership islands, token anti-join and rebuild — the probe
      // prices the full Lee-et-al dedup pass, not just detection
      val out = Dedup.scrubDupSpans(docs, "doc_id", "text", 10)
        .localCheckpoint(true)
      (out.count(),
        out.agg(sum(col("n_before") - col("n_after")))
          .head().getLong(0))
    }
    def pack(): Long =
      Corpus.packSequences(docs,
          Splits.hashBucket(col("doc_id")) % 32,
          md5(concat(lit("pack:"), col("doc_id").cast("string"))),
          "doc_id", TextOps.tokenCount(col("text")), 256)
        .groupBy(col("shard"), col("seq"))
        .agg(count(lit(1)).as("n_docs"))
        .count()
    def vocab(): Long = {
      val v = docs.select(col("lang"),
          explode(array_distinct(TextOps.tokens(col("text"))))
            .as("tok"))
        .distinct()
      v.as("a").join(v.as("b"), Seq("tok"))
        .filter(col("a.lang") < col("b.lang"))
        .groupBy(col("a.lang"), col("b.lang"))
        .agg(count(lit(1)))
        .count()
    }

    // warmup compiles the identical codegen on a tiny slice
    Dedup.crossDocDupSpans(docs.limit(50), "doc_id", "text", 10).count()

    val times = (1 to reps).map { r =>
      val t0 = System.nanoTime()
      val (nSpans, dupToks) = spans()
      val t1 = System.nanoTime()
      val nSeqs = pack()
      val t2 = System.nanoTime()
      val nPairs = vocab()
      val t3 = System.nanoTime()
      val (nScrubbed, toksCut) = scrub()
      val t4 = System.nanoTime()
      val (ds, dp, dv, dc) =
        ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
          (t4 - t3) / 1e9)
      println(f"""{"metric":"corpus_scale","rep":$r,"label":"$label",""" +
        f""""docs":$nDocs,"spans":$nSpans,"dup_tokens":$dupToks,""" +
        f""""seqs":$nSeqs,"vocab_pairs":$nPairs,""" +
        f""""scrubbed_docs":$nScrubbed,"tokens_cut":$toksCut,""" +
        f""""spans_sec":$ds%.4f,"pack_sec":$dp%.4f,""" +
        f""""vocab_sec":$dv%.4f,"scrub_sec":$dc%.4f,"unit":"sec"}""")
      ds + dp + dv + dc
    }
    println(f"""{"metric":"corpus_scale_min","label":"$label",""" +
      f""""docs":$nDocs,"value":${times.min}%.4f,"unit":"sec"}""")
    spark.stop()
  }
}
