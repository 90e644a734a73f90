package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end corpus curation (the composed LLM-training-data
  * pipeline the build brief asks for): normalize → quality filter →
  * exact dedup → near-dup removal, all from the verified operator
  * library. One call takes a raw document table to a training-ready
  * corpus.
  *
  * Scale shape: normalization/quality are shuffle-free map work;
  * exact dedup shuffles once on the content hash; near-dup is the
  * LSH path (band shuffle on ids only). Nothing quadratic, nothing
  * driver-side.
  *
  * Near-dup policy (three selectable, [[Curate.NearDupPolicy]]):
  *  - greedy keep-earliest (default): any doc appearing as the LATER
  *    member (`b`) of a confirmed near-dup pair (a < b) is dropped.
  *    Deterministic and single-pass.
  *  - transitive min-id: [[Components]] closes the pair graph and
  *    exactly one doc (the min id) survives per near-dup CLUSTER —
  *    chains A≈B≈C with A≉C collapse to A, where greedy would also
  *    drop C only via the B pair it shares.
  *  - transitive best-quality: same clustering, but the survivor is
  *    the highest-QUALITY member (ties broken by min id) — what
  *    production curation actually wants: when a cluster holds a
  *    clean original and a boilerplate-padded copy, keep the clean
  *    one regardless of which id came first.
  */
object Curate {

  sealed trait NearDupPolicy
  object NearDupPolicy {
    /** Drop the later member of every confirmed pair (single-pass). */
    case object Greedy extends NearDupPolicy
    /** Connected components; the min-id member survives per cluster. */
    case object TransitiveMinId extends NearDupPolicy
    /** Connected components; the best-quality member (tie → min id)
      * survives per cluster. */
    case object TransitiveBestQuality extends NearDupPolicy
  }

  /** Unicode-form + whitespace/digit/case normalization (the q56
    * cleaning pass, NFC-first): canonically-equal spellings (é
    * precomposed vs e + combining acute) must be byte-equal BEFORE
    * md5/shingle/minhash keys are built, or exact dedup silently
    * treats them as distinct documents. NFC rides the codegen'd
    * [[graft.functions.UnicodeNormalize]] kernel (ASCII fast path =
    * one byte scan, zero allocation), mirrored in oracles by
    * DuckDB's `nfc_normalize`. */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        lower(call_function("unicode_normalize", text, lit("NFC"))),
        "[0-9]+", ""), "\\s+", " "))

  /** @param docs         (idCol, textCol) document table
    * @param stopwords    quality-scoring stop list
    * @param minQuality   drop docs scoring below this
    * @param n            shingle size for near-dup
    * @param k            minhash signature length
    * @param bands        LSH bands (k % bands == 0)
    * @param minJaccard   near-dup confirmation threshold
    * @param policy       near-dup survivor policy (see object doc)
    * @return surviving docs: (id, clean, quality)
    */
  def curate(docs: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String] = Seq("the", "a"),
      minQuality: Double = 0.5, n: Int = 3, k: Int = 6,
      bands: Int = 3, minJaccard: Double = 0.9,
      policy: NearDupPolicy = NearDupPolicy.Greedy,
      ccKernel: Components.Kernel = Components.Kernel.MinLabel): DataFrame = {
    val cleaned = docs.select(col(idCol).as("id"),
        normalize(col(textCol)).as("clean"))
      .withColumn("quality", TextOps.qualityScore(col("clean"),
        stopwords))
      .filter(col("quality") >= minQuality)
    // exact dedup: keep the smallest id per identical clean text.
    // The frame feeds THREE consumers (band keys, shingle join-back,
    // final anti-join); a lazy .persist() lets parallel stages of the
    // single downstream action race to populate the cache and
    // re-evaluate the scan+window per consumer. An eager cut
    // materializes it exactly once, truncates the lineage (the
    // downstream plan reads blocks, never the scan), and is reclaimed
    // by the ContextCleaner when unreferenced — no unpersist
    // obligation on the caller. At cluster scale set a reliable
    // checkpoint dir (Ckpt: local cut blocks are executor-local and
    // non-replicated, so an executor loss kills the job).
    val exact = cleaned
      .withColumn("__h", md5(col("clean")))
      .withColumn("__keep", min(col("id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))))
      .filter(col("id") === col("__keep"))
      .drop("__h", "__keep")
      .transform(Ckpt.cut)
    val pairs = Dedup.lshNearDupPairs(exact, "id", "clean",
      n = n, k = k, bands = bands, minJaccard = minJaccard)
    def components() =
      Components.components(exact, "id", pairs, "a", "b",
        kernel = ccKernel)
    val dropIds = policy match {
      case NearDupPolicy.Greedy =>
        // drop the later member of every confirmed pair
        pairs.select(col("b").as("id")).distinct()
      case NearDupPolicy.TransitiveMinId =>
        // one survivor (the min id = the component label) per cluster
        components()
          .filter(col("id") =!= col("component"))
          .select(col("id"))
      case NearDupPolicy.TransitiveBestQuality =>
        // one survivor per cluster: max quality, ties to min id.
        // Window over the component label — the cluster cardinality
        // is small (near-dup groups), so no skew concern; singleton
        // components pass through rank 1 untouched.
        exact.join(components(), Seq("id"))
          .withColumn("__rk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("component"))
              .orderBy(col("quality").desc, col("id"))))
          .filter(col("__rk") > 1)
          .select(col("id"))
    }
    exact.join(dropIds, Seq("id"), "left_anti")
  }
}
