package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed BPE merge LEARNING (Sennrich et al. '16 training
  * loop): [[TextOps]] encodes with a given merge table; this learns
  * one. Each round counts all adjacent token pairs across the corpus
  * (one groupBy — the only exchange), picks the most frequent pair
  * (ties → lexicographically smallest), and applies it everywhere
  * with the leftmost-non-overlapping greedy rule, then recounts.
  *
  * Determinism: the greedy "aaa → (aa)a not a(aa)" rule is expressed
  * relationally — occurrences of the winning pair at consecutive
  * positions form runs (gap-grouped by pos − row_number), and only
  * EVEN offsets within a run merge; for a ≠ b runs are singletons,
  * so the one rule covers both cases. Any SQL engine replays the
  * full learning trajectory bit-for-bit.
  *
  * Scale shape: the token relation carries its right neighbour, so
  * pair counting is a JOIN-FREE partial-aggregated groupBy; the
  * arg-max is a 1-row driver collect; application + re-index + the
  * next round's neighbour evaluate in one per-doc window chain over
  * a single exchange, checkpointed per round (O(1) plan depth).
  * State on the driver: the merge table (rounds × 2 strings).
  */
object BpeTrain {

  /** One learned merge: round (1-based), the pair, its count at
    * selection time. */
  final case class Merge(round: Int, a: String, b: String, n: Long)

  /** Character-level token relation (doc, pos, tok) for a text
    * column: 1-based positions over `lower(substr(text, 1, limit))`. */
  def charTokens(docs: DataFrame, idCol: String, textCol: String,
      limit: Int): DataFrame =
    // NOT fanned out (r15, measured): unlike the corpus tokenizers,
    // the char-limited training relation is deliberately tiny and
    // the learning loop is round-overhead-bound — a 32-way fanOut
    // here tripled the per-round task count (131 -> 318 tasks,
    // 4.7 -> 6.3 s at sf0.1) without any compute to spread.
    docs
      .select(col(idCol).as("doc"),
        lower(substring(col(textCol), 1, limit)).as("t"))
      .select(col("doc"),
        explode(when(length(col("t")) >= 1,
          sequence(lit(1), length(col("t"))))
          .otherwise(array())).as("pos"),
        col("t"))
      .select(col("doc"), col("pos").cast("long").as("pos"),
        expr("substring(t, pos, 1)").as("tok"))

  /** Learn `rounds` merges over a (doc, pos, tok) relation; returns
    * the merge table and the final token relation (positions
    * re-indexed 1..n per doc each round). Stops early when no
    * adjacent pair remains.
    *
    * r16 round shape (guide §2.4/§1.2 — the r15 form paid a full
    * (doc,pos) self-join for pair counting, two more joins to apply
    * the winning merge, and a final full-relation re-index window
    * per round): the working relation CARRIES its right neighbour
    * (`tok_b` = lead(tok), maintained at checkpoint time), so pair
    * counting is a map-side partial aggregate with NO join, and the
    * merge application + greedy parity rule + position re-index +
    * next-round neighbour all evaluate in ONE window chain over one
    * exchange (partitionBy doc, orderBy pos; the filter between the
    * two window blocks preserves the sort, so the second block adds
    * no exchange and no sort). Positions are contiguous 1..n per doc
    * (re-indexed every round), which is what lets run-membership and
    * the consumed-by-left rule read off lag/max-preceding instead of
    * the old per-run row_number sub-window.
    *
    * Greedy rule, relationally (unchanged semantics): occurrences of
    * the winning pair at consecutive positions form runs; within a
    * run only EVEN offsets merge. With contiguous positions the
    * offset of an occ row at p is p − (last non-occ position before
    * p) − 1 — identical to the old pos − row_number gap grouping.
    * Precondition: positions are contiguous and 1-based per doc. */
  def learnMerges(tokens: DataFrame, rounds: Int)
      : (Seq[Merge], DataFrame) = {
    require(rounds >= 0, s"rounds must be >= 0: $rounds")
    val w = Window.partitionBy(col("doc")).orderBy(col("pos"))
    val wRun = w.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    var toks = tokens.select(col("doc"), col("pos"), col("tok"))
      .withColumn("tok_b", lead(col("tok"), 1).over(w))
      .transform(Ckpt.cut)
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    // hand-rolled, not Ckpt.iterate: each round's stop test is the
    // driver collect that also picks the round's merge
    var r = 0
    var exhausted = false
    while (r < rounds && !exhausted) {
      r += 1
      val top = toks.filter(col("tok_b").isNotNull)
        .groupBy(col("tok").as("a"), col("tok_b").as("b"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("a"), col("b")).limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, n) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += Merge(r, a, b, n)
        toks = toks
          .withColumn("occ", col("tok") === a && col("tok_b") === b)
          // last non-occurrence position at or before this row; for
          // an occ row every position in (run_start, p] is occ, so
          // this is run_start − 1 (0 when the run starts the doc)
          .withColumn("nocc",
            coalesce(max(when(!col("occ"), col("pos"))).over(wRun),
              lit(0L)))
          .withColumn("sel",
            col("occ") && (col("pos") - col("nocc") - 1L) % 2 === 0)
          // a row is consumed by a merge starting on its LEFT; by
          // the parity rule a sel row's left neighbour is never sel
          .withColumn("consumed",
            coalesce(lag(col("sel"), 1).over(w), lit(false)))
          .filter(!col("consumed"))
          .select(col("doc"), col("pos"),
            when(col("sel"), lit(a + b)).otherwise(col("tok"))
              .as("tok"))
          // both expressions ride ONE window block over the old pos
          // order (survivor order == new order), so the re-index
          // costs no extra sort
          .withColumn("tok_b", lead(col("tok"), 1).over(w))
          .withColumn("pos2", row_number().over(w).cast("long"))
          .select(col("doc"), col("pos2").as("pos"), col("tok"),
            col("tok_b"))
          .transform(Ckpt.cut)
      }
    }
    (merges.toSeq, toks.select(col("doc"), col("pos"), col("tok")))
  }
}
