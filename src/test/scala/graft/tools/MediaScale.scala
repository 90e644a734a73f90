package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Components, Multimodal}

/** Dev tool (not library surface): the media near-dup pipeline —
  * hash (real decode) → per-modality band join → one components
  * pass → keep-min-id curation — measured END TO END at corpus
  * scale. The q143/q145/q146/q147 oracle corpora are 200-doc
  * bounded subsets by construction (their formulas are pinned in
  * SQL twins), so the banded media join had no at-scale measurement
  * of its own; this generates an arbitrary-size corpus with the
  * SCALE-SHAPED group structure — 4-member near-dup groups
  * (g = id/4, v = id%4), so group count grows linearly and band
  * bucket sizes stay O(1). The oracle corpora do it the other way
  * (g = id%50: 50 groups that grow with n) which is correct for a
  * fixed 200-doc fixture but would manufacture ever-growing
  * near-dup cliques at scale — Σ|bucket|² must scale like a real
  * corpus (the ScaleUp documents rule).
  *
  * Same operators as the oracled queries: [[Multimodal.dHash]]
  * (real PNG decode), [[Multimodal.audioFingerprint]] (real RIFF/PCM
  * walk), [[Multimodal.videoFingerprint]] (real ISO-BMFF walk),
  * [[Multimodal.dhashNearDupPairs]] per modality,
  * [[Components.connectedComponents]] once over the union.
  *
  * Usage: Test/runMain graft.MediaScale [nItems] [reps]
  * Prints one JSON line per rep plus a summary min.
  */
object MediaScale {

  /** Full-avalanche (g, i, salt) mix — the oracle corpora's small
    * prime-mod mixes are fine for 50 fixed groups but collapse at
    * scale (73856093 ≡ 2 mod 97, so amplitude patterns repeat every
    * 97 groups and the corpus manufactures giant cross-group
    * cliques); a real corpus's content diversity grows with size, so
    * the scale generator needs uncorrelated patterns per group. */
  private def mix(g: Long, i: Long, salt: Long): Long = {
    var z = g * 0x9E3779B97F4A7C15L + i * 0xC2B2AE3D27D4EB4FL +
      salt * 0x165667B19E3779F9L
    z ^= (z >>> 31); z *= 0xBF58476D1CE4E5B9L; z ^= (z >>> 27)
    z & Long.MaxValue
  }

  private def imgMedia(id: Long): Multimodal.MediaRecord = {
    val g = id / 4
    val v = (id % 4).toInt
    val payload = Multimodal.synthPngGray(32 + (g % 5).toInt,
      28 + (g % 3).toInt,
      (x, y) => ((mix(g, x.toLong * 64 + y, 1L) % 253).toInt +
        v * ((x + y) % 2)))
    Multimodal.MediaRecord(id, "image", payload, "scale")
  }

  private def audMedia(id: Long, off: Long): Multimodal.MediaRecord = {
    val g = id / 4
    val v = (id % 4).toInt
    val samples = Array.tabulate(65 * 256) { i =>
      val a = (mix(g, (i / 256).toLong, 2L) % 15).toInt + 1
      a * (i % 256 - 128) + (if (i % 997 == 0) v else 0)
    }
    Multimodal.MediaRecord(id + off, "audio",
      Multimodal.synthWavPcm(8000, samples), "scale")
  }

  private def vidMedia(id: Long, off: Long): Multimodal.MediaRecord = {
    val g = id / 4
    val v = (id % 4).toInt
    val mdat = Array.tabulate(65 * 256) { i =>
      val a = (mix(g, (i / 256).toLong, 3L) % 15).toInt + 1
      (a * (i % 256 % 16) + (if (i % 997 == 0) v else 0)).toByte
    }
    Multimodal.MediaRecord(id + off, "video",
      Multimodal.synthMp4("isom", 1000, 65000L, 1, mdat), "scale")
  }

  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toInt).getOrElse(20000)
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val perKind = n / 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def pipeline(): (Long, Long, Long) = {
      val base = spark.range(perKind.toLong).as[Long]
      val ih = Multimodal.dHash(base.map(imgMedia _)).toDF()
        .select(col("media_id"), col("h_hi"), col("h_lo"))
        .localCheckpoint(true)
      val ah = Multimodal
        .audioFingerprint(base.map(audMedia(_, 10000000L))).toDF()
        .select(col("media_id"), col("h_hi"), col("h_lo"))
        .localCheckpoint(true)
      val vh = Multimodal
        .videoFingerprint(base.map(vidMedia(_, 20000000L))).toDF()
        .select(col("media_id"), col("h_hi"), col("h_lo"))
        .localCheckpoint(true)
      val pairs = Multimodal
        .dhashNearDupPairs(ih, "media_id", maxHamming = 12)
        .unionByName(Multimodal
          .dhashNearDupPairs(ah, "media_id", maxHamming = 12))
        .unionByName(Multimodal
          .dhashNearDupPairs(vh, "media_id", maxHamming = 12))
        .select(col("a"), col("b"))
        .localCheckpoint(true)
      val nodes = ih.select(col("media_id"))
        .unionByName(ah.select(col("media_id")))
        .unionByName(vh.select(col("media_id")))
      // star kernel: loose Hamming tolerance can chain adjacent
      // groups into deep components at corpus scale, which is
      // exactly the graph shape the O(log²) star form is for
      val comps = Components
        .connectedComponentsStar(nodes, "media_id", pairs, "a", "b")
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"))
      (nodes.count(), pairs.count(), comps.count())
    }

    // warmup at 1/10 size compiles the identical generated code
    val warm = math.max(perKind / 10, 100)
    val warmBase = spark.range(warm.toLong).as[Long]
    Multimodal.dHash(warmBase.map(imgMedia _)).toDF().count()

    val times = (1 to reps).map { r =>
      val t0 = System.nanoTime()
      val (items, pairs, comps) = pipeline()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"""{"metric":"media_neardup_e2e","rep":$r,"n":$n,""" +
        f""""items":$items,"pairs":$pairs,"components":$comps,""" +
        f""""value":$dt%.4f,"unit":"sec"}""")
      dt
    }
    println(f"""{"metric":"media_neardup_e2e_min","n":$n,""" +
      f""""value":${times.min}%.4f,"unit":"sec"}""")
    spark.stop()
  }
}
