package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Qry, Tables}
import graft.operators.{Ckpt, Multimodal}
import Q._

/** Multimodal queries. q41: metadata-only envelope stats over binary
  * payloads (payload-pruned scan path). q42: encode→probe
  * differential — REAL PNG/WAV containers are synthesized per doc
  * with parameters derived from doc_id, then [[Multimodal.probe]]
  * parses the actual container bytes back; the oracle recomputes the
  * generation parameters directly, so any header-parse defect breaks
  * the match. (Full pixel decode via the JDK ImageIO codec is
  * spec-verified in MediaSpec — not SQL-expressible.)
  */
object MultimodalQ {

  /** Metadata-only envelope stats (payload never decoded — column
    * pruning drops it from any scan that selects only these). */
  val q41 = Qry(
    "q41_media_meta",
    (s: SparkSession, d: String) =>
      Multimodal.payloadMeta(
          Tables.documents(s, d)
            .filter(col("doc_id") < 300)
            .withColumn("payload", col("text").cast("binary")),
          "payload")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_bytes")).as("total_bytes"),
          min(col("payload_md5")).as("min_md5"))
        .orderBy(col("lang")),
    Some("""
      SELECT lang, COUNT(*) AS n,
             -- strlen = BYTES (n_bytes is the UTF-8 payload size);
             -- length() counts CHARACTERS and diverges on any
             -- non-ASCII corpus (CJK marker vocab in fuzz data)
             CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
             MIN(md5(text)) AS min_md5
      FROM documents WHERE doc_id < 300
      GROUP BY lang ORDER BY lang"""))

  /** Encode→probe differential: per-partition batched HEADER PARSE
    * of real container bytes (PNG signature+IHDR big-endian fields,
    * WAV RIFF chunk walk little-endian fields), checked against the
    * oracle's direct recomputation of the generation parameters. */
  val q42 = Qry(
    "q42_media_decode",
    (s: SparkSession, d: String) => {
      val session = s
      import session.implicits._
      val media = Tables.documents(s, d)
        .filter(col("doc_id") < 200)
        .select(col("doc_id")).as[Long]
        .map { id =>
          val payload =
            if (id % 2 == 0)
              Multimodal.synthPng(
                width = ((id * 7) % 640 + 1).toInt,
                height = ((id * 5) % 480 + 1).toInt,
                bitDepth = 8,
                colorType = if (id % 4 == 0) 2 else 0)
            else
              Multimodal.synthWav(
                sampleRate = (8000 * (1 + id % 3)).toInt,
                channels = ((id / 2) % 2 + 1).toInt,
                bitsPerSample = 16,
                nSamples = ((id % 50) + 1).toInt * 100)
          Multimodal.MediaRecord(id,
            if (id % 2 == 0) "image" else "audio", payload, "synth")
        }
      Multimodal.probe(media).toDF()
        .select(col("media_id"), col("format"), col("n_bytes"),
          col("width"), col("height"), col("bit_depth"),
          col("color_type"), col("channels"), col("sample_rate"),
          col("bits_per_sample"), col("duration_ms"))
        .orderBy(col("media_id"))
    },
    Some("""
      SELECT doc_id AS media_id,
             CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'wav' END AS format,
             CAST(CASE WHEN doc_id % 2 = 0 THEN 45
                  ELSE 44 + ((doc_id % 50) + 1) * 100
                       * (((doc_id // 2) % 2) + 1) * 2 END
               AS BIGINT) AS n_bytes,
             CASE WHEN doc_id % 2 = 0
               THEN CAST((doc_id * 7) % 640 + 1 AS INTEGER) END AS width,
             CASE WHEN doc_id % 2 = 0
               THEN CAST((doc_id * 5) % 480 + 1 AS INTEGER) END AS height,
             CASE WHEN doc_id % 2 = 0
               THEN CAST(8 AS INTEGER) END AS bit_depth,
             CASE WHEN doc_id % 2 = 0
               THEN CAST(CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 0 END
                 AS INTEGER) END AS color_type,
             CASE WHEN doc_id % 2 = 1
               THEN CAST(((doc_id // 2) % 2) + 1 AS INTEGER) END AS channels,
             CASE WHEN doc_id % 2 = 1
               THEN CAST(8000 * (1 + doc_id % 3) AS INTEGER)
               END AS sample_rate,
             CASE WHEN doc_id % 2 = 1
               THEN CAST(16 AS INTEGER) END AS bits_per_sample,
             CASE WHEN doc_id % 2 = 1
               THEN CAST((((doc_id % 50) + 1) * 100 * 1000)
                 // (8000 * (1 + doc_id % 3)) AS BIGINT) END AS duration_ms
      FROM documents WHERE doc_id < 200
      ORDER BY media_id"""))

  /** q42's differential applied to the `video` kind: real ISO-BMFF
    * boxes (ftyp brand, mvhd timescale/duration, trak count) are
    * synthesized per doc with id-derived parameters, box-walked back
    * by [[Multimodal.probeMp4]], and checked against the oracle's
    * direct recomputation — any size/offset/endianness defect in the
    * walk breaks the hash. duration_ms floors exactly like the
    * parser: duration·1000 div timescale, all integers. */
  val q119 = Qry(
    "q119_media_video_probe",
    (s: SparkSession, d: String) => {
      val session = s
      import session.implicits._
      val media = Tables.documents(s, d)
        .filter(col("doc_id") < 200)
        .select(col("doc_id")).as[Long]
        .map { id =>
          val payload = Multimodal.synthMp4(
            brand = if (id % 2 == 0) "isom" else "mp42",
            timescale = (1000 * (1 + id % 3)).toInt,
            duration = (id * 37) % 100000,
            nTracks = (id % 3 + 1).toInt)
          Multimodal.MediaRecord(id, "video", payload, "synth")
        }
      Multimodal.probe(media).toDF()
        .select(col("media_id"), col("format"), col("n_bytes"),
          col("brand"), col("duration_ms"), col("n_tracks"))
        .orderBy(col("media_id"))
    },
    Some("""
      SELECT doc_id AS media_id,
             'mp4' AS format,
             CAST(136 + 100 * (doc_id % 3 + 1) AS BIGINT) AS n_bytes,
             CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END AS brand,
             CAST(((doc_id * 37) % 100000) * 1000
               // (1000 * (1 + doc_id % 3)) AS BIGINT) AS duration_ms,
             CAST(doc_id % 3 + 1 AS INTEGER) AS n_tracks
      FROM documents WHERE doc_id < 200
      ORDER BY media_id"""))

  /** The encode→probe differential for the JPEG image kind, rounding
    * out PNG (q42) and MP4 (q119): real JFIF containers (SOI, APP0,
    * SOF0 frame header, EOI) synthesized with id-derived dimensions/
    * precision/components, marker-walked back by
    * [[Multimodal.probeJpeg]], checked against the oracle's direct
    * parameter recomputation — any length/offset/endianness defect
    * in the segment walk breaks the match. Layout is deterministic
    * (32 + 3·nComponents bytes), so n_bytes is part of the oracle. */
  val q133 = Qry(
    "q133_media_jpeg_probe",
    (s: SparkSession, d: String) => {
      val session = s
      import session.implicits._
      val media = Tables.documents(s, d)
        .filter(col("doc_id") < 200)
        .select(col("doc_id")).as[Long]
        .map { id =>
          val payload = Multimodal.synthJpeg(
            width = ((id * 11) % 1024 + 1).toInt,
            height = ((id * 13) % 768 + 1).toInt,
            precision = 8,
            nComponents = if (id % 3 == 0) 1 else 3)
          Multimodal.MediaRecord(id, "image", payload, "synth")
        }
      Multimodal.probe(media).toDF()
        .select(col("media_id"), col("format"), col("n_bytes"),
          col("width"), col("height"), col("bit_depth"),
          col("n_components"))
        .orderBy(col("media_id"))
    },
    Some("""
      SELECT doc_id AS media_id,
             'jpeg' AS format,
             CAST(32 + 3 * (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 3 END)
               AS BIGINT) AS n_bytes,
             CAST((doc_id * 11) % 1024 + 1 AS INTEGER) AS width,
             CAST((doc_id * 13) % 768 + 1 AS INTEGER) AS height,
             CAST(8 AS INTEGER) AS bit_depth,
             CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 3 END
               AS INTEGER) AS n_components
      FROM documents WHERE doc_id < 200
      ORDER BY media_id"""))

  /** The q143/q146 image corpus generator — the ONE Scala source of
    * the pixel formula whose SQL twin is [[imgHashCtes]]; editing
    * either without the other breaks the gate in both queries, which
    * is the point. */
  private def imgMedia(id: Long): Multimodal.MediaRecord = {
    val g = (id % 50).toInt
    val v = (id / 50).toInt
    val payload = Multimodal.synthPngGray(32 + g % 5, 28 + g % 3,
      (x, y) => (g * 73 + x * 151 + y * 211 + x * y * 31 +
        v * ((x + y) % 2)) % 256)
    Multimodal.MediaRecord(id, "image", payload, "synth")
  }

  /** The q145/q146 audio corpus generator — SQL twin [[audHashCtes]];
    * `off` shifts the id space (q146 keeps modalities disjoint). */
  private def audMedia(id: Long, off: Long): Multimodal.MediaRecord = {
    val g = (id % 50).toInt
    val v = (id / 50).toInt
    // per-frame amplitude from a large-coefficient prime mix —
    // pseudo-random across (g, f), so distinct groups get
    // uncorrelated gradient signs; ~1/15 of adjacent frames tie on
    // amplitude, and there the sparse ±v perturbation decides the bit
    val samples = Array.tabulate(65 * 256) { i =>
      val a = (((g.toLong * 73856093L +
        (i / 256).toLong * 19349663L) % 97L).toInt % 15) + 1
      a * (i % 256 - 128) + (if (i % 997 == 0) v else 0)
    }
    Multimodal.MediaRecord(id + off, "audio",
      Multimodal.synthWavPcm(8000, samples), "synth")
  }

  /** The q147/q146 video corpus generator — SQL twin [[vidHashCtes]];
    * `off` shifts the id space (q146 keeps modalities disjoint). Each
    * clip is a VALID ISO-BMFF container whose `mdat` carries 65
    * frames of 256 deterministic bytes: per-frame amplitude from the
    * same prime-mix family as [[audMedia]] times a 0..15 byte ramp,
    * plus the sparse ±v replica perturbation — same-group clips are
    * near-identical, not equal, videos. */
  private def vidMedia(id: Long, off: Long): Multimodal.MediaRecord = {
    val g = (id % 50).toInt
    val v = (id / 50).toInt
    val mdat = Array.tabulate(65 * 256) { i =>
      val a = (((g.toLong * 73856093L +
        (i / 256).toLong * 19349663L) % 97L).toInt % 15) + 1
      (a * (i % 256 % 16) + (if (i % 997 == 0) v else 0)).toByte
    }
    Multimodal.MediaRecord(id + off, "video",
      Multimodal.synthMp4("isom", 1000, 65000L, 1, mdat), "synth")
  }

  /** CTE chain re-deriving the q143 image corpus dHashes — final CTE
    * `img_hashes` = (id, h_hi, h_lo). Shared by q143/q146. */
  private val imgHashCtes = """img_src AS (
        SELECT doc_id AS id, doc_id % 50 AS g, doc_id // 50 AS v,
               32 + (doc_id % 50) % 5 AS w,
               28 + (doc_id % 50) % 3 AS h
        FROM documents WHERE doc_id < 200),
      img_grid AS (
        SELECT i.id, gx, gy,
               (i.g*73 + ((gx*i.w)//9)*151 + ((gy*i.h)//8)*211
                 + ((gx*i.w)//9)*((gy*i.h)//8)*31
                 + i.v*((((gx*i.w)//9) + ((gy*i.h)//8)) % 2)) % 256 AS l
        FROM img_src i, range(0,9) t1(gx), range(0,8) t2(gy)),
      img_bits AS (
        SELECT a.id, a.gy, a.gx,
               CASE WHEN a.l < b.l THEN 1 ELSE 0 END AS bit
        FROM img_grid a JOIN img_grid b
          ON a.id = b.id AND a.gy = b.gy AND b.gx = a.gx + 1
        WHERE a.gx < 8),
      img_hashes AS (
        SELECT id,
               CAST(SUM(CASE WHEN gy < 4
                 THEN bit * (1::BIGINT << (gy*8+gx)) ELSE 0 END)
                 AS BIGINT) AS h_hi,
               CAST(SUM(CASE WHEN gy >= 4
                 THEN bit * (1::BIGINT << ((gy-4)*8+gx)) ELSE 0 END)
                 AS BIGINT) AS h_lo
        FROM img_bits GROUP BY id)"""

  /** CTE chain re-deriving the q145 audio corpus fingerprints — final
    * CTE `aud_hashes` = (id, h_hi, h_lo); `off` shifts the id space
    * (q146 keeps image and audio ids disjoint). Shared by q145/q146. */
  private def audHashCtes(off: Long): String = s"""aud_src AS (
        SELECT doc_id + $off AS id, doc_id % 50 AS g, doc_id // 50 AS v
        FROM documents WHERE doc_id < 200),
      aud_samples AS (
        SELECT c.id, i,
               (((c.g*73856093 + (i//256)*19349663) % 97) % 15 + 1)
                 * ((i % 256) - 128)
                 + CASE WHEN i % 997 = 0 THEN c.v ELSE 0 END AS s
        FROM aud_src c, range(0, 16640) t(i)),
      aud_energies AS (
        SELECT id, i // 256 AS f, SUM(ABS(s)) AS e
        FROM aud_samples GROUP BY id, i // 256),
      aud_bits AS (
        SELECT a.id, a.f,
               CASE WHEN a.e < b.e THEN 1 ELSE 0 END AS bit
        FROM aud_energies a JOIN aud_energies b
          ON a.id = b.id AND b.f = a.f + 1
        WHERE a.f < 64),
      aud_hashes AS (
        SELECT id,
               CAST(SUM(CASE WHEN f < 32
                 THEN bit * (1::BIGINT << f) ELSE 0 END)
                 AS BIGINT) AS h_hi,
               CAST(SUM(CASE WHEN f >= 32
                 THEN bit * (1::BIGINT << (f-32)) ELSE 0 END)
                 AS BIGINT) AS h_lo
        FROM aud_bits GROUP BY id)"""

  /** CTE chain re-deriving the q147 video corpus fingerprints — final
    * CTE `vid_hashes` = (id, h_hi, h_lo); `off` shifts the id space
    * (q146 keeps the three modalities disjoint). Shared by
    * q147/q146. All byte values are non-negative (0..228), so frame
    * energy is a plain SUM — no ABS leg like audio's signed
    * samples. */
  private def vidHashCtes(off: Long): String = s"""vid_src AS (
        SELECT doc_id + $off AS id, doc_id % 50 AS g, doc_id // 50 AS v
        FROM documents WHERE doc_id < 200),
      vid_bytes AS (
        SELECT c.id, i,
               (((c.g*73856093 + (i//256)*19349663) % 97) % 15 + 1)
                 * ((i % 256) % 16)
                 + CASE WHEN i % 997 = 0 THEN c.v ELSE 0 END AS s
        FROM vid_src c, range(0, 16640) t(i)),
      vid_energies AS (
        SELECT id, i // 256 AS f, SUM(s) AS e
        FROM vid_bytes GROUP BY id, i // 256),
      vid_bits AS (
        SELECT a.id, a.f,
               CASE WHEN a.e < b.e THEN 1 ELSE 0 END AS bit
        FROM vid_energies a JOIN vid_energies b
          ON a.id = b.id AND b.f = a.f + 1
        WHERE a.f < 64),
      vid_hashes AS (
        SELECT id,
               CAST(SUM(CASE WHEN f < 32
                 THEN bit * (1::BIGINT << f) ELSE 0 END)
                 AS BIGINT) AS h_hi,
               CAST(SUM(CASE WHEN f >= 32
                 THEN bit * (1::BIGINT << (f-32)) ELSE 0 END)
                 AS BIGINT) AS h_lo
        FROM vid_bits GROUP BY id)"""

  /** Banded candidate pairs + Hamming over a (id, h_hi, h_lo) CTE —
    * the SQL twin of [[Multimodal.dhashNearDupPairs]]; emits
    * `<p>bands` and `<p>cand`. */
  private def bandPairCtes(src: String, p: String): String = s"""
      ${p}bands AS (
        SELECT id, h_hi, h_lo, t.band,
               CASE t.band WHEN 0 THEN h_hi // 65536
                           WHEN 1 THEN h_hi % 65536
                           WHEN 2 THEN h_lo // 65536
                           ELSE h_lo % 65536 END AS key
        FROM $src, range(0,4) t(band)),
      ${p}cand AS (
        SELECT DISTINCT l.id AS a, r.id AS b,
               bit_count(xor(l.h_hi, r.h_hi))
                 + bit_count(xor(l.h_lo, r.h_lo)) AS hamming
        FROM ${p}bands l JOIN ${p}bands r
          ON l.band = r.band AND l.key = r.key AND l.id < r.id)"""

  /** q143 — image perceptual-hash near-dup, the multimodal analogue
    * of MinHash dedup (q28) on the REAL pixel path: full grayscale
    * PNGs (deflate-compressed IDAT) are synthesized per doc from an
    * id-derived luma formula, decoded back through the actual JDK
    * PNG codec, dHashed ([[Multimodal.dHash]]: 9×8 nearest-neighbor
    * luma grid → 64 row-gradient bits), and paired by banded
    * Hamming distance ([[Multimodal.dhashNearDupPairs]]). Each group
    * of 4 ids (id % 50) shares a base pattern with a tiny id-derived
    * perturbation — genuinely near-identical, not equal, images. The
    * oracle replays the luma/downsample/hash/band/Hamming arithmetic
    * directly; any defect in the PNG encoder, the codec round-trip,
    * the grid sampling, or the banding breaks the match. */
  val q143 = Qry(
    "q143_image_dhash_neardup",
    (s: SparkSession, d: String) => {
      val session = s
      import session.implicits._
      val media = Tables.documents(s, d)
        .filter(col("doc_id") < 200)
        .select(col("doc_id")).as[Long]
        .map(imgMedia _)
      // hashes feed BOTH sides of the band self-join — checkpoint so
      // the encode→decode→hash pass runs once (the q128 pattern; at
      // scale you materialize the 16-byte hashes, never decode twice)
      val hashes = Multimodal.dHash(media).toDF().transform(Ckpt.cut)
      Multimodal.dhashNearDupPairs(hashes, "media_id", maxHamming = 12)
        .orderBy(col("a"), col("b"))
    },
    Some(s"""
      WITH $imgHashCtes,
      ${bandPairCtes("img_hashes", "img_")}
      SELECT a, b, CAST(hamming AS BIGINT) AS hamming
      FROM img_cand WHERE hamming <= 12 ORDER BY a, b"""))

  /** q145 — audio fingerprint near-dup, completing near-dup across
    * the declared media kinds (image q143, audio here; video carries
    * header identity via q119's probe): 16-bit mono PCM WAVs are
    * synthesized per doc from an id-derived sample formula (per-frame
    * amplitude A(g, f) times a fixed sawtooth, plus a tiny
    * replica-index perturbation on a sparse sample grid — same-group
    * clips are near-identical, not equal), decoded back through the
    * real RIFF/PCM path by [[Multimodal.audioFingerprint]] (65 frame
    * energies → 64 gradient bits), and paired by the SAME banded
    * Hamming join as images. The oracle replays sample synthesis,
    * frame-energy folding, bit packing, banding, and Hamming
    * arithmetically — any defect in the PCM encoder, the chunk walk,
    * the int16 decode, or the framing breaks the match. */
  val q145 = Qry(
    "q145_audio_fingerprint_neardup",
    (s: SparkSession, d: String) => {
      val session = s
      import session.implicits._
      val media = Tables.documents(s, d)
        .filter(col("doc_id") < 200)
        .select(col("doc_id")).as[Long]
        .map(audMedia(_, 0L))
      val hashes = Multimodal.audioFingerprint(media).toDF()
        .transform(Ckpt.cut)
      Multimodal.dhashNearDupPairs(hashes, "media_id", maxHamming = 12)
        .orderBy(col("a"), col("b"))
    },
    Some(s"""
      WITH ${audHashCtes(0L)},
      ${bandPairCtes("aud_hashes", "aud_")}
      SELECT a, b, CAST(hamming AS BIGINT) AS hamming
      FROM aud_cand WHERE hamming <= 12 ORDER BY a, b"""))

  /** q147 — video content fingerprint near-dup, completing near-dup
    * across ALL declared media kinds (image q143, audio q145, video
    * here — previously the video kind carried only header identity
    * via q119's probe, so two re-encoded variants of one clip read
    * as distinct): VALID ISO-BMFF containers whose `mdat` carries
    * 65 deterministic 256-byte frames are synthesized per doc,
    * walked back through the real hostile-input-safe box walk by
    * [[Multimodal.videoFingerprint]] (65 frame energies → 64
    * gradient bits), and paired by the SAME banded Hamming join as
    * images and audio. The oracle replays frame-byte synthesis,
    * energy folding, bit packing, banding, and Hamming
    * arithmetically — any defect in the mp4 encoder, the box walk,
    * the mdat framing, or the banding breaks the match. */
  val q147 = Qry(
    "q147_video_fingerprint_neardup",
    (s: SparkSession, d: String) => {
      val session = s
      import session.implicits._
      val media = Tables.documents(s, d)
        .filter(col("doc_id") < 200)
        .select(col("doc_id")).as[Long]
        .map(vidMedia(_, 0L))
      val hashes = Multimodal.videoFingerprint(media).toDF()
        .transform(Ckpt.cut)
      Multimodal.dhashNearDupPairs(hashes, "media_id", maxHamming = 12)
        .orderBy(col("a"), col("b"))
    },
    Some(s"""
      WITH ${vidHashCtes(0L)},
      ${bandPairCtes("vid_hashes", "vid_")}
      SELECT a, b, CAST(hamming AS BIGINT) AS hamming
      FROM vid_cand WHERE hamming <= 12 ORDER BY a, b"""))

  /** q146 — cross-modal media dedup CURATION: the q143 image corpus,
    * the q145 audio corpus, and the q147 video corpus (ids offset
    * disjoint) hashed through their real decode paths, near-dup
    * pairs banded PER MODALITY (hashes of different kinds must never
    * meet a band join — a chance image/audio/video band collision is
    * not a duplicate), then ONE [[graft.operators.Components]] pass
    * clusters all three pair sets and each cluster keeps its min-id
    * representative — the keep-one dedup step a multimodal training
    * pipeline runs before packing. Emits (component, n_members):
    * component IS the kept id (min label), so the row count is the
    * surviving corpus size. Oracle re-derives all three hash chains,
    * all three band joins, and the transitive closure (recursive
    * CTE). */
  val q146 = Qry(
    "q146_media_dedup_curate",
    (s: SparkSession, d: String) => {
      val session = s
      import session.implicits._
      val base = Tables.documents(s, d)
        .filter(col("doc_id") < 200)
        .select(col("doc_id")).as[Long]
      val imgs = base.map(imgMedia _)
      val auds = base.map(audMedia(_, 1000L))
      val vids = base.map(vidMedia(_, 2000L))
      val ih = Multimodal.dHash(imgs).toDF()
        .select(col("media_id"), col("h_hi"), col("h_lo"))
        .transform(Ckpt.cut)
      val ah = Multimodal.audioFingerprint(auds).toDF()
        .select(col("media_id"), col("h_hi"), col("h_lo"))
        .transform(Ckpt.cut)
      val vh = Multimodal.videoFingerprint(vids).toDF()
        .select(col("media_id"), col("h_hi"), col("h_lo"))
        .transform(Ckpt.cut)
      val pairs = Multimodal
        .dhashNearDupPairs(ih, "media_id", maxHamming = 12)
        .unionByName(Multimodal
          .dhashNearDupPairs(ah, "media_id", maxHamming = 12))
        .unionByName(Multimodal
          .dhashNearDupPairs(vh, "media_id", maxHamming = 12))
        .select(col("a"), col("b"))
      val nodes = ih.select(col("media_id"))
        .unionByName(ah.select(col("media_id")))
        .unionByName(vh.select(col("media_id")))
      graft.operators.Components
        .connectedComponents(nodes, "media_id", pairs, "a", "b")
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy(col("component"))
    },
    Some(s"""
      WITH RECURSIVE $imgHashCtes,
      ${audHashCtes(1000L)},
      ${vidHashCtes(2000L)},
      ${bandPairCtes("img_hashes", "img_")},
      ${bandPairCtes("aud_hashes", "aud_")},
      ${bandPairCtes("vid_hashes", "vid_")},
      pairs AS (
        SELECT a, b FROM img_cand WHERE hamming <= 12
        UNION ALL
        SELECT a, b FROM aud_cand WHERE hamming <= 12
        UNION ALL
        SELECT a, b FROM vid_cand WHERE hamming <= 12),
      edges AS (
        SELECT a AS src, b AS dst FROM pairs
        UNION SELECT b AS src, a AS dst FROM pairs),
      nodes AS (
        SELECT id FROM img_hashes
        UNION ALL SELECT id FROM aud_hashes
        UNION ALL SELECT id FROM vid_hashes),
      walk AS (
        SELECT id, id AS label FROM nodes
        UNION
        SELECT e.dst, w.label FROM walk w JOIN edges e
          ON e.src = w.id),
      comp AS (SELECT id, MIN(label) AS component
               FROM walk GROUP BY id)
      SELECT component, COUNT(*) AS n_members
      FROM comp GROUP BY component ORDER BY component"""))

  /** The q151 trimmed-variant video corpus — 80 frames, each variant
    * v starting at CONTENT frame 3·v (a head-trim of 3·v frames with
    * a fresh 3·v-frame tail): same-group variants share a long run
    * of identical frames at DIFFERENT positions, which is exactly
    * the case the fixed-position q147 fingerprint cannot pair (every
    * energy slot shifts) and the sign-shingle path must.
    *
    * The amplitude step is g-DEPENDENT (the 13·g·cf cross term):
    * the q147 family's fixed step-6 orbit mod 97 makes every group's
    * sign sequence a PHASE SHIFT of one master sequence — harmless
    * for position-anchored hashes, but a shingle matcher is
    * shift-invariant by design and would correctly pair the whole
    * corpus (a degenerate fixture, first cut measured 17k of 19.9k
    * possible pairs). Distinct steps give distinct orbits: only
    * true same-group trims share runs. */
  private def vidTrimMedia(id: Long): Multimodal.MediaRecord = {
    val g = (id % 50).toInt
    val v = (id / 50).toInt
    val mdat = Array.tabulate(80 * 256) { i =>
      val cf = i / 256 + 3 * v
      val a = (((g.toLong * 31L + cf.toLong * 17L +
        13L * g * cf) % 97L).toInt % 15) + 1
      (a * (i % 256 % 16)).toByte
    }
    Multimodal.MediaRecord(id, "video",
      Multimodal.synthMp4("isom", 1000, 80000L, 1, mdat), "synth")
  }

  /** q151 — TRIM-robust video near-dup: the frame-energy gradient
    * sign sequence ([[Multimodal.videoEnergySigns]]) as a token
    * string, pushed through the standard text MinHash-LSH
    * ([[graft.operators.Dedup.lshNearDupPairs]], 16-frame shingles).
    * q147's 64-bit fingerprint is position-anchored — a 3-frame head
    * trim shifts every energy slot and scatters the Hamming
    * distance — while a shared frame RUN survives shingling anywhere
    * in the clip, exactly like a shared phrase in a document. The
    * cross-modal reuse is the point: video near-dup under trimming
    * IS n-gram near-dup on the gradient alphabet, and the oracle
    * replays the whole chain — frame synthesis → energies → signs →
    * shingles → minhash → bands → exact Jaccard — with the SAME
    * shared SQL builders the text queries use (the engines cannot
    * drift apart per modality). */
  val q151 = Qry(
    "q151_video_trim_neardup",
    (s: SparkSession, d: String) => {
      val session = s
      import session.implicits._
      val media = Tables.documents(s, d)
        .filter(col("doc_id") < 200)
        .select(col("doc_id")).as[Long]
        .map(vidTrimMedia _)
      val signs = Multimodal.videoEnergySigns(media)
        .transform(Ckpt.cut)
      graft.operators.Dedup.lshNearDupPairs(signs, "media_id",
          "sign_text", n = 16, k = 8, bands = 4, minJaccard = 0.5)
        .orderBy(col("a"), col("b"))
    },
    Some(s"""
      WITH vidt_src AS (
        SELECT doc_id AS id, doc_id % 50 AS g, doc_id // 50 AS v
        FROM documents WHERE doc_id < 200),
      vidt_sign AS (
        SELECT c.id, t.f,
               CASE WHEN (((c.g*31 + (t.f + 3*c.v)*17
                        + 13*c.g*(t.f + 3*c.v)) % 97) % 15 + 1)
                      < (((c.g*31 + (t.f + 3*c.v + 1)*17
                        + 13*c.g*(t.f + 3*c.v + 1)) % 97) % 15 + 1)
                    THEN '1' ELSE '0' END AS s
        FROM vidt_src c, range(0, 79) t(f)),
      vidt_text AS (
        SELECT id, string_agg(s, ' ' ORDER BY f) AS text
        FROM vidt_sign GROUP BY id),
      sh AS (
        SELECT id, ${DedupQ.shinglesSql(16)} AS shingles
        FROM vidt_text),
      sh2 AS (SELECT id, shingles FROM sh WHERE len(shingles) > 0),
      sigs AS (
        SELECT id, shingles, ${DedupQ.minhashSql(8)} AS sig FROM sh2),
      banded AS (
        SELECT id, shingles,
               unnest(${DedupQ.bandKeysSql(4, 2)}) AS band_key
        FROM sigs),
      pairs AS (
        SELECT l.id AS a, r.id AS b,
               FIRST(l.shingles) AS sh_a, FIRST(r.shingles) AS sh_b
        FROM banded l JOIN banded r ON l.band_key = r.band_key
        WHERE l.id < r.id GROUP BY l.id, r.id)
      SELECT a, b, ROUND(${DedupQ.jaccardSql}, 6) AS jaccard
      FROM pairs WHERE ROUND(${DedupQ.jaccardSql}, 6) >= 0.5
      ORDER BY a, b"""))

  val all: Seq[Qry] =
    Seq(q41, q42, q119, q133, q143, q145, q146, q147, q151)
}
