package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal columns (builder brief: image/audio/video as opaque
  * binary + typed metadata), with REAL format handling — no stubs:
  *
  *  - [[probe]]: pure-JVM header parsing of PNG (signature + IHDR:
  *    width/height/bit depth/color type) and WAV/RIFF (fmt + data
  *    chunk walk: channels/sample rate/bits/duration) — the cheap
  *    path that never decodes pixels/samples.
  *  - [[decodeImages]]: full image decode through `javax.imageio`
  *    (the JDK's real PNG/GIF/BMP/JPEG codec) emitting pixel-level
  *    features. Runs in `mapPartitions` — codec context per
  *    partition, iterator-streamed, no shuffle.
  *  - [[synthPng]]/[[synthWav]]: minimal-but-valid container
  *    encoders (real CRCs, real chunk layout) for generating test
  *    corpora and encode→probe differential checks.
  *
  * Scale shape: probing is map-side byte inspection (~50 bytes
  * touched per record); metadata-only paths stay pure-column so
  * Parquet scans prune the payload entirely.
  */
object Multimodal {

  /** A media row: opaque payload + typed envelope metadata. */
  final case class MediaRecord(
      media_id: Long,
      kind: String,          // image | audio | video
      payload: Array[Byte],
      source: String)

  /** Parsed container-header features; fields are null where the
    * format doesn't define them (image vs audio vs video). */
  final case class MediaProbe(
      media_id: Long,
      n_bytes: Long,
      format: String,        // png | wav | mp4 | unknown
      width: Option[Int],
      height: Option[Int],
      bit_depth: Option[Int],
      color_type: Option[Int],
      channels: Option[Int],
      sample_rate: Option[Int],
      bits_per_sample: Option[Int],
      duration_ms: Option[Long],
      brand: Option[String],
      n_tracks: Option[Int],
      n_components: Option[Int]) // JPEG color components (1/3/4)

  /** Pixel-level features from a full ImageIO decode. */
  final case class ImageFeatures(
      media_id: Long,
      width: Int,
      height: Int,
      n_pixels: Long,
      mean_luma: Double)

  /** 64-bit perceptual difference-hash, split into two non-negative
    * 32-bit halves so banding/XOR arithmetic is sign-free and
    * identical in any engine. */
  final case class ImageDHash(
      media_id: Long,
      width: Int,
      height: Int,
      h_hi: Long,
      h_lo: Long)

  /** 64-bit audio fingerprint (frame-energy delta hash) in the same
    * two-half layout as [[ImageDHash]], so the banded near-dup join
    * is shared. */
  final case class AudioHash(
      media_id: Long,
      n_samples: Long,
      h_hi: Long,
      h_lo: Long)

  /** 64-bit video fingerprint (frame-energy delta hash over `mdat`
    * frame payloads) in the same two-half layout as [[ImageDHash]] /
    * [[AudioHash]], so the banded near-dup join is shared across all
    * three media kinds. */
  final case class VideoHash(
      media_id: Long,
      n_frames: Long,
      h_hi: Long,
      h_lo: Long)

  // ---- header parsers (pure JVM, allocation-free inspection) ------

  private val PngSig =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  private def be32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
      ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)

  private def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
      ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)

  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)

  private def tag(b: Array[Byte], i: Int): String =
    new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** PNG header: 8-byte signature, then the IHDR chunk (must be
    * first per the PNG spec): length=13, "IHDR", width/height as
    * big-endian u32, bit depth, color type. */
  def probePng(b: Array[Byte]): Option[(Int, Int, Int, Int)] =
    if (b.length >= 33 && b.take(8).sameElements(PngSig) &&
        be32(b, 8) == 13 && tag(b, 12) == "IHDR")
      Some((be32(b, 16), be32(b, 20), b(24) & 0xff, b(25) & 0xff))
    else None

  private def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)

  /** JPEG: SOI (FFD8), then a marker-segment walk — each segment is
    * [FF][marker][u16 len INCLUDING the two length bytes], except
    * standalone markers (TEM, RSTn) and FF fill bytes. Dimensions
    * live in the first SOFn frame header (C0–CF minus C4 DHT, C8
    * JPG, CC DAC): [len][precision u8][height u16][width u16]
    * [nComponents u8]. Same hostile-input rules as the RIFF/BMFF
    * walks: validated lengths, strict advance, bail at SOS/EOI
    * without a SOF (a scan before any frame header is malformed
    * for our purposes).
    * @return (width, height, precision, nComponents) */
  def probeJpeg(b: Array[Byte]): Option[(Int, Int, Int, Int)] = {
    if (b.length < 4 || (b(0) & 0xff) != 0xFF || (b(1) & 0xff) != 0xD8)
      return None
    var i = 2
    while (i + 4 <= b.length) {
      if ((b(i) & 0xff) != 0xFF) return None
      // any number of FF fill bytes may precede the marker code
      var j = i + 1
      while (j + 1 < b.length && (b(j) & 0xff) == 0xFF) j += 1
      val m = b(j) & 0xff
      if (m == 0x01 || (m >= 0xD0 && m <= 0xD7)) i = j + 1 // standalone
      else if (m == 0xD9 || m == 0xDA) return None // EOI/SOS, no SOF
      else if (j + 3 > b.length) return None
      else {
        val len = be16(b, j + 1)
        if (len < 2 || j + 1 + len > b.length) return None
        val isSof = m >= 0xC0 && m <= 0xCF &&
          m != 0xC4 && m != 0xC8 && m != 0xCC
        if (isSof) {
          // body: precision u8, height u16, width u16, nComponents u8
          return if (len >= 8)
            Some((be16(b, j + 6), be16(b, j + 4),
              b(j + 3) & 0xff, b(j + 8) & 0xff))
          else None
        }
        i = j + 1 + len
      }
    }
    None
  }

  /** ONE hostile-input-safe RIFF chunk walk serving [[probeWav]] and
    * [[audioFingerprint]] (a single place for the parsing rules):
    * chunk sizes are RIFF u32 — read UNSIGNED into a Long offset (a
    * signed read of 0xFFFFFFF8 is -8, turning the stride into a
    * zero/negative increment = infinite loop or backwards walk), and
    * bail unless the offset strictly advances. The fmt chunk must
    * DECLARE at least the 16 PCM bytes (a shorter declaration would
    * read channels/bits out of the next chunk's bytes). The data
    * chunk's declared size is NOT bounds-checked here — the probe
    * contract keeps fields parsed before a truncated payload; sample
    * READERS must bound-check before touching bytes.
    * @return (fmt = (formatTag, channels, sampleRate, bitsPerSample),
    *          data = (payload offset, declared bytes)) */
  private def wavChunks(b: Array[Byte])
      : (Option[(Int, Int, Int, Int)], Option[(Int, Long)]) = {
    if (b.length < 44 || tag(b, 0) != "RIFF" || tag(b, 8) != "WAVE")
      return (None, None)
    var i = 12L
    var fmt: Option[(Int, Int, Int, Int)] = None
    var data: Option[(Int, Long)] = None
    var ok = true
    while (ok && i + 8 <= b.length && (fmt.isEmpty || data.isEmpty)) {
      val p = i.toInt
      val id = tag(b, p)
      val size = le32(b, p + 4) & 0xFFFFFFFFL
      if (id == "fmt " && size >= 16L && p + 24 <= b.length)
        fmt = Some((le16(b, p + 8), le16(b, p + 10),
          le32(b, p + 12), le16(b, p + 22)))
      else if (id == "data" && data.isEmpty)
        data = Some((p + 8, size))
      // chunks are word-aligned: odd sizes carry a pad byte
      val next = i + 8L + size + (size & 1L)
      if (next <= i) ok = false else i = next
    }
    (fmt, data)
  }

  /** WAV/RIFF header probe: channels, sample rate, bits/sample, and
    * duration (declared data bytes / byte rate) via [[wavChunks]].
    * The guard requires rate*ch*bits >= 8: a crafted fmt chunk can
    * declare e.g. ch=1 rate=1 bits=1, whose integer byte rate
    * truncates to 0 and would turn the duration division into an
    * ArithmeticException on one hostile payload. */
  def probeWav(b: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    val (fmt, data) = wavChunks(b)
    fmt.collect { case (_, ch, rate, bits) if data.nonEmpty &&
        ch > 0 && rate > 0 && bits > 0 &&
        rate.toLong * ch * bits >= 8L =>
      val byteRate = rate.toLong * ch * bits / 8
      (ch, rate, bits, data.get._2 * 1000L / byteRate)
    }
  }

  /** ONE hostile-input-safe ISO-BMFF box walk serving [[probeMp4]]
    * and [[videoFingerprint]] (the [[wavChunks]] pattern for the mp4
    * kind): walks children of `[from, until)`; each box is
    * [u32 size][4cc type][payload], size INCLUDING the 8-byte
    * header; size==1 switches to a u64 largesize, size==0 runs to
    * EOF. Sizes go through unsigned-Long offsets and every step must
    * strictly advance, or we bail with what we have — a crafted size
    * can't loop the walk or stride it backwards. `visit` gets
    * (type, bodyFrom, bodyUntil) with bounds already validated. */
  private def mp4Walk(b: Array[Byte], from: Long, until: Long)(
      visit: (String, Long, Long) => Unit): Unit = {
    var i = from
    var ok = true
    while (ok && i + 8 <= until) {
      val p = i.toInt
      val raw = be32(b, p) & 0xFFFFFFFFL
      val typ = tag(b, p + 4)
      val (size, hdr) =
        if (raw == 1L && i + 16 <= until) {
          val hi = be32(b, p + 8) & 0xFFFFFFFFL
          val lo = be32(b, p + 12) & 0xFFFFFFFFL
          ((hi << 32) | lo, 16L)
        } else if (raw == 0L) (until - i, 8L)
        else (raw, 8L)
      val next = i + size
      if (size < hdr || next > until || next <= i) ok = false
      else {
        visit(typ, i + hdr, next)
        i = next
      }
    }
  }

  /** MP4/ISO-BMFF (the declared `video` kind): [[mp4Walk]] reading
    * `ftyp` (major brand) at top level, then inside `moov`: `mvhd`
    * (v0 u32 / v1 u64 timescale+duration → duration in ms) and the
    * `trak` child count.
    *
    * @return (major_brand, duration_ms, n_tracks) */
  def probeMp4(b: Array[Byte]): Option[(String, Long, Int)] = {
    if (b.length < 16 || tag(b, 4) != "ftyp") return None
    val end = b.length.toLong
    def walk(from: Long, until: Long)(
        visit: (String, Long, Long) => Unit): Unit =
      mp4Walk(b, from, until)(visit)
    var brand: Option[String] = None
    var durMs: Option[Long] = None
    var tracks = 0
    var sawMoov = false
    walk(0L, end) { (typ, from, to) =>
      typ match {
        case "ftyp" if from + 4 <= to =>
          brand = Some(tag(b, from.toInt))
        case "moov" =>
          sawMoov = true
          walk(from, to) { (ct, cf, cto) =>
            ct match {
              case "trak" => tracks += 1
              case "mvhd" if cf + 4 <= cto =>
                val v = b(cf.toInt) & 0xff
                if (v == 0 && cf + 20 <= cto) {
                  val ts = be32(b, cf.toInt + 12) & 0xFFFFFFFFL
                  val du = be32(b, cf.toInt + 16) & 0xFFFFFFFFL
                  if (ts > 0) durMs = Some(du * 1000L / ts)
                } else if (v == 1 && cf + 32 <= cto) {
                  val ts = be32(b, cf.toInt + 20) & 0xFFFFFFFFL
                  val hi = be32(b, cf.toInt + 24) & 0xFFFFFFFFL
                  val lo = be32(b, cf.toInt + 28) & 0xFFFFFFFFL
                  if (ts > 0) durMs = Some(((hi << 32) | lo) * 1000L / ts)
                }
              case _ => ()
            }
          }
        case _ => ()
      }
    }
    brand.collect { case br if sawMoov => (br, durMs.getOrElse(0L), tracks) }
  }

  /** Batched per-partition header probe — the production decode-path
    * shape (iterator-streamed, init amortized per partition). */
  def probe(media: Dataset[MediaRecord]): Dataset[MediaProbe] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val b = r.payload
        probePng(b) match {
          case Some((w, h, depth, color)) =>
            MediaProbe(r.media_id, b.length.toLong, "png",
              Some(w), Some(h), Some(depth), Some(color),
              None, None, None, None, None, None, None)
          case None => probeWav(b) match {
            case Some((ch, rate, bits, durMs)) =>
              MediaProbe(r.media_id, b.length.toLong, "wav",
                None, None, None, None,
                Some(ch), Some(rate), Some(bits), Some(durMs),
                None, None, None)
            case None => probeMp4(b) match {
              case Some((brand, durMs, tracks)) =>
                MediaProbe(r.media_id, b.length.toLong, "mp4",
                  None, None, None, None, None, None, None,
                  Some(durMs), Some(brand), Some(tracks), None)
              case None => probeJpeg(b) match {
                case Some((w, h, prec, ncomp)) =>
                  MediaProbe(r.media_id, b.length.toLong, "jpeg",
                    Some(w), Some(h), Some(prec), None,
                    None, None, None, None, None, None, Some(ncomp))
                case None =>
                  MediaProbe(r.media_id, b.length.toLong, "unknown",
                    None, None, None, None, None, None, None, None,
                    None, None, None)
              }
            }
          }
        }
      }
    }
  }

  /** FULL image decode via the JDK's real ImageIO codec (PNG, GIF,
    * BMP, JPEG): pixel dimensions plus mean luminance over all
    * pixels. Undecodable payloads are dropped (flatMap), mirroring
    * the reference's skip-bad-rows posture. */
  def decodeImages(media: Dataset[MediaRecord]): Dataset[ImageFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // one codec scratch context per partition; ImageIO caches
      // reader instances per thread internally
      rows.flatMap { r =>
        try {
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(r.payload))
          if (img == null) None
          else {
            val (w, h) = (img.getWidth, img.getHeight)
            var sum = 0.0
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rgb = img.getRGB(x, y)
                sum += 0.299 * ((rgb >> 16) & 0xff) +
                  0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
                x += 1
              }
              y += 1
            }
            Some(ImageFeatures(r.media_id, w, h, w.toLong * h,
              sum / (w.toLong * h)))
          }
          // NonFatal only: a decompression-bomb OOM or a task-kill
        // interrupt must fail the task, not vanish as "undecodable"
      } catch { case scala.util.control.NonFatal(_) => None }
      }
    }
  }

  /** Perceptual difference-hash (dHash) over a REAL image decode —
    * the image analogue of MinHash for near-dup detection: downsample
    * to a 9×8 luma grid (nearest-neighbor: integer-exact, so an
    * oracle can replay it), then bit (gx, gy) = [luma(gx) <
    * luma(gx+1)] along each row — 64 bits that survive re-encoding,
    * resizing, and small edits. Packed as two non-negative 32-bit
    * halves (rows 0-3 → h_hi bit gy·8+gx, rows 4-7 → h_lo) so all
    * downstream band/XOR arithmetic is sign-free in any engine.
    *
    * Luma: single-band rasters read the raw sample (no color-space
    * conversion — `getRGB` on TYPE_BYTE_GRAY applies a gray→sRGB
    * gamma ramp that would make the value decoder-dependent);
    * multi-band images use integer (299R+587G+114B)/1000. Images
    * smaller than the 9×8 grid, and undecodable payloads, are
    * dropped (the skip-bad-rows posture of [[decodeImages]]).
    *
    * Scale shape: one map-side decode pass; each image leaves 16
    * bytes of hash. Candidate generation is [[dhashNearDupPairs]] —
    * never all-pairs. */
  def dHash(media: Dataset[MediaRecord]): Dataset[ImageDHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        try {
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(r.payload))
          if (img == null) None
          else {
            val (w, h) = (img.getWidth, img.getHeight)
            if (w < 9 || h < 8) None
            else {
              val raster = img.getRaster
              val oneBand = raster.getNumBands == 1
              def lumaAt(x: Int, y: Int): Int =
                if (oneBand) raster.getSample(x, y, 0)
                else {
                  val rgb = img.getRGB(x, y)
                  (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff)
                    + 114 * (rgb & 0xff)) / 1000
                }
              val grid = Array.tabulate(9, 8) { (gx, gy) =>
                lumaAt(gx * w / 9, gy * h / 8)
              }
              var hi = 0L
              var lo = 0L
              var gy = 0
              while (gy < 8) {
                var gx = 0
                while (gx < 8) {
                  if (grid(gx)(gy) < grid(gx + 1)(gy)) {
                    if (gy < 4) hi |= 1L << (gy * 8 + gx)
                    else lo |= 1L << ((gy - 4) * 8 + gx)
                  }
                  gx += 1
                }
                gy += 1
              }
              Some(ImageDHash(r.media_id, w, h, hi, lo))
            }
          }
        } catch { case scala.util.control.NonFatal(_) => None }
      }
    }
  }

  /** Audio fingerprint — the dHash analogue for the audio kind
    * (Chromaprint's shape with frame ENERGY standing in for chroma
    * bands, keeping every step integer-exact so an oracle can replay
    * it): parse the REAL RIFF container, decode 16-bit mono PCM
    * little-endian samples, fold them into 65 frame energies
    * (Σ|sample| per `frame`-sample window — integer, order-free),
    * then bit f = [E_f < E_{f+1}] — 64 energy-gradient bits that
    * survive re-encoding and small amplitude edits. Packed as two
    * non-negative 32-bit halves (frames 0-31 → h_hi, 32-63 → h_lo)
    * feeding the same [[dhashNearDupPairs]] banded join as images.
    * Non-WAV, non-PCM (format tag ≠ 1 — a compressed codec's bytes
    * are not samples), non-mono, non-16-bit, truncated-payload, or
    * shorter-than-65-frame payloads are dropped (skip-bad-rows
    * posture).
    *
    * Scale shape: one map-side decode pass, 16 bytes out per clip;
    * candidates come from the shared band join — never all-pairs. */
  def audioFingerprint(media: Dataset[MediaRecord],
      frame: Int = 256): Dataset[AudioHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        try {
          val b = r.payload
          // shared hostile-input-safe walk; PCM ONLY (format tag 1 —
          // a compressed codec's bytes are not samples), mono,
          // 16-bit, and the declared payload must actually be
          // present (the walk does not bounds-check data for the
          // probe's sake; a sample reader must)
          wavChunks(b) match {
              case (Some((1, 1, _, 16)), Some((off, bytes)))
                  if off + bytes <= b.length =>
                val n = (bytes / 2).toInt
                if (n < (64 + 1) * frame) None
                else {
                  val e = new Array[Long](65)
                  var f = 0
                  while (f < 65) {
                    var acc = 0L
                    var k = 0
                    while (k < frame) {
                      val p = off + (f * frame + k) * 2
                      val s = ((b(p) & 0xff) | (b(p + 1) << 8)).toShort
                      acc += math.abs(s.toInt)
                      k += 1
                    }
                    e(f) = acc
                    f += 1
                  }
                  var hi = 0L
                  var lo = 0L
                  f = 0
                  while (f < 64) {
                    if (e(f) < e(f + 1)) {
                      if (f < 32) hi |= 1L << f
                      else lo |= 1L << (f - 32)
                    }
                    f += 1
                  }
                  Some(AudioHash(r.media_id, n.toLong, hi, lo))
                }
              case _ => None
          }
        } catch { case scala.util.control.NonFatal(_) => None }
      }
    }
  }

  /** Video fingerprint — the content-level near-dup hash for the
    * video kind, closing the header-identity gap (probeMp4 reads
    * `ftyp/mvhd/trak`, so two re-encodes of one clip look distinct):
    * walk the REAL ISO-BMFF box structure ([[mp4Walk]] — the same
    * hostile-input rules as the probe), take the first top-level
    * `mdat` payload as consecutive fixed-size frames, fold each
    * frame into an energy (Σ unsigned byte values — integer,
    * order-free), then bit f = [E_f < E_{f+1}] — 64 energy-gradient
    * bits that survive global brightness/amplitude rescales and
    * small per-frame edits, exactly the invariance argument of
    * [[dHash]] (row gradients) and [[audioFingerprint]] (frame
    * energy gradients). Packed as two non-negative 32-bit halves
    * feeding the shared [[dhashNearDupPairs]] banded join.
    * Non-MP4, mdat-less, or shorter-than-65-frame payloads are
    * dropped (skip-bad-rows posture).
    *
    * Scale shape: one map-side byte pass, 16 bytes out per clip;
    * candidates come from the shared band join — never all-pairs. */
  def videoFingerprint(media: Dataset[MediaRecord],
      frameBytes: Int = 256): Dataset[VideoHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        try {
          val b = r.payload
          if (b.length < 16 || tag(b, 4) != "ftyp") None
          else {
            // first top-level mdat only — trailing boxes (free,
            // another mdat) don't change the fingerprint
            var mdat: Option[(Long, Long)] = None
            mp4Walk(b, 0L, b.length.toLong) { (typ, from, to) =>
              if (typ == "mdat" && mdat.isEmpty) mdat = Some((from, to))
            }
            mdat.flatMap { case (from, to) =>
              val n = ((to - from) / frameBytes).toInt
              if (n < 65) None
              else {
                val e = new Array[Long](65)
                var f = 0
                while (f < 65) {
                  var acc = 0L
                  var k = 0
                  val base = from.toInt + f * frameBytes
                  while (k < frameBytes) {
                    acc += (b(base + k) & 0xff)
                    k += 1
                  }
                  e(f) = acc
                  f += 1
                }
                var hi = 0L
                var lo = 0L
                f = 0
                while (f < 64) {
                  if (e(f) < e(f + 1)) {
                    if (f < 32) hi |= 1L << f
                    else lo |= 1L << (f - 32)
                  }
                  f += 1
                }
                Some(VideoHash(r.media_id, n.toLong, hi, lo))
              }
            }
          }
        } catch { case scala.util.control.NonFatal(_) => None }
      }
    }
  }

  /** Frame-energy gradient sign SEQUENCE of an mdat-carrying
    * container, as a space-joined '0'/'1' token string — the
    * TRIM-robust companion to [[videoFingerprint]]. The fixed-64-
    * frame fingerprint is position-anchored: trimming a few frames
    * shifts every later energy slot and scatters the Hamming
    * distance, so two cuts of one clip read as distinct. The sign
    * SEQUENCE treats frames as tokens instead, and trim-robust
    * candidate generation is exactly the text machinery:
    * [[Dedup.lshNearDupPairs]] over shingles of consecutive sign
    * tokens — a shared run of frames survives anywhere in the clip,
    * like a shared phrase in a document. (The cross-modal reuse is
    * the point: video near-dup under trimming IS the n-gram
    * near-dup problem on the gradient alphabet.)
    *
    * Scale shape: one map-side byte pass per clip emitting a string
    * of (frames−1) tokens; everything downstream is the standard
    * banded LSH — never all-pairs.
    * @return (media_id, sign_text) — clips without an mdat or with
    *         fewer than 2 full frames are dropped */
  def videoEnergySigns(media: Dataset[MediaRecord],
      frameBytes: Int = 256): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        try {
          val b = r.payload
          if (b.length < 16 || tag(b, 4) != "ftyp") None
          else {
            var mdat: Option[(Long, Long)] = None
            mp4Walk(b, 0L, b.length.toLong) { (typ, from, to) =>
              if (typ == "mdat" && mdat.isEmpty) mdat = Some((from, to))
            }
            mdat.flatMap { case (from, to) =>
              val n = ((to - from) / frameBytes).toInt
              if (n < 2) None
              else {
                val e = new Array[Long](n)
                var f = 0
                while (f < n) {
                  var acc = 0L
                  var k = 0
                  val base = from.toInt + f * frameBytes
                  while (k < frameBytes) {
                    acc += (b(base + k) & 0xff)
                    k += 1
                  }
                  e(f) = acc
                  f += 1
                }
                val sb = new StringBuilder((n - 1) * 2)
                f = 0
                while (f < n - 1) {
                  if (f > 0) sb.append(' ')
                  sb.append(if (e(f) < e(f + 1)) '1' else '0')
                  f += 1
                }
                Some((r.media_id, sb.toString))
              }
            }
          }
        } catch { case scala.util.control.NonFatal(_) => None }
      }
    }.toDF("media_id", "sign_text")
  }

  /** Near-dup media pairs by banded Hamming distance over any 64-bit
    * two-half hash ([[ImageDHash]], [[AudioHash]] and [[VideoHash]]
    * share it) — the
    * [[Dedup]] LSH shape on the 64-bit hash: the hash splits into
    * four 16-bit bands, candidates are pairs agreeing EXACTLY on at
    * least one band (an equi-join on (band, key) — any pair within
    * Hamming 3 is guaranteed caught, near misses with high
    * probability), and only candidates pay the bit_count. All
    * band/XOR arithmetic runs on non-negative halves, so div/mod
    * banding and bit_count(xor) replay identically in any engine.
    *
    * Scale shape: 4 rows of (band, key) per image into one
    * equi-join — bucket sizes are data-bounded like MinHash bands;
    * never an all-pairs cross join.
    * @param hashes (idCol, h_hi, h_lo) from [[dHash]]
    * @return (a, b, hamming) with a < b, hamming ≤ maxHamming */
  def dhashNearDupPairs(hashes: DataFrame, idCol: String,
      maxHamming: Int): DataFrame = {
    val bands = hashes.select(col(idCol).as("__id"),
      col("h_hi"), col("h_lo"),
      posexplode(array(
        expr("h_hi div 65536"), expr("h_hi % 65536"),
        expr("h_lo div 65536"), expr("h_lo % 65536")))
        .as(Seq("band", "key")))
    val l = bands.select(col("__id").as("a"), col("band"), col("key"),
      col("h_hi").as("hi_a"), col("h_lo").as("lo_a"))
    val r = bands.select(col("__id").as("b"), col("band"), col("key"),
      col("h_hi").as("hi_b"), col("h_lo").as("lo_b"))
    l.join(r, Seq("band", "key"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        (expr("bit_count(hi_a ^ hi_b)") + expr("bit_count(lo_a ^ lo_b)"))
          .cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Cross-corpus variant of [[dhashNearDupPairs]] — candidates pair
    * a LEFT hash with a RIGHT hash only (never left-left or
    * right-right), the incremental-ingest shape where a new batch
    * dedups AGAINST a historical index without re-pairing the index
    * with itself ([[Dedup.lshNearDupPairsAcross]]'s contract on the
    * 64-bit two-half layout). Note what the index side is: 16 bytes
    * of hash per item, never payloads — media near-dup memory at
    * scale is a hash relation.
    * @return (a = left id, b = right id, hamming ≤ maxHamming) */
  def dhashNearDupPairsAcross(left: DataFrame, right: DataFrame,
      idCol: String, maxHamming: Int): DataFrame = {
    def banded(df: DataFrame) = df.select(col(idCol).as("__id"),
      col("h_hi"), col("h_lo"),
      posexplode(array(
        expr("h_hi div 65536"), expr("h_hi % 65536"),
        expr("h_lo div 65536"), expr("h_lo % 65536")))
        .as(Seq("band", "key")))
    val l = banded(left).select(col("__id").as("a"), col("band"),
      col("key"), col("h_hi").as("hi_a"), col("h_lo").as("lo_a"))
    val r = banded(right).select(col("__id").as("b"), col("band"),
      col("key"), col("h_hi").as("hi_b"), col("h_lo").as("lo_b"))
    l.join(r, Seq("band", "key"))
      .select(col("a"), col("b"),
        (expr("bit_count(hi_a ^ hi_b)") + expr("bit_count(lo_a ^ lo_b)"))
          .cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** One fingerprint row per media record, dispatched by CONTENT
    * (each decode path drops payloads that are not its container, so
    * a record lands in at most one kind): dHash for raster images,
    * frame-energy hashes for audio and video — all in the shared
    * two-half layout, tagged with the detected kind so downstream
    * band joins can stay per-modality.
    * @return (media_id, kind, h_hi, h_lo) */
  def mediaFingerprints(media: Dataset[MediaRecord]): DataFrame = {
    val img = dHash(media).toDF()
      .select(col("media_id"), lit("image").as("kind"),
        col("h_hi"), col("h_lo"))
    val aud = audioFingerprint(media).toDF()
      .select(col("media_id"), lit("audio").as("kind"),
        col("h_hi"), col("h_lo"))
    val vid = videoFingerprint(media).toDF()
      .select(col("media_id"), lit("video").as("kind"),
        col("h_hi"), col("h_lo"))
    img.unionByName(aud).unionByName(vid)
  }

  // ---- container encoders (for corpora + encode→probe checks) -----

  private def pngChunk(typ: String, body: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w32(v: Int): Unit = out.write(Array(
      (v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte))
    w32(body.length)
    val typed = typ.getBytes("US-ASCII") ++ body
    out.write(typed)
    val crc = new java.util.zip.CRC32()
    crc.update(typed)
    w32(crc.getValue.toInt)
    out.toByteArray
  }

  /** Minimal VALID PNG (signature, IHDR with real CRC, IEND): enough
    * for any header-level reader; no pixel data chunks. */
  def synthPng(width: Int, height: Int, bitDepth: Int = 8,
      colorType: Int = 2): Array[Byte] = {
    val ihdr = new java.io.ByteArrayOutputStream()
    def w32(v: Int): Unit = ihdr.write(Array(
      (v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte))
    w32(width); w32(height)
    ihdr.write(bitDepth); ihdr.write(colorType)
    ihdr.write(0); ihdr.write(0); ihdr.write(0) // deflate/none/none
    PngSig ++ pngChunk("IHDR", ihdr.toByteArray) ++
      pngChunk("IEND", Array.emptyByteArray)
  }

  /** FULL valid 8-bit grayscale PNG — signature, IHDR, a real
    * deflate-compressed IDAT (filter-0 scanlines carrying
    * `luma(x, y) & 0xff` per pixel), IEND — decodable by any PNG
    * codec (unlike [[synthPng]], which stops at the header). The
    * generator for pixel-level differential tests: an oracle can
    * recompute `luma` arithmetically while Spark runs the real
    * encode → ImageIO decode → feature path. */
  def synthPngGray(width: Int, height: Int,
      luma: (Int, Int) => Int): Array[Byte] = {
    val ihdr = new java.io.ByteArrayOutputStream()
    def w32(v: Int): Unit = ihdr.write(Array(
      (v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte))
    w32(width); w32(height)
    ihdr.write(8); ihdr.write(0)              // bit depth 8, grayscale
    ihdr.write(0); ihdr.write(0); ihdr.write(0) // deflate/none/none
    val raw = new Array[Byte](height * (width + 1))
    var i = 0
    var y = 0
    while (y < height) {
      raw(i) = 0 // per-scanline filter byte: None
      i += 1
      var x = 0
      while (x < width) {
        raw(i) = (luma(x, y) & 0xff).toByte
        i += 1
        x += 1
      }
      y += 1
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw)
    deflater.finish()
    val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    val buf = new Array[Byte](8192)
    while (!deflater.finished())
      out.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    PngSig ++ pngChunk("IHDR", ihdr.toByteArray) ++
      pngChunk("IDAT", out.toByteArray) ++
      pngChunk("IEND", Array.emptyByteArray)
  }

  /** FULL valid 16-bit mono PCM WAV carrying REAL sample data —
    * [[synthWav]]'s zero-fill replaced by the caller's samples
    * (little-endian int16, low 16 bits of each value). The audio
    * counterpart of [[synthPngGray]]: an oracle recomputes the
    * sample formula arithmetically while Spark runs the real
    * encode → RIFF walk → PCM decode → fingerprint path. */
  def synthWavPcm(sampleRate: Int, samples: Array[Int]): Array[Byte] = {
    val dataSize = samples.length * 2
    val out = new java.io.ByteArrayOutputStream(44 + dataSize)
    def asc(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    def w32(v: Int): Unit = out.write(Array(
      v.toByte, (v >>> 8).toByte, (v >>> 16).toByte, (v >>> 24).toByte))
    def w16(v: Int): Unit = out.write(Array(v.toByte, (v >>> 8).toByte))
    asc("RIFF"); w32(36 + dataSize); asc("WAVE")
    asc("fmt "); w32(16); w16(1); w16(1); w32(sampleRate)
    w32(sampleRate * 2); w16(2); w16(16)
    asc("data"); w32(dataSize)
    samples.foreach(s => w16(s & 0xffff))
    out.toByteArray
  }

  /** Valid 44-byte-header PCM WAV with `nSamples` zero samples. */
  def synthWav(sampleRate: Int, channels: Int, bitsPerSample: Int,
      nSamples: Int): Array[Byte] = {
    val blockAlign = channels * bitsPerSample / 8
    val dataSize = nSamples * blockAlign
    val out = new java.io.ByteArrayOutputStream(44 + dataSize)
    def asc(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    def w32(v: Int): Unit = out.write(Array(
      v.toByte, (v >>> 8).toByte, (v >>> 16).toByte, (v >>> 24).toByte))
    def w16(v: Int): Unit = out.write(Array(v.toByte, (v >>> 8).toByte))
    asc("RIFF"); w32(36 + dataSize); asc("WAVE")
    asc("fmt "); w32(16); w16(1); w16(channels); w32(sampleRate)
    w32(sampleRate * blockAlign); w16(blockAlign); w16(bitsPerSample)
    asc("data"); w32(dataSize)
    out.write(new Array[Byte](dataSize))
    out.toByteArray
  }

  /** Minimal VALID ISO-BMFF/MP4: `ftyp` (major brand, minor version
    * 0, the brand repeated as its own compatible list), then `moov`
    * holding an mvhd v0 (real timescale/duration, identity matrix,
    * next_track_ID) and one spec-sized zero-filled `tkhd`-bearing
    * `trak` per track — enough structure for any header-level
    * reader, no media data by default (the PNG-without-IDAT
    * posture). Layout is deterministic: total bytes =
    * 136 + 100·nTracks (+ 8 + mdat.length when media data is
    * given — a trailing `mdat` box carrying the caller's frame
    * payload, the video counterpart of [[synthWavPcm]]'s real
    * samples, feeding [[videoFingerprint]]). */
  def synthMp4(brand: String, timescale: Int, duration: Long,
      nTracks: Int, mdat: Array[Byte] = Array.emptyByteArray)
      : Array[Byte] = {
    require(brand.length == 4, s"brand must be a 4cc, got '$brand'")
    def box(typ: String, body: Array[Byte]): Array[Byte] = {
      val size = 8 + body.length
      Array((size >>> 24).toByte, (size >>> 16).toByte,
        (size >>> 8).toByte, size.toByte) ++
        typ.getBytes("US-ASCII") ++ body
    }
    def u32(v: Long): Array[Byte] = Array(
      (v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    val ftyp = box("ftyp",
      brand.getBytes("US-ASCII") ++ u32(0L) ++ brand.getBytes("US-ASCII"))
    // mvhd v0 body: ver/flags, creation, modification, timescale,
    // duration, rate 1.0, volume 1.0 + reserved(10), unity matrix,
    // pre_defined(24), next_track_ID
    val matrix = (Seq(0x00010000L, 0L, 0L, 0L, 0x00010000L, 0L, 0L, 0L,
      0x40000000L)).flatMap(u32).toArray
    val mvhd = box("mvhd",
      u32(0L) ++ u32(0L) ++ u32(0L) ++ u32(timescale.toLong) ++
        u32(duration) ++ u32(0x00010000L) ++
        Array(0x01.toByte, 0x00.toByte) ++ new Array[Byte](10) ++
        matrix ++ new Array[Byte](24) ++ u32(nTracks.toLong + 1))
    // tkhd v0 body is 84 bytes; zero-filled except track_ID
    val traks = (1 to nTracks).map { tid =>
      val tkhd = new Array[Byte](84)
      System.arraycopy(u32(tid.toLong), 0, tkhd, 12, 4)
      box("trak", box("tkhd", tkhd))
    }
    val head = ftyp ++ box("moov", mvhd ++ traks.flatten)
    if (mdat.isEmpty) head else head ++ box("mdat", mdat)
  }

  /** Minimal VALID JPEG/JFIF: SOI, APP0 JFIF (version 1.1, aspect
    * 1:1, no thumbnail), SOF0 baseline frame header with real
    * precision/height/width/components, EOI — enough for any
    * header-level reader, no entropy-coded scan (the PNG-without-
    * IDAT posture). Deterministic layout: total bytes =
    * 32 + 3·nComponents. */
  def synthJpeg(width: Int, height: Int, precision: Int = 8,
      nComponents: Int = 3): Array[Byte] = {
    require(nComponents >= 1 && nComponents <= 4,
      s"nComponents must be 1..4, got $nComponents")
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit =
      out.write(Array((v >>> 8).toByte, v.toByte))
    def m(code: Int): Unit =
      out.write(Array(0xFF.toByte, code.toByte))
    m(0xD8)                               // SOI
    m(0xE0); w16(16)                      // APP0, len 16
    out.write("JFIF".getBytes("US-ASCII")); out.write(0)
    out.write(1); out.write(1)            // version 1.1
    out.write(0); w16(1); w16(1)          // aspect units + 1:1
    out.write(0); out.write(0)            // no thumbnail
    m(0xC0); w16(8 + 3 * nComponents)     // SOF0
    out.write(precision); w16(height); w16(width)
    out.write(nComponents)
    (1 to nComponents).foreach { cid =>
      out.write(cid); out.write(0x11); out.write(0)
    }
    m(0xD9)                               // EOI
    out.toByteArray
  }

  /** Metadata-only path (no decode): pure column expressions so the
    * optimizer can prune the payload from the scan when only
    * envelope stats are needed. */
  def payloadMeta(df: DataFrame, binCol: String): DataFrame =
    df.withColumn("n_bytes", length(col(binCol)).cast("long"))
      .withColumn("payload_md5", md5(col(binCol)))
}
