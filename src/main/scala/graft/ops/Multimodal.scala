package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (SURVEY.md §2.3): media payloads are opaque
  * `binary` columns with typed metadata structs, processed per-partition so
  * a real decoder would be initialized once per partition (executor-local),
  * not once per row.
  *
  * `decode` REALLY parses image payloads: width/height/channels/format come
  * from the public container headers (PNG IHDR, BMP BITMAPINFOHEADER, GIF
  * logical screen descriptor, JPEG SOFn) via [[ImageHeaders]] — pure JVM,
  * no dependencies, O(header) bytes inspected per row, which is exactly the
  * metadata pass you want at 100 TB (no pixel decode to answer "what sizes
  * are in this corpus"). Payloads that are not a recognized image fall back
  * to deterministic pseudo-features derived from the byte stream (clearly
  * marked; the fixture corpora carry text payloads), so pipelines remain
  * total and reproducible. Full pixel decode (e.g. a JNI JPEG library)
  * would slot into the same per-partition init point without changing the
  * plan shape.
  */
object Multimodal {

  /** Typed metadata row produced by the decode stage. For recognized image
    * payloads the dimension fields are parsed from the real container
    * header ([[ImageHeaders.parse]]); otherwise they are deterministic
    * pseudo-features (see [[decode]]). */
  case class MediaFeature(
      doc_id: Long,
      n_bytes: Long,
      width: Int,
      height: Int,
      channels: Int,
      format: String,
      checksum: Long)

  /** Attach a binary payload column (here: UTF-8 bytes of `text`; in a real
    * pipeline this is the stored media blob). */
  def withBinaryPayload(docs: DataFrame): DataFrame =
    docs.withColumn("payload", encode(col("text"), "UTF-8"))

  /** Magic-byte MIME sniffing — the trust-the-bytes classifier a crawl
    * pipeline runs because Content-Type headers lie (mislabeled images,
    * HTML error pages served as media, gzip'd bodies declared as text).
    * Covers the container formats the rest of this file parses (PNG /
    * GIF / JPEG / BMP via their signatures, RIFF-wrapped WAV / WEBP /
    * AVI, the ISO-BMFF `ftyp` box for MP4, EBML for WebM/Matroska),
    * plus PDF, gzip, zip, and a leading-whitespace-tolerant HTML
    * heuristic; anything unrecognized is `application/octet-stream`.
    * Pure codegen column expression — `hex` prefix compares on binary
    * substrings, zero shuffle, scan-stage compute; route payloads to
    * the right decoder ([[decodePayloads]], [[AvHeaders]]) on the
    * result, and diff it against the DECLARED type (`Http.contentType`)
    * for a mislabeling audit. */
  def sniffMime(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def hx(from: Int, len: Int) = hex(substring(payload, from, len))
    val riff = hx(1, 4) === "52494646"
    when(hx(1, 4) === "25504446", "application/pdf")
      .when(hx(1, 8) === "89504E470D0A1A0A", "image/png")
      .when(hx(1, 4) === "47494638", "image/gif")
      .when(hx(1, 3) === "FFD8FF", "image/jpeg")
      .when(hx(1, 2) === "424D", "image/bmp")
      .when(riff && hx(9, 4) === "57415645", "audio/wav")
      .when(riff && hx(9, 4) === "57454250", "image/webp")
      .when(riff && hx(9, 4) === "41564920", "video/avi")
      .when(hx(1, 2) === "1F8B", "application/gzip")
      .when(hx(1, 4) === "504B0304", "application/zip")
      .when(hx(5, 4) === "66747970", "video/mp4")
      .when(hx(1, 4) === "1A45DFA3", "video/webm")
      // ISO-8859-1, NOT UTF-8: every byte sequence is valid Latin-1, so
      // the decode can never throw — Spark 4's default
      // CodingErrorAction.REPORT makes decode(_, "UTF-8") raise
      // MALFORMED_CHARACTER_CODING on exactly the binary payloads this
      // fallback exists to classify (and on valid UTF-8 HTML whose
      // 64-byte prefix truncates mid-multibyte-char). The pattern is
      // pure ASCII, where the two charsets agree byte for byte.
      .when(lower(org.apache.spark.sql.functions
          .decode(substring(payload, 1, 64), "ISO-8859-1"))
        .rlike("^\\s*(<!doctype html|<html)"), "text/html")
      .otherwise("application/octet-stream")
  }

  /** Media decode: real image-header parsing where the payload is a
    * recognized format (PNG/BMP/GIF/JPEG — [[ImageHeaders.parse]]), else
    * deterministic pseudo-features derived from the byte stream (the
    * pre-header-parser fallback, kept bit-identical so text-payload
    * pipelines are stable across versions). Partition-scoped "decoder"
    * init point mimics per-executor native-lib setup; pixel-level decode
    * would plug in there. */
  def decode(spark: SparkSession, docs: DataFrame): Dataset[MediaFeature] =
    decodePayloads(spark, withBinaryPayload(docs))

  /** [[decode]] over a frame that already carries the media blob in a
    * `payload` binary column (the real ingestion shape — blobs land as
    * binary, not text). */
  /** FNV-1a 64 over raw payload bytes — the ONE checksum definition both
    * decode paths share (a drifted copy would silently desynchronize
    * checksums between them). */
  private def fnv1a64Bytes(bytes: Array[Byte]): Long = {
    var cs = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { cs ^= (bytes(i) & 0xffL); cs *= 0x100000001b3L; i += 1 }
    cs
  }

  def decodePayloads(spark: SparkSession, docs: DataFrame): Dataset[MediaFeature] = {
    import spark.implicits._
    docs
      .select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition decoder init would go here (native lib handle etc.)
        it.map { case (id, bytes) =>
          val cs = fnv1a64Bytes(bytes)
          ImageHeaders.parse(bytes) match {
            case Some(h) => MediaFeature(id, bytes.length.toLong,
              h.width, h.height, h.channels, h.format, cs)
            case None => MediaFeature( // deterministic fallback (non-image payload)
              doc_id = id,
              n_bytes = bytes.length.toLong,
              width = 64 + (((cs % 960) + 960) % 960).toInt,
              height = 64 + ((((cs >>> 17) % 960) + 960) % 960).toInt,
              channels = 1 + ((((cs >>> 31) % 3) + 3) % 3).toInt,
              format = if ((cs & 1L) == 0L) "png" else "jpeg",
              checksum = cs)
          }
        }
      }
  }

  /** Typed metadata row for the audio/video decode stage ([[decodeAv]]):
    * image payloads report their [[ImageHeaders]] fields (kind=image),
    * WAV/MP4 payloads their [[AvHeaders]] fields (kind=audio/video),
    * anything else the deterministic fallback (kind=unknown). */
  case class AvFeature(
      doc_id: Long,
      n_bytes: Long,
      kind: String,
      format: String,
      channels: Int,
      sample_rate: Int,
      duration_ms: Long,
      width: Int,
      height: Int,
      checksum: Long)

  /** Media decode across ALL sniffed container families — the superset of
    * [[decodePayloads]]: images via [[ImageHeaders]], audio/video via
    * [[AvHeaders]] (WAV fmt/data chunks, MP4 ftyp/mvhd/tkhd boxes), same
    * per-partition decoder-init shape, same O(header) bytes per row.
    * Unrecognized payloads fall back to kind=unknown with the byte-stream
    * checksum only (no fake dimensions here — the q54 fallback predates
    * the parsers and keeps its shape for compatibility). */
  def decodeAvPayloads(spark: SparkSession, docs: DataFrame): Dataset[AvFeature] = {
    import spark.implicits._
    docs
      .select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition decoder init would go here (native lib handle etc.)
        it.map { case (id, bytes) =>
          val cs = fnv1a64Bytes(bytes)
          ImageHeaders.parse(bytes) match {
            case Some(h) => AvFeature(id, bytes.length.toLong, "image", h.format,
              h.channels, 0, 0L, h.width, h.height, cs)
            case None => AvHeaders.parse(bytes) match {
              case Some(a) => AvFeature(id, bytes.length.toLong, a.kind, a.format,
                a.channels, a.sampleRate, a.durationMs, a.width, a.height, cs)
              case None => AvFeature(id, bytes.length.toLong, "unknown", "unknown",
                0, 0, 0L, 0, 0, cs)
            }
          }
        }
      }
  }

  // ------------------------------------------------- perceptual image hash

  /** Perceptual-hash row: `decoded` marks payloads ImageIO could turn
    * into pixels (PNG/BMP/GIF/JPEG in a stock JDK); undecodable payloads
    * keep zero hashes and are EXCLUDED from near-dup joins by the caller
    * filtering on `decoded`. */
  case class PerceptualHash(
      doc_id: Long,
      decoded: Boolean,
      width: Int,
      height: Int,
      a_hash: Long,
      d_hash: Long)

  /** aHash + dHash over DECODED pixels — the standard perceptual image
    * near-dup fingerprints byte-identity dedup can't reach (a resized or
    * re-encoded image changes every byte but barely moves either hash):
    *  - both hashes read an integer per-mille luminance
    *    (299·R + 587·G + 114·B) block-mean grid computed in ONE pixel
    *    pass — means by exact integral division, comparisons on Long
    *    means, no floats anywhere, so the fingerprint is
    *    platform-deterministic;
    *  - dHash: 9×8 grid, bit (y,x) ⇔ mean(y,x+1) > mean(y,x) — the
    *    gradient-sign hash, robust to brightness/contrast shifts;
    *  - aHash: 8×8 grid, bit ⇔ 64·mean(cell) > Σ means — the global-mean
    *    hash, cheaper signal, kept alongside for agreement checks.
    * Near-dup = small hamming distance; compose with
    * [[imageNearDupPairs]] (banded candidates, never all-pairs).
    *
    * Scale shape: mapPartitions (the per-partition decoder-init point of
    * [[decodePayloads]]); decode cost dominates the grid pass. At 100 TB
    * the hashes are computed once at ingest and stored beside the
    * payload; only the 8-byte fingerprints ever shuffle. */
  def perceptualHashes(spark: SparkSession, docs: DataFrame): Dataset[PerceptualHash] = {
    import spark.implicits._
    Spread.cpu(docs).select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition decoder init would go here (native lib handle etc.)
        it.map { case (id, bytes) =>
          val img =
            try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
            catch { case _: Exception => None }
          img match {
            case Some(im) if im.getWidth > 0 && im.getHeight > 0 =>
              val (a, d) = pixelHashes(im)
              PerceptualHash(id, decoded = true, im.getWidth, im.getHeight, a, d)
            case _ => PerceptualHash(id, decoded = false, 0, 0, 0L, 0L)
          }
        }
      }
  }

  /** One pixel pass → (aHash, dHash). Grid cell of pixel (x, y) is
    * (x·gw/W, y·gh/H) — floor partition, so cells tile the image exactly
    * and cell means are surface averages (resize-stable for smooth
    * content). All-integer; see [[perceptualHashes]] for the bit rules. */
  private def pixelHashes(im: java.awt.image.BufferedImage): (Long, Long) = {
    val w = im.getWidth; val h = im.getHeight
    // 9×8 (dHash) and 8×8 (aHash) luminance sums, one pass
    val dSum = new Array[Long](72); val dCnt = new Array[Long](72)
    val aSum = new Array[Long](64); val aCnt = new Array[Long](64)
    var y = 0
    while (y < h) {
      val dy = (y.toLong * 8 / h).toInt; val ay = dy
      var x = 0
      while (x < w) {
        val rgb = im.getRGB(x, y)
        val lum = 299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) +
          114L * (rgb & 0xff)
        val dx = (x.toLong * 9 / w).toInt
        val ax = (x.toLong * 8 / w).toInt
        val di = dy * 9 + dx; val ai = ay * 8 + ax
        dSum(di) += lum; dCnt(di) += 1
        aSum(ai) += lum; aCnt(ai) += 1
        x += 1
      }
      y += 1
    }
    // exact integral cell means (count 0 only when w<9/h<8 leaves a cell
    // empty — treat as 0, deterministic)
    val dMean = Array.tabulate(72)(i => if (dCnt(i) == 0) 0L else dSum(i) / dCnt(i))
    val aMean = Array.tabulate(64)(i => if (aCnt(i) == 0) 0L else aSum(i) / aCnt(i))
    var dBits = 0L; var aBits = 0L
    val aTotal = aMean.sum
    var k = 0
    while (k < 64) {
      val gy = k / 8; val gx = k % 8
      if (dMean(gy * 9 + gx + 1) > dMean(gy * 9 + gx)) dBits |= 1L << k
      if (aMean(k) * 64 > aTotal) aBits |= 1L << k
      k += 1
    }
    (aBits, dBits)
  }

  /** Perceptual near-dup pairs over a [[perceptualHashes]] frame: the
    * [[Dedup.hamming64Pairs]] banded machinery (pigeonhole-complete
    * candidates, exact hamming confirm, never all-pairs) on `hashCol`.
    * Undecoded rows are excluded — zero-hash placeholders must not pair.
    * `maxBucketSize` caps hot band buckets (near-blank images concentrate
    * perceptual hashes exactly like boilerplate concentrates simhashes;
    * lossy, default [[Dedup.DefaultHotKeyCap]]; 0 = exact). */
  def imageNearDupPairs(hashes: DataFrame, maxHamming: Int = 6,
                        hashCol: String = "d_hash",
                        maxBucketSize: Int = Dedup.DefaultHotKeyCap): DataFrame =
    Dedup.hamming64Pairs(
      hashes.filter(col("decoded")).select(col("doc_id"), col(hashCol).as("h")),
      maxHamming, maxBucketSize)

  /** Deterministic smooth synthetic image payloads — the pixel-bearing
    * fixture generator for the perceptual-hash path (this container has
    * no raster corpus; a real pipeline feeds stored blobs straight to
    * [[perceptualHashes]]). Each row's image is a bilinear interpolation
    * of a 4×4 byte lattice seeded from `seed`, rendered at `side`² and
    * encoded with ImageIO: SMOOTH content, so re-rendering the same seed
    * at a different `side` is a true RESIZED duplicate (near-identical
    * perceptual hash, entirely different bytes) and a different `format`
    * (png/bmp — lossless) is a true RE-ENCODED duplicate (identical
    * pixels, different container). Input: `(doc_id, seed)`. Output:
    * `(doc_id, payload)`. */
  def syntheticImagePayloads(spark: SparkSession, ids: DataFrame,
                             side: Int = 32, format: String = "png"): DataFrame = {
    import spark.implicits._
    require(side >= 2 && side <= 4096, s"side out of range: $side")
    require(format == "png" || format == "bmp",
      s"lossless ImageIO formats only (png/bmp), got $format")
    ids.select(col("doc_id").cast("long"), col("seed").cast("long"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        it.map { case (id, seed) =>
          val im = renderLattice(seed, side)
          val out = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(im, format, out)
          (id, out.toByteArray)
        }
      }
      .toDF("doc_id", "payload")
  }

  /** 4×4-lattice bilinear surface at `side`² — 16.16-free integer
    * fixed-point (8-bit fractions), grayscale. */
  private def renderLattice(seed: Long, side: Int): java.awt.image.BufferedImage = {
    def lat(i: Int, j: Int): Int = {
      var x = seed ^ (i * 0x9E3779B97F4A7C15L) ^ (j * 0xC2B2AE3D27D4EB4FL)
      x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL; x ^= x >>> 33
      (x & 0xffL).toInt
    }
    val im = new java.awt.image.BufferedImage(side, side,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < side) {
      val fy = y * (3 << 8) / (side - 1)
      val j = math.min(fy >> 8, 2); val fv = fy - (j << 8)
      var x = 0
      while (x < side) {
        val fx = x * (3 << 8) / (side - 1)
        val i = math.min(fx >> 8, 2); val fu = fx - (i << 8)
        val v = ((lat(i, j) * (256 - fu) + lat(i + 1, j) * fu) * (256 - fv) +
          (lat(i, j + 1) * (256 - fu) + lat(i + 1, j + 1) * fu) * fv) >> 16
        im.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    im
  }

  /** LAION-style media curation gates over decoded [[AvFeature]] metadata
    * (the dataset-cleaning pass that runs on header fields alone, BEFORE
    * any pixel/sample decode — at 100 TB the whole gate is an O(header)
    * projection):
    *  - images: min side ≥ `minSide`, aspect ratio within
    *    [1/`maxAspect`, `maxAspect`] (checked multiplicatively in integer
    *    domain — no float division), and compressed bytes-per-pixel
    *    ≥ `minBppMicros`/1e6 (suspiciously high compression marks
    *    synthetic/blank images);
    *  - audio: duration within [`minAudioMs`, `maxAudioMs`] and sample
    *    rate ≥ `minRate`;
    *  - video: duration bound plus the image dimension gates;
    *  - unknown payloads always drop.
    * Adds `keep` and a first-failing `drop_reason` (gates evaluated in a
    * fixed order so the reason is deterministic). Pure CASE/arithmetic
    * column logic — codegen'd, shuffle-free, oracle-checkable. */
  def curationGates(features: DataFrame,
                    minSide: Int = 64, maxAspect: Int = 3,
                    minBppMicros: Long = 10000L,
                    minAudioMs: Long = 500L, maxAudioMs: Long = 600000L,
                    minRate: Int = 8000): DataFrame = {
    val w = col("width").cast("long")
    val h = col("height").cast("long")
    val dims = w >= minSide && h >= minSide
    val aspect = w <= h * maxAspect && h <= w * maxAspect
    val bpp = col("n_bytes") * 1000000L >= w * h * minBppMicros
    val durOk = col("duration_ms").between(minAudioMs, maxAudioMs)
    val reason = when(col("kind") === "unknown", "unknown_format")
      .when(col("kind") === "image" && !dims, "too_small")
      .when(col("kind") === "image" && !aspect, "bad_aspect")
      .when(col("kind") === "image" && !bpp, "over_compressed")
      .when(col("kind") === "audio" && !durOk, "bad_duration")
      .when(col("kind") === "audio" && col("sample_rate") < minRate, "low_sample_rate")
      .when(col("kind") === "video" && !durOk, "bad_duration")
      .when(col("kind") === "video" && !dims, "too_small")
      .when(col("kind") === "video" && !aspect, "bad_aspect")
    features.withColumn("drop_reason", reason)
      .withColumn("keep", col("drop_reason").isNull)
  }
}
