package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables.t

/** Multimodal-column plumbing (north-star): media as opaque `binary`
  * columns with typed metadata, decode/feature steps as per-partition
  * iterator transforms.
  *
  * The decode is REAL: media bytes are actual PNG/BMP files (synthesized
  * deterministically per document with `javax.imageio` — the container has
  * no external codec libraries, but the JDK ships real PNG and BMP codecs),
  * and the decode stage parses them back with an `ImageReader`, returning
  * decoded dimensions, the container format sniffed from the byte stream,
  * and a checksum over the decoded PIXELS (which only a real decode can
  * produce). The Spark shape is what a 100 TB decode/resize/frame-sample
  * stage needs: per-partition codec setup amortized over the iterator (not
  * per row), binary in / typed struct out, no driver collection, output
  * schema declared so downstream pruning works.
  */
object Multimodal {

  /** `multimodal_meta` — typed metadata over a binary media column without
    * decoding: byte length and content digest. (This key stays on
    * text-cast bytes so its digests remain oracle-reproducible in SQL;
    * the decode key below carries the real image bytes.) */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("media", col("text").cast(BinaryType))
      .select(
        col("doc_id"),
        length(col("media")).cast(LongType).as("media_len"),
        md5(col("media")).as("digest"),
        sha2(col("media"), 256).as("digest256"))
      .orderBy("doc_id")

  // ---------------------------------------------------------------------------

  case class MediaMeta(doc_id: Long, width: Int, height: Int, format: String,
                       n_frames: Int, px_sum: Long)

  /** Real JDK image codec. Encode renders a deterministic grayscale
    * pattern — pixel (x,y) = (doc_id·31 + x·7 + y·13) mod 256 — at
    * dimensions derived from the document's first two text bytes
    * (8 + b0 mod 56 / 8 + b1 mod 56, so the ORACLE can reproduce the
    * decoded dimensions from the documents table), as PNG for even-length
    * texts and BMP for odd. Decode sniffs the format from the bytes,
    * reads frame 0, and checksums the decoded pixels. Both PNG (lossless,
    * compressed, CRC-checked) and BMP (uncompressed) round-trip pixels
    * exactly, so encode→decode checksums are deterministic. */
  object ImageCodec {
    def dims(bytes: Array[Byte]): (Int, Int) = (
      8 + (if (bytes.nonEmpty) bytes(0) & 0xff else 0) % 56,
      8 + (if (bytes.length > 1) bytes(1) & 0xff else 0) % 56)

    def pixel(docId: Long, x: Int, y: Int): Int =
      ((docId * 31 + x * 7 + y * 13) % 256).toInt

    def encode(docId: Long, textBytes: Array[Byte]): Array[Byte] = {
      val (w, h) = dims(textBytes)
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = pixel(docId, x, y)
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
          x += 1
        }
        y += 1
      }
      val fmt = if (textBytes.length % 2 == 0) "png" else "bmp"
      val bos = new java.io.ByteArrayOutputStream()
      require(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }

    /** Real decode: format is sniffed from the byte stream (not trusted
      * metadata), and px_sum sums the decoded luminance bytes — a value
      * that exists only after actual pixel decoding. */
    def decode(docId: Long, bytes: Array[Byte]): MediaMeta = {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        require(readers.hasNext, s"no image reader matches media of doc $docId")
        val r = readers.next()
        try {
          r.setInput(iis)
          val img = r.read(0)
          var s = 0L
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              s += img.getRGB(x, y) & 0xff // gray: B==G==R
              x += 1
            }
            y += 1
          }
          MediaMeta(docId, img.getWidth, img.getHeight,
            r.getFormatName.toLowerCase, r.getNumImages(true), s)
        } finally r.dispose()
      } finally iis.close()
    }
  }

  /** Media synthesis as its own pipeline stage: documents → real encoded
    * image bytes, one per doc, in mapPartitions (ImageIO's global disk
    * cache is disabled once per partition — per-row temp files would be
    * an IO disaster at scale). */
  def syntheticMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // codec loops are CPU-dense per byte: heal scan starvation on dense
    // single-file inputs (probe #21 catch #3; no-op at real file counts)
    Dedup.healScanStarvation(
      t(spark, dir, "documents")
        .select(col("doc_id").cast(LongType), col("text").cast(BinaryType)),
      col("doc_id"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false) // per-partition codec setup
        rows.map { case (id, tb) =>
          (id, ImageCodec.encode(id, if (tb == null) Array.empty[Byte] else tb))
        }
      }
      .toDF("doc_id", "media")
  }

  /** Decode stage as a partition-preserving iterator transform: codec
    * configured once per partition, rows streamed through it. Output is a
    * typed Dataset so Catalyst sees a real schema. */
  def decodeMedia(spark: SparkSession, media: DataFrame): Dataset[MediaMeta] = {
    import spark.implicits._
    media.select(col("doc_id").cast(LongType), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false) // per-partition codec setup
        rows.map { case (id, bytes) => ImageCodec.decode(id, bytes) }
      }
  }

  /** `multimodal_decode` — encode→decode end-to-end with the real JDK
    * codecs. The oracle reproduces width/height/format/n_frames from the
    * documents table (the synthesis arithmetic is SQL-expressible); the
    * pixel checksum — provable only by a real decode — is asserted in the
    * ScalaTest spec against an independent recomputation. */
  def multimodalDecode(spark: SparkSession, dir: String): DataFrame =
    decodeMedia(spark, syntheticMedia(spark, dir)).toDF()
      .select(col("doc_id"), col("width"), col("height"), col("format"), col("n_frames"))
      .orderBy("doc_id")

  /** `multimodal_features` — feature extraction over the binary media
    * column: a 16-bucket byte histogram (high nibble), normalized. The
    * per-row byte loop runs in mapPartitions (imperative per-partition
    * logic, the same shape a CNN embedding or MFCC extractor plugs into),
    * and the output is a fixed-width feature vector ready for the
    * similarity operators. (Stays on text-cast bytes so the histogram is
    * oracle-reproducible in SQL.) */
  def multimodalFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "documents")
      .select(col("doc_id"), col("text").cast(BinaryType).as("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val h = new Array[Long](16)
          bytes.foreach(b => h((b & 0xff) >> 4) += 1)
          val n = math.max(bytes.length, 1).toDouble
          (id, h.map(_ / n).toSeq)
        }
      }
      .toDF("doc_id", "feat")
      .select(col("doc_id") +: (0 until 16).map(i =>
        org.apache.spark.sql.functions.element_at(col("feat"), i + 1).as(s"h$i")): _*)
      .orderBy("doc_id")
  }

  /** Resize stage — REAL pixel resampling: decode, then explicit
    * nearest-neighbor downsample (source pixel (x·srcW DIV w, y·srcH DIV h)
    * — integer arithmetic, so the result is bit-deterministic across JVMs,
    * unlike Graphics2D's rounding) and a checksum of the RESIZED pixels.
    * Same per-partition iterator shape as decode. */
  def resizeMedia(spark: SparkSession, media: DataFrame, factor: Int): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id").cast(LongType), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { case (id, bytes) =>
          val src = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          val (w, h) = (math.max(src.getWidth / factor, 1), math.max(src.getHeight / factor, 1))
          var s = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              s += src.getRGB(x * src.getWidth / w, y * src.getHeight / h) & 0xff
              x += 1
            }
            y += 1
          }
          (id, w, h, s)
        }
      }
      .toDF("doc_id", "width", "height", "px_sum")
  }

  /** Frame-sampling stage shape: one media row fans out along a
    * container-metadata frame count (`n_frames` column — what a video
    * container header reports without decoding; the JDK stills above are
    * single-frame, so the multi-frame count is caller-supplied metadata).
    * posexplode of the frame index — the row-multiplying step a video
    * pipeline needs, with partition-local fan-out only. */
  def sampleFrames(spark: SparkSession, mediaWithFrames: DataFrame, everyNth: Int): DataFrame =
    mediaWithFrames
      .select(col("doc_id"),
        posexplode(sequence(lit(0), col("n_frames") - 1)).as(Seq("pos", "frame_idx")))
      .filter(col("frame_idx") % everyNth === 0)
      .select("doc_id", "frame_idx")

  /** Real multi-frame container codec: animated GIF via the JDK's sequence
    * writer. GIF is palette-indexed; a 256-value grayscale ramp occupies
    * the full palette, so encode→decode round-trips every pixel EXACTLY
    * (spec-verified) — which is what makes a decoded-pixel checksum
    * deterministic enough to oracle. Frame f's pixel pattern shifts the
    * still formula by 97·f. */
  object FrameCodec {
    def framePixel(docId: Long, f: Int, x: Int, y: Int): Int =
      ((docId * 31 + f * 97 + x * 7 + y * 13) % 256).toInt

    def encodeAnimated(docId: Long, textBytes: Array[Byte], nFrames: Int): Array[Byte] = {
      val (w, h) = ImageCodec.dims(textBytes)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      val wr = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      try {
        wr.setOutput(ios)
        wr.prepareWriteSequence(null)
        var f = 0
        while (f < nFrames) {
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          val raster = img.getRaster
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { raster.setSample(x, y, 0, framePixel(docId, f, x, y)); x += 1 }
            y += 1
          }
          wr.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
          f += 1
        }
        wr.endWriteSequence()
      } finally { wr.dispose(); ios.close() }
      bos.toByteArray
    }

    /** Decode + stride-sample: frame count read from the container (the
      * expensive `getNumImages(true)` full scan — a video pipeline reads it
      * from the header), then only every `stride`-th frame is actually
      * decoded and checksummed. Returns (frame_idx, n_frames, w, h, px_sum)
      * per SAMPLED frame. */
    def decodeFrames(docId: Long, bytes: Array[Byte], stride: Int): Seq[(Int, Int, Int, Int, Long)] = {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        require(readers.hasNext, s"no reader for media of doc $docId")
        val rd = readers.next()
        try {
          rd.setInput(iis)
          val n = rd.getNumImages(true)
          (0 until n by stride).map { f =>
            val img = rd.read(f)
            var s = 0L
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) { s += img.getRGB(x, y) & 0xff; x += 1 }
              y += 1
            }
            (f, n, img.getWidth, img.getHeight, s)
          }
        } finally rd.dispose()
      } finally iis.close()
    }
  }

  /** Perceptual average-hash over REAL decoded pixels — the image analogue
    * of MinHash dedup: decode, partition the image into an 8×8 block grid
    * (block (bx,by) ← pixels with bx = x·8 DIV w), and threshold each
    * block's mean against the global mean. The comparison is done by
    * integer cross-multiplication (`bsum·tcnt > tsum·bcnt`) — no float
    * division anywhere, so the 64 bits are bit-deterministic across JVMs
    * and reproducible by the SQL oracle from the synthesis arithmetic.
    * The hash is kept as 8 row-bands of 8 bits (`h0..h7`, one per grid
    * row) rather than a single int64: the bands are exactly the LSH keys
    * the near-dup join buckets on, and per-band bytes sidestep signed
    * shift-overflow edge cases in both engines. Checkpointed: the near-dup
    * band self-join and both verify sides read it. */
  private def aHashBands(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    syntheticMedia(spark, dir)
      .select(col("doc_id").cast(LongType), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false) // per-partition codec setup
        rows.map { case (id, bytes) =>
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          val (w, h) = (img.getWidth, img.getHeight)
          val bsum = Array.ofDim[Long](8, 8)
          val bcnt = Array.ofDim[Long](8, 8)
          var tsum = 0L
          var y = 0
          while (y < h) {
            val by = y * 8 / h
            var x = 0
            while (x < w) {
              val v = (img.getRGB(x, y) & 0xff).toLong // gray: B==G==R
              val bx = x * 8 / w
              bsum(by)(bx) += v; bcnt(by)(bx) += 1; tsum += v
              x += 1
            }
            y += 1
          }
          val tcnt = w.toLong * h
          val bands = (0 until 8).map { by =>
            var band = 0L
            var bx = 0
            while (bx < 8) {
              // dims >= 8 so every block is non-empty; strict > keeps
              // ties (exactly-average blocks) at 0 on both sides
              if (bsum(by)(bx) * tcnt > tsum * bcnt(by)(bx)) band |= (1L << bx)
              bx += 1
            }
            band
          }
          (id, bands(0), bands(1), bands(2), bands(3), bands(4), bands(5), bands(6), bands(7))
        }
      }
      .toDF("doc_id", "h0", "h1", "h2", "h3", "h4", "h5", "h6", "h7")
      .localCheckpoint()
  }

  /** `multimodal_phash` — the per-document perceptual hash itself (decode →
    * 8×8 block-mean threshold, [[aHashBands]]). Map-only: at 100 TB this is
    * a pure scan→decode→project pass, the fingerprint write that runs once
    * per corpus before any pairwise work. */
  def multimodalPhash(spark: SparkSession, dir: String): DataFrame =
    aHashBands(spark, dir).orderBy("doc_id")

  /** `multimodal_near_dup` — image near-duplicate pairs at Hamming
    * distance ≤ 3 over the perceptual hash, via banded LSH that is EXACT
    * by pigeonhole: 64 bits in 4 bands of 16 (adjacent row-band pairs,
    * `h(2j) + 256·h(2j+1)`) means any pair differing in ≤ 3 bits agrees
    * on at least one whole band, so the band-equality join's candidate
    * set provably contains every qualifying pair — LSH bucketing with
    * zero recall loss. (8 bands of 8 would be exact to distance 7, but on
    * this corpus distance-k pair counts GROW with k — the ≤ 7 answer at
    * sf0.1 is 172k pairs, ~quadratic in corpus scale because the
    * synthesis image space is finite — so the key pins the tight
    * threshold and the wide-band variant stays a parameter choice, not a
    * different operator.) Candidates are ids-only (band self-join on
    * (band_idx, band_value), distinct), then hashes re-join for the exact
    * Hamming verify (`bit_count(xor)` per band, codegen'd) — never an
    * all-pairs product. At 100 TB the candidate volume is the sum of
    * squared bucket sizes; probe #16 records the measured growth. */
  def multimodalNearDup(spark: SparkSession, dir: String): DataFrame =
    nearDupPairs(spark, dir).orderBy("doc_a", "doc_b")

  /** [[multimodalNearDup]] without the presentation sort — shared by the
    * cluster consumer, which shuffles the pairs again anyway. */
  private def nearDupPairs(spark: SparkSession, dir: String): DataFrame = {
    val hashes = aHashBands(spark, dir)
    val bandCols = (0 until 4).map(j => col(s"h${2 * j}") + col(s"h${2 * j + 1}") * 256)
    val banded = hashes.select(col("doc_id"),
      posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_value")))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_value") === col("b.band_value") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val ham = (0 until 8)
      .map(i => bit_count(col(s"ha.h$i").bitwiseXOR(col(s"hb.h$i"))).cast(LongType))
      .reduce(_ + _)
    cand
      .join(hashes.as("ha"), col("doc_a") === col("ha.doc_id"))
      .join(hashes.as("hb"), col("doc_b") === col("hb.doc_id"))
      .select(col("doc_a"), col("doc_b"), ham.as("hamming"))
      .filter(col("hamming") <= 3)
  }

  /** `multimodal_dup_clusters` — the pair enumeration consumed into
    * transitive clusters with one canonical image per component (min
    * doc_id), the image-side twin of `dedup_clusters` and the form that
    * keeps output LINEAR in corpus size where the pair list is ~quadratic
    * on a dense corpus (probe #16's reading). Hamming chains cluster
    * transitively by design — A~B~C links A,C even at distance 6 — and
    * that is exactly why this key uses the LARGE-SMALL-STAR closure
    * ([[Dedup.connectedComponentsLogStar]]), not min-label propagation:
    * the finite 64-bit hash space makes components long CHAINS whose
    * diameter grows with corpus scale, and label propagation pays one
    * full edge-list round per diameter step (measured, probe #21: 40
    * rounds / 12.5 CPU-s at sf0.1, ~50 rounds / 1,472 CPU-s at 10× —
    * grazing the round ceiling — where the text dedup graphs converge in
    * a handful). Star contraction is O(log² n) rounds regardless of
    * diameter. */
  def multimodalDupClusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    Dedup.clusterTable(Dedup.connectedComponentsLogStar(spark, docs.select("doc_id"),
      nearDupPairs(spark, dir).select("doc_a", "doc_b")))
  }

  /** `multimodal_frames` — the video-shaped path end-to-end with a REAL
    * multi-frame container: synthesize an animated GIF per document
    * (2 + doc_id mod 5 frames at the doc's still dimensions), then decode
    * and stride-2 frame-sample it, checksumming the decoded pixels of each
    * sampled frame. One `mapPartitions` pass, codec configured once per
    * partition, fan-out is per-row only (≤ 3 sampled frames/doc) — the
    * exact plumbing a frame-extract stage over 100 TB of video needs:
    * binary in, (doc, frame, features) rows out, no driver involvement, no
    * shuffle before the presentation sort. The oracle reproduces every
    * column including px_sum from the synthesis arithmetic; the GIF
    * round-trip exactness that makes that possible is spec-pinned. */
  def multimodalFrames(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // same heal as syntheticMedia: the encode+decode frame loop starved
    // at ~1.0 parallelism on the single-file probe corpus (146 s @100×)
    Dedup.healScanStarvation(
      t(spark, dir, "documents")
        .select(col("doc_id").cast(LongType), col("text").cast(BinaryType)),
      col("doc_id"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false) // per-partition codec setup
        rows.flatMap { case (id, tb) =>
          val nFrames = (2 + id % 5).toInt
          val gif = FrameCodec.encodeAnimated(
            id, if (tb == null) Array.empty[Byte] else tb, nFrames)
          FrameCodec.decodeFrames(id, gif, 2).map {
            case (f, n, w, h, s) => (id, f, n, w, h, s)
          }
        }
      }
      .toDF("doc_id", "frame_idx", "n_frames", "width", "height", "px_sum")
      .orderBy("doc_id", "frame_idx")
  }
}
