package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Multimodal-column plumbing: image/audio/video ride as opaque `binary`
  * columns with typed metadata. Images (PNG/JPEG/BMP/GIF) and WAV audio
  * decode for REAL via the pure-JDK codecs (javax.imageio /
  * javax.sound.sampled — no external libraries); formats the JDK cannot
  * decode (application/pdf payloads, video) fall back to a deterministic
  * stub so the pipeline shape stays testable end-to-end. Swap the
  * fallback for a JNI codec to cover the rest in production. */
object MediaOps {

  case class MediaMeta(media_ref: String, kind: String, bytes: Array[Byte])
  case class MediaFeatures(media_ref: String, kind: String, n_bytes: Long,
                           width: Int, height: Int, feature: Array[Float])

  /** The payload hash every stub decode derives from (polynomial, 31). */
  private def payloadHash(bytes: Array[Byte]): Long = {
    var h = 1125899906842597L
    var i = 0
    while (i < bytes.length) { h = 31 * h + bytes(i); i += 1 }
    h
  }

  /** Stub "decoded dimensions" from the payload hash — public so the
    * by-construction oracle can be built from the same formula. */
  def stubDims(bytes: Array[Byte]): (Int, Int) = dimsOf(payloadHash(bytes))

  private def dimsOf(h: Long): (Int, Int) =
    (64 + math.floorMod(h, 64).toInt, 64 + math.floorMod(h >> 8, 64).toInt)

  /** STUB decoder: deterministic pseudo-decode. A real implementation
    * returns decoded dimensions + an embedding; this fake derives both from
    * the payload hash so tests are stable. */
  private def decodeStub(kind: String, bytes: Array[Byte], dim: Int): (Int, Int, Array[Float]) = {
    val h = payloadHash(bytes)
    val (w, ht) = dimsOf(h)
    val feat = new Array[Float](dim)
    var k = 0
    var s = h
    while (k < dim) {
      s = s * 6364136223846793005L + 1442695040888963407L
      feat(k) = ((s >>> 40).toInt % 1000) / 1000.0f
      k += 1
    }
    (w, ht, feat)
  }

  /** REAL image decode via the JDK's ImageIO (PNG/JPEG/BMP/GIF): decoded
    * dimensions + a `gridxgrid` mean-luma feature vector (the standard
    * thumbnail-pool embedding stand-in). Returns null if no codec claims
    * the payload. */
  def decodeImage(bytes: Array[Byte], dim: Int): (Int, Int, Array[Float]) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    if (img == null) return null
    val w = img.getWidth
    val h = img.getHeight
    val grid = math.max(1, math.sqrt(dim.toDouble).toInt)
    val feat = new Array[Float](dim)
    val cnt = new Array[Int](dim)
    var y = 0
    while (y < h) {
      val gy = math.min(grid - 1, y * grid / h)
      var x = 0
      while (x < w) {
        val gx = math.min(grid - 1, x * grid / w)
        val rgb = img.getRGB(x, y)
        val luma = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
        val cell = gy * grid + gx
        if (cell < dim) { feat(cell) += luma / 255.0f; cnt(cell) += 1 }
        x += 1
      }
      y += 1
    }
    var k = 0
    while (k < dim) { if (cnt(k) > 0) feat(k) /= cnt(k); k += 1 }
    (w, h, feat)
  }

  /** 64-bit perceptual difference hash (dHash) of an image: decode, NN-
    * sample a 9×8 integer-luma grid (sample point `(x·w/9, y·h/8)`, the
    * same NN mapping as [[resizeImage]]), emit bit `y·8+x` = 1 iff
    * `luma(x,y) < luma(x+1,y)`. Returned as the engine's 64-char bit
    * string so [[TrainingOps.hammingDupPairsFromSig]] and the
    * `graft_hamming` codegen expression apply unchanged. Pure integer
    * math end-to-end — bitwise reproducible across JVMs. Null when no
    * codec claims the payload (caller drops, mirroring the §2.9 error
    * contract's no-abort rule). */
  def dHash(bytes: Array[Byte]): String = {
    val img = try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case NonFatal(_) => null }
    if (img == null) return null
    val w = img.getWidth
    val h = img.getHeight
    val lum = new Array[Int](9 * 8)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 9) {
        val sx = math.min(w - 1, x * w / 9)
        val sy = math.min(h - 1, y * h / 8)
        val rgb = img.getRGB(sx, sy)
        lum(y * 9 + x) =
          (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
        x += 1
      }
      y += 1
    }
    val sb = new java.lang.StringBuilder(64)
    y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        sb.append(if (lum(y * 9 + x) < lum(y * 9 + x + 1)) '1' else '0')
        x += 1
      }
      y += 1
    }
    sb.toString
  }

  /** Near-duplicate IMAGE pairs by perceptual hash — web corpora repeat
    * the same image across millions of pages (logos, thumbnails,
    * re-encodes), and byte-level dedup misses every re-encode. One narrow
    * typed pass computes dHash per blob (bytes never shuffle), then the
    * shared 4-band pigeonhole join pairs signatures within `maxHamming`
    * (exact for ≤ 3, mega-bucket capped). Undecodable blobs drop. */
  def dHashPairs(media: DataFrame, maxHamming: Int = 3, maxBucket: Int = 64): DataFrame =
    hashPairs(media, maxHamming, maxBucket)(dHash)

  /** The near-duplicate pairing of [[dHashPairs]] and [[wavHashPairs]]:
    * `hash` (a 64-char bit string, null = undecodable → dropped) per blob
    * in one narrow typed pass, then the shared 4-band pigeonhole join. */
  private def hashPairs(media: DataFrame, maxHamming: Int, maxBucket: Int)
                       (hash: Array[Byte] => String): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val sig = media.select(col("media_ref"), col("bytes"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.map { case (ref, b) => (ref, hash(b)) })
      .toDF("media_ref", "simhash")
      .na.drop(Seq("simhash"))
    TrainingOps.hammingDupPairsFromSig(sig, "media_ref", maxHamming, maxBucket)
      .select(col("doc_a").as("ref_a"), col("doc_b").as("ref_b"), col("hamming"))
  }

  /** 64-bit perceptual audio hash — [[dHash]]'s audio twin: decode PCM,
    * partition the samples into 65 segments, accumulate each segment's
    * energy as an INTEGER sum of squared sample values (no division, no
    * floats — bitwise reproducible), emit bit i = 1 iff
    * `energy(i) < energy(i+1)`. The energy-profile gradient survives
    * re-encoding/volume-preserving container changes the way dHash
    * survives image re-encodes. Same 64-char bit-string format, so
    * [[TrainingOps.hammingDupPairsFromSig]] applies unchanged. Null when
    * the payload is not decodable audio. */
  def wavHash(bytes: Array[Byte]): String = {
    val in = try javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      catch { case NonFatal(_) => return null }
    try {
      val fmt = in.getFormat
      val data = in.readAllBytes()
      val bytesPerSample = math.max(1, fmt.getSampleSizeInBits / 8)
      val n = data.length / bytesPerSample
      if (n == 0) return null
      val energy = new Array[Long](65)
      var i = 0
      while (i < n) {
        val v: Long =
          if (bytesPerSample == 2) {
            val lo = data(i * 2) & 0xff
            val hi = data(i * 2 + 1)
            ((hi << 8) | lo).toLong
          } else ((data(i) & 0xff) - 128).toLong
        val seg = math.min(64, i * 65 / n)
        energy(seg) += v * v
        i += 1
      }
      val sb = new java.lang.StringBuilder(64)
      i = 0
      while (i < 64) { sb.append(if (energy(i) < energy(i + 1)) '1' else '0'); i += 1 }
      sb.toString
    } catch { case NonFatal(_) => null } finally in.close()
  }

  /** Near-duplicate AUDIO pairs by perceptual energy-profile hash — the
    * audio leg of media dedup, same shape as [[dHashPairs]]: one narrow
    * typed hashing pass (bytes never shuffle), shared 4-band pigeonhole
    * join, undecodable blobs drop. */
  def wavHashPairs(media: DataFrame, maxHamming: Int = 3, maxBucket: Int = 64): DataFrame =
    hashPairs(media, maxHamming, maxBucket)(wavHash)

  /** REAL WAV decode via javax.sound.sampled: (sampleRate, frames) as the
    * "dimensions", per-segment RMS amplitude as the feature vector. */
  def decodeWav(bytes: Array[Byte], dim: Int): (Int, Int, Array[Float]) = {
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
    try {
      val fmt = in.getFormat
      val frameLen = in.getFrameLength.toInt
      val data = in.readAllBytes()
      val bytesPerSample = math.max(1, fmt.getSampleSizeInBits / 8)
      val n = data.length / bytesPerSample
      val feat = new Array[Float](dim)
      val cnt = new Array[Int](dim)
      var i = 0
      while (i < n) {
        val v =
          if (bytesPerSample == 2) {
            val lo = data(i * 2) & 0xff
            val hi = data(i * 2 + 1)
            ((hi << 8) | lo) / 32768.0f
          } else ((data(i) & 0xff) - 128) / 128.0f
        val seg = math.min(dim - 1, i * dim / math.max(1, n))
        feat(seg) += v * v
        cnt(seg) += 1
        i += 1
      }
      var k = 0
      while (k < dim) { if (cnt(k) > 0) feat(k) = math.sqrt(feat(k) / cnt(k)).toFloat; k += 1 }
      (fmt.getSampleRate.toInt, frameLen, feat)
    } finally in.close()
  }

  /** Decode dispatch: real JDK codecs first, deterministic stub fallback. */
  def decode(kind: String, bytes: Array[Byte], dim: Int): (Int, Int, Array[Float]) = {
    try {
      if (kind.startsWith("image/")) {
        val r = decodeImage(bytes, dim)
        if (r != null) return r
      } else if (kind == "audio/wav" || kind == "audio/x-wav") {
        return decodeWav(bytes, dim)
      }
    } catch { case NonFatal(_) => } // undecodable payload -> stub fallback
    decodeStub(kind, bytes, dim)
  }

  /** Feature extraction over the media dimension, routed by size like
    * ExtractJob.extractMedia ([[graft.Model.MediaRow.routeBySize]]):
    * typical payloads decode in the scan stage (narrow, bytes never
    * shuffle); only the oversized tail pays a salted repartition. */
  def featurize(media: DataFrame, dim: Int = 16, numPartitions: Int = 0,
                heavyBucket: Int = 22 /* 4 MB */)(implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    routedFlatMap(media, numPartitions, heavyBucket) { m =>
      val (w, h, feat) = decode(m.kind, m.bytes, dim)
      Iterator.single(MediaFeatures(m.media_ref, m.kind, m.bytes.length.toLong, w, h, feat))
    }
  }

  /** A per-media pass routed by size ([[graft.Model.MediaRow.routeBySize]]).
    * Tables without the `size_bucket` column get it derived here from
    * octet_length as a fallback, but that predicate cannot push to the
    * scan — write size_bucket at ingest for large tables (the corpus
    * tables do; see ExtractJob). */
  private def routedFlatMap[T: org.apache.spark.sql.Encoder](
      media: DataFrame, numPartitions: Int, heavyBucket: Int)(
      f: MediaMeta => Iterator[T])(implicit spark: SparkSession): Dataset[T] = {
    import spark.implicits._
    val parts = if (numPartitions > 0) numPartitions else spark.sessionState.conf.numShufflePartitions
    val withBucket =
      if (media.columns.contains("size_bucket")) media
      else media.withColumn("size_bucket", graft.Model.MediaRow.sizeBucket(octet_length(col("bytes"))))
    val work = withBucket.select(col("media_ref"), col("kind"), col("bytes"), col("size_bucket"))
    graft.Model.MediaRow.routeBySize(work, parts, heavyBucket) { (df, _) =>
      df.select(col("media_ref"), col("kind"), col("bytes")).as[MediaMeta]
        .mapPartitions(_.flatMap(f)) // per-partition reused scratch would live here for a real codec
    }
  }

  case class ResizedImage(media_ref: String, in_w: Int, in_h: Int,
                          out_w: Int, out_h: Int, out_bytes: Array[Byte])

  /** REAL aspect-preserving image resize (pure JDK): decode via ImageIO,
    * nearest-neighbour downscale to fit (maxW, maxH) — integer source
    * indexing, so the output pixels are decode-exact and deterministic
    * across platforms — re-encode as PNG. Returns null when no JDK codec
    * claims the payload. Public so the by-construction oracle can invoke
    * the identical function. */
  def resizeImage(bytes: Array[Byte], maxW: Int, maxH: Int): ResizedImage = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    if (img == null) return null
    val inW = img.getWidth
    val inH = img.getHeight
    val scale = math.min(1.0, math.min(maxW.toDouble / inW, maxH.toDouble / inH))
    val outW = math.max(1, math.floor(inW * scale).toInt)
    val outH = math.max(1, math.floor(inH * scale).toInt)
    val out = new java.awt.image.BufferedImage(outW, outH, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < outH) {
      val sy = math.min(inH - 1, y * inH / outH)
      var x = 0
      while (x < outW) {
        out.setRGB(x, y, img.getRGB(math.min(inW - 1, x * inW / outW), sy))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(out, "png", bos)
    ResizedImage("", inW, inH, outW, outH, bos.toByteArray)
  }

  /** Distributed thumbnailing: every JDK-decodable image resized to fit
    * the bounding box; undecodable payloads are dropped (they carry no
    * raster to resize — route them through [[featurize]]'s stub instead).
    * Same hybrid skew routing as featurize. */
  def resizeImages(media: DataFrame, maxW: Int, maxH: Int, numPartitions: Int = 0,
                   heavyBucket: Int = 22)(implicit spark: SparkSession): Dataset[ResizedImage] = {
    import spark.implicits._
    routedFlatMap(media, numPartitions, heavyBucket) { m =>
      try {
        val r = resizeImage(m.bytes, maxW, maxH)
        if (r == null) Iterator.empty else Iterator.single(r.copy(media_ref = m.media_ref))
      } catch { case NonFatal(_) => Iterator.empty }
    }
  }

  case class SampledFrame(media_ref: String, frame_idx: Int, frame_len: Int, frame_crc: Long)

  /** STUB video frame decode (declared — no video codec exists in the
    * JDK): deterministic pseudo-frames derived from the payload hash, so
    * the one-row→N-frame-rows plumbing (schema, flatMap fan-out, skew
    * routing, bounded maxFrames) is real and testable end-to-end; swap
    * for a JNI codec in production. Public for the oracle builder. */
  def stubFrames(bytes: Array[Byte], everyNth: Int, maxFrames: Int): Seq[(Int, Int, Long)] = {
    val h = payloadHash(bytes)
    val totalFrames = 8 + math.floorMod(h, 120).toInt // stub "video length"
    (0 until totalFrames by everyNth).take(maxFrames).map { idx =>
      var s = h + idx * 0x9e3779b97f4a7c15L
      s = (s ^ (s >>> 30)) * 0xbf58476d1ce4e5b9L
      (idx, 1024 + math.floorMod(s, 4096).toInt, s ^ (s >>> 27))
    }
  }

  /** REAL multi-frame decode for animated GIF — the one multi-frame
    * format the pure JDK can decode (ImageIO's GIF reader exposes indexed
    * frame access via `reader.read(i)`). Per sampled frame:
    * (frame_idx, frame_len = width×height pixels, CRC32 over the frame's
    * ARGB raster bytes, row-major big-endian). Frames are the reader's
    * stored rasters (animation delta frames come back at their stored
    * size — deterministic). Returns null when no reader claims the
    * payload. Public so the by-construction oracle invokes the identical
    * function. */
  def gifFrames(bytes: Array[Byte], everyNth: Int, maxFrames: Int): Seq[(Int, Int, Long)] = {
    val iis = javax.imageio.ImageIO.createImageInputStream(new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) return null
      val reader = readers.next()
      try {
        reader.setInput(iis, false, true)
        val n = reader.getNumImages(true)
        val buf = new Array[Byte](4)
        (0 until n by everyNth).take(maxFrames).map { idx =>
          val img = reader.read(idx)
          val w = img.getWidth
          val h = img.getHeight
          val crc = new java.util.zip.CRC32()
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val p = img.getRGB(x, y)
              buf(0) = (p >>> 24).toByte
              buf(1) = (p >>> 16).toByte
              buf(2) = (p >>> 8).toByte
              buf(3) = p.toByte
              crc.update(buf)
              x += 1
            }
            y += 1
          }
          (idx, w * h, crc.getValue)
        }
      } finally reader.dispose()
    } finally iis.close()
  }

  /** Frame-decode dispatch: REAL frames for animated GIF (pure JDK),
    * declared stub for video (no video codec exists in the JDK). */
  def sampleFrames(kind: String, bytes: Array[Byte], everyNth: Int, maxFrames: Int): Seq[(Int, Int, Long)] = {
    if (kind == "image/gif") {
      try {
        val r = gifFrames(bytes, everyNth, maxFrames)
        if (r != null) return r
      } catch { case NonFatal(_) => } // corrupt GIF → stub fallback
    }
    stubFrames(bytes, everyNth, maxFrames)
  }

  /** Frame sampling over multi-frame payloads: one media row fans out to
    * its sampled frames (every `everyNth`, capped at `maxFrames` — the cap
    * bounds the fan-out so a pathological 10-hour payload cannot blow a
    * partition). Decode is REAL for `image/gif` ([[gifFrames]]); video
    * remains the declared stub above. */
  def frameSample(media: DataFrame, everyNth: Int = 10, maxFrames: Int = 16,
                  numPartitions: Int = 0, heavyBucket: Int = 22)
                 (implicit spark: SparkSession): Dataset[SampledFrame] = {
    import spark.implicits._
    routedFlatMap(media, numPartitions, heavyBucket) { m =>
      sampleFrames(m.kind, m.bytes, everyNth, maxFrames).iterator.map { case (idx, len, crc) =>
        SampledFrame(m.media_ref, idx, len, crc)
      }
    }
  }

  /** Referential-integrity audit over the interleaved corpus: the
    * docs-side spans reference media blobs by `media_ref`; this reports
    * every ref that is `dangling` (a span points at a blob the media
    * table doesn't have — extraction would emit an error span) or
    * `orphan` (a stored blob no span references — dead weight a
    * compaction can drop). Consistent refs produce no output, so the
    * audit is delta-sized: the thing an ingest pipeline alerts on.
    *
    * Scale shape: both sides collapse to DISTINCT refs inside their own
    * scans (partial-aggregated, so the shuffle carries unique ref keys,
    * never span structs or blob bytes — the media scan reads only the
    * `media_ref` column thanks to pruning); then one full-outer join on
    * the ref key classifies. Text spans (`media_ref = ""`) are excluded
    * by definition. */
  def refIntegrity(docs: DataFrame, media: DataFrame): DataFrame = {
    val used = docs.select(explode(col("spans.media_ref")).as("media_ref"))
      .where(col("media_ref") =!= "").distinct()
      .withColumn("used", lit(1))
    val have = media.select(col("media_ref")).distinct().withColumn("have", lit(1))
    used.join(have, Seq("media_ref"), "full_outer")
      .select(col("media_ref"),
        when(col("have").isNull, lit("dangling"))
          .when(col("used").isNull, lit("orphan"))
          .otherwise(lit("ok")).as("status"))
      .where(col("status") =!= "ok")
  }
}
