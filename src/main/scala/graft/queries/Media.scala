package graft
package queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.MediaOps
import graft.testkit.PdfBuilder
import QuerySupport._

/** Media queries: image decode, resize and perceptual hashes, video/GIF
  * frame sampling and audio hashing over synthetic, deterministic inputs. */
object Media extends QueryFamily("media") {

  /** Deterministic synthetic PNGs (pure JDK ImageIO, no external data). */
  private def syntheticImages: Seq[(String, Array[Byte])] =
    (0 until 6).map { i =>
      val w = 24 + i * 8
      val h = 16 + i * 4
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          img.setRGB(x, y, ((x * 37 + y * 91 + i * 701) & 0xffffff))
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      (f"img$i%02d", bos.toByteArray)
    }

  /** Deterministic synthetic multi-frame (animated) GIFs, pure JDK
    * sequence writing — 4/7/10 frames, small flat-color rasters (GIF
    * palettes are exact for few colors, so decode is bit-stable). */
  private def syntheticGifs: Seq[(String, Array[Byte])] =
    (0 until 3).map { i =>
      val frames = 4 + i * 3
      val w = 20 + i * 6
      val h = 14 + i * 4
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      (0 until frames).foreach { f =>
        val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val colors = Array(0xff0000, 0x00ff00, 0x0000ff, 0xffff00)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            img.setRGB(x, y, colors((x / 4 + y / 4 + f + i) % colors.length))
            x += 1
          }
          y += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence()
      writer.dispose()
      ios.close()
      (f"gif$i%02d", bos.toByteArray)
    }

  val defs: Seq[QueryDef] = Seq(
    query("q_media_features", build = (s, d) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val media = sp.createDataset((PdfBuilder.all :+ PdfBuilder.f16Garbage).map(f =>
          (f.name, "application/pdf", f.bytes))).toDF("media_ref", "kind", "bytes")
        MediaOps.featurize(media, dim = 16).toDF()
          .select(col("media_ref"), col("kind"), col("n_bytes"), col("width"), col("height"))
      },
      oracle = {
        val rows = (PdfBuilder.all :+ PdfBuilder.f16Garbage).map { f =>
          val (w, h) = MediaOps.stubDims(f.bytes)
          s"(${sqlStr(f.name)}, 'application/pdf', ${f.bytes.length}, $w, $h)"
        }
        s"SELECT t.media_ref, t.kind, CAST(t.n_bytes AS BIGINT) AS n_bytes, t.width, t.height " +
          s"FROM (VALUES ${rows.mkString(", ")}) AS t(media_ref, kind, n_bytes, width, height)"
      }),
    // REAL image decode (JDK ImageIO) over synthetic PNGs
    query("q_media_image", build = (s, _) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val media = sp.createDataset(syntheticImages.map { case (ref, bytes) =>
          (ref, "image/png", bytes)
        }).toDF("media_ref", "kind", "bytes")
        MediaOps.featurize(media, dim = 16).toDF()
          .select(col("media_ref"), col("width"), col("height"),
            element_at(col("feature"), 1).as("f_first"),
            element_at(col("feature"), 8).as("f_mid"),
            element_at(col("feature"), 16).as("f_last"))
      },
      oracle = {
        val rows = syntheticImages.map { case (ref, bytes) =>
          val (w, h, feat) = MediaOps.decodeImage(bytes, 16)
          // floats printed via their exact double value: float->double is
          // exact, the double literal round-trips, and double->float of an
          // exactly-float-valued double is exact — no 1-ulp literal drift
          // the inner DOUBLE cast matters: a bare decimal literal parses as
          // DECIMAL in DuckDB and DECIMAL->FLOAT double-rounds
          s"(${sqlStr(ref)}, $w, $h, CAST(CAST(${feat(0).toDouble} AS DOUBLE) AS FLOAT), " +
            s"CAST(CAST(${feat(7).toDouble} AS DOUBLE) AS FLOAT), CAST(CAST(${feat(15).toDouble} AS DOUBLE) AS FLOAT))"
        }
        s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(media_ref, width, height, f_first, f_mid, f_last)"
      }),
    // REAL aspect-preserving image resize (JDK) over synthetic PNGs;
    // compared via decode-exact dims + CRC32 of the re-encoded bytes
    query("q_media_resize", build = (s, _) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val media = sp.createDataset(syntheticImages.map { case (ref, bytes) =>
          (ref, "image/png", bytes)
        }).toDF("media_ref", "kind", "bytes")
        MediaOps.resizeImages(media, maxW = 20, maxH = 20).toDF()
          .select(col("media_ref"), col("in_w"), col("in_h"), col("out_w"), col("out_h"),
            crc32(col("out_bytes")).as("out_crc"),
            octet_length(col("out_bytes")).as("out_len"))
      },
      // By-construction oracle for q_media_resize: the same resizeImage +
      // CRC32 invoked at oracle-build time over the same synthetic PNGs.
      oracle = {
        val rows = syntheticImages.map { case (ref, bytes) =>
          val r = MediaOps.resizeImage(bytes, 20, 20)
          val crc = new java.util.zip.CRC32()
          crc.update(r.out_bytes)
          s"(${sqlStr(ref)}, ${r.in_w}, ${r.in_h}, ${r.out_w}, ${r.out_h}, " +
            s"CAST(${crc.getValue} AS BIGINT), ${r.out_bytes.length})"
        }
        s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(media_ref, in_w, in_h, out_w, out_h, out_crc, out_len)"
      }),
    // video frame sampling: stubbed decode, REAL one-row→N-frames
    // fan-out plumbing with a bounded cap
    query("q_media_frames", build = (s, _) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val media = sp.createDataset((PdfBuilder.all :+ PdfBuilder.f16Garbage).map(f =>
          (f.name, "video/mp4", f.bytes))).toDF("media_ref", "kind", "bytes")
        MediaOps.frameSample(media, everyNth = 7, maxFrames = 5).toDF()
      },
      // By-construction oracle for q_media_frames (stub decode, real fan-out).
      oracle = {
        val rows = (PdfBuilder.all :+ PdfBuilder.f16Garbage).flatMap { f =>
          MediaOps.stubFrames(f.bytes, everyNth = 7, maxFrames = 5).map { case (idx, len, crc) =>
            s"(${sqlStr(f.name)}, $idx, $len, CAST($crc AS BIGINT))"
          }
        }
        s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(media_ref, frame_idx, frame_len, frame_crc)"
      }),
    // REAL multi-frame sampling over animated GIFs (pure-JDK indexed
    // frame decode): decoded dims + raster CRCs, by-construction oracle
    query("q_media_gif_frames", build = (s, _) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val media = sp.createDataset(syntheticGifs.map { case (ref, bytes) =>
          (ref, "image/gif", bytes)
        }).toDF("media_ref", "kind", "bytes")
        MediaOps.frameSample(media, everyNth = 3, maxFrames = 3).toDF()
      },
      // By-construction oracle for q_media_gif_frames: the same gifFrames
      // dispatch invoked at oracle-build time over the same synthetic GIFs.
      oracle = {
        val rows = syntheticGifs.flatMap { case (ref, bytes) =>
          MediaOps.sampleFrames("image/gif", bytes, everyNth = 3, maxFrames = 3).map {
            case (idx, len, crc) => s"(${sqlStr(ref)}, $idx, $len, CAST($crc AS BIGINT))"
          }
        }
        s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(media_ref, frame_idx, frame_len, frame_crc)"
      }),
    // perceptual image dedup: dHash + the shared 4-band pigeonhole join —
    // a2 alters only a NEVER-SAMPLED pixel (15,15): same hash, distance 0;
    // the reversed gradient flips all 64 comparisons and is excluded
    query("x_media_dhash", build = (s, _) => {
        import s.implicits._
        def png(f: Int => Int): Array[Byte] = {
          val img = new java.awt.image.BufferedImage(16, 16,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          for (y <- 0 until 16; x <- 0 until 16) {
            val g = f(x) & 0xff
            img.setRGB(x, y, (g << 16) | (g << 8) | g)
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          bos.toByteArray
        }
        val a = png(x => x * 16)
        val a2 = {
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(a))
          img.setRGB(15, 15, 0) // (15,15) is outside every 9x8 sample point
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          bos.toByteArray
        }
        val b = png(x => (15 - x) * 16)
        val media = s.createDataset(Seq(
          ("a", a), ("a2", a2), ("b", b),
          ("bad", "not an image".getBytes("UTF-8"))))
          .toDF("media_ref", "bytes")
        MediaOps.dHashPairs(media, maxHamming = 3)
      },
      // by construction: a2 == a at every sample point (distance 0), the
      // reversed gradient flips all 64 bits, the garbage blob drops
      oracle = "SELECT * FROM (VALUES ('a', 'a2', 0)) AS t(ref_a, ref_b, hamming)"),
    // perceptual audio dedup: w2 is w1 at DOUBLE volume (byte dedup
    // can't pair them; the energy-ordering hash is volume-invariant),
    // w3 reverses the energy ramp and flips all 64 bits
    query("x_media_ahash", build = (s, _) => {
        import s.implicits._
        def wav(amp: Int => Int): Array[Byte] = { // 65 segs x 16 frames, 16-bit LE mono
          val n = 65 * 16
          val data = new Array[Byte](n * 2)
          for (i <- 0 until n) {
            val v = amp(math.min(64, i * 65 / n))
            data(2 * i) = (v & 0xff).toByte
            data(2 * i + 1) = ((v >> 8) & 0xff).toByte
          }
          val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(data), fmt, n.toLong)
          val bos = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(ais,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
          bos.toByteArray
        }
        val media = s.createDataset(Seq(
          ("w1", wav(seg => (seg + 1) * 250)),
          ("w2", wav(seg => (seg + 1) * 500)),
          ("w3", wav(seg => (65 - seg) * 250)),
          ("bad", "not audio".getBytes("UTF-8"))))
          .toDF("media_ref", "bytes")
        MediaOps.wavHashPairs(media, maxHamming = 3)
      },
      // by construction: doubling volume multiplies every segment energy
      // by 4 and preserves all 64 orderings (distance 0); the reversed
      // ramp flips them all; the garbage blob drops
      oracle = "SELECT * FROM (VALUES ('w1', 'w2', 0)) AS t(ref_a, ref_b, hamming)")
  )
}
