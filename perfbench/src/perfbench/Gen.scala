package perfbench

import graft.Model.{DocRow, InSpan, MediaRow}
import graft.testkit.{Corpus, HtmlBuilder, PdfBuilder}
import org.apache.spark.sql.SparkSession

/** Seeded corpus generator over the public testkit builders. The program
  * under test only ever sees the parquet this writes (`docs/`, `media/`);
  * the expected output spans stay on the benchmark's side.
  *
  * A media blob is described by a small recipe on the Spark driver and
  * built on the executors, so generation of the text corpus scales with cores. */
object Gen {
  /** kind: 0 = Corpus.textPdf, 1 = PdfBuilder fixture, 2 = HtmlBuilder
    * fixture, 3 = garbage payload (must end as an `error` span); `seed`
    * only matters for garbage. */
  final case class Recipe(ref: String, kind: Int, tag: String, pages: Int, lines: Int, fixture: Int, seed: Long)
  final case class Built(media_ref: String, bytes: Array[Byte], size_bucket: Int, exp_kind: String, exp_md5: String)

  /** Expected output span: (kind, md5 of text, media_ref), in doc order. */
  final case class ExpSpan(kind: String, md5: String, ref: String)

  final case class Generated(nDocs: Int, nMedia: Int, bytes: Long, expected: Map[String, Seq[ExpSpan]])

  /** Fixture sets are built once per JVM, not per media row. */
  object Fixtures {
    lazy val pdf: Array[PdfBuilder.Fixture] = PdfBuilder.all.toArray
    lazy val html: Array[PdfBuilder.Fixture] = HtmlBuilder.all.toArray
    lazy val garbage: PdfBuilder.Fixture = PdfBuilder.f16Garbage
  }

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def sizeBucket(n: Int): Int = 32 - Integer.numberOfLeadingZeros(math.max(1, n - 1))

  def build(r: Recipe): Built = {
    val (bytes, kind, text) = r.kind match {
      case 0 =>
        val (b, e) = Corpus.textPdf(r.tag, r.pages, r.lines)
        (b, "pdf_text", e)
      case 1 =>
        val f = Fixtures.pdf(r.fixture)
        (f.bytes, "pdf_text", f.expected)
      case 2 =>
        val f = Fixtures.html(r.fixture)
        (f.bytes, "html_text", f.expected)
      case _ =>
        // seed 0: the fixed garbage fixture; otherwise seeded junk lines.
        // Neither looks like HTML (no leading '<') nor has a %PDF- header.
        val b = if (r.seed == 0L) Fixtures.garbage.bytes else {
          val rnd = new java.util.Random(r.seed)
          (0 until 2 + rnd.nextInt(6)).map(_ => s"junk ${java.lang.Long.toHexString(rnd.nextLong())}")
            .mkString("", "\n", "\n").getBytes("US-ASCII")
        }
        (b, "error", "")
    }
    Built(r.ref, bytes, sizeBucket(bytes.length), kind, md5Hex(text))
  }

  /** Documents plus the recipes of the media they reference. */
  type Plan = (Seq[DocRow], Seq[Recipe])

  /** Seeded Fisher-Yates shuffle. */
  private def shuffled[A](xs: IndexedSeq[A], rnd: java.util.Random): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }

  // The seed permutes which document gets which media and makes every
  // text, but the multiset of media shapes is fixed for a corpus size:
  // every seed asks for the same amount of kernel work, so a run on one
  // seed measures the same thing as a run on another.

  /** extract_text: long Flate text PDFs, 10–30 pages × 30 lines spread
    * evenly over the media, 1 doc in 100 carrying a 96-page PDF; text, pdf,
    * text, pdf per doc; unique refs. */
  def textPlan(nDocs: Int, seed: Long): Plan = {
    val rnd = new java.util.Random(seed)
    val nMedia = nDocs * 2
    val nHeavy = math.max(1, nDocs / 100)
    val heavy = shuffled(0 until nDocs, rnd).take(nHeavy).toSet
    val pages = shuffled((0 until nMedia - nHeavy).map(k => 10 + k * 21 / (nMedia - nHeavy)), rnd).iterator
    val recipes = Seq.newBuilder[Recipe]
    val docs = (0 until nDocs).map { i =>
      val spans = (0 until 2).flatMap { j =>
        val ref = f"t$seed%d-m$i%06d-$j"
        val p = if (heavy(i) && j == 0) 96 else pages.next()
        recipes += Recipe(ref, 0, s"s$seed d$i m$j", p, 30, 0, 0L)
        Seq(InSpan("text", s"inline $i.$j ${rnd.nextInt(100000)}", "", j * 2),
          InSpan("pdf", "", ref, j * 2 + 1))
      }
      DocRow(f"doc$i%07d", spans)
    }
    (docs, recipes.result())
  }

  /** extract_mixed: many small interleaved docs with 2–5 spans (media at
    * the odd positions). Nine media spans in ten get a new blob, drawn with
    * the mix of the testkit's interleaved corpus (`Corpus.build`): half
    * one-page text PDFs of 1–5 lines, 40% fixtures and 10% garbage. The
    * fixtures cycle through all 27 PDF and 7 HTML fixtures in turn, as the
    * correctness tier of FIXTURES.md does. The tenth media span refers to a
    * blob an earlier doc already uses (extract-once). */
  def mixedPlan(nDocs: Int, seed: Long): Plan = {
    val rnd = new java.util.Random(seed)
    val nPdf = Fixtures.pdf.length
    val nFixtures = nPdf + Fixtures.html.length
    val spanCounts = shuffled((0 until nDocs).map(i => 2 + i % 4), rnd)
    val nSlots = spanCounts.map(_ / 2).sum
    // per 100 media spans: 45 text PDFs, 36 fixtures, 9 garbage, 10 shared
    val pattern = Seq.fill(45)(0) ++ Seq.fill(36)(1) ++ Seq.fill(9)(3) ++ Seq.fill(10)(4)
    val kinds = shuffled((0 until nSlots).map(k => pattern(k % pattern.size)), rnd)
    val counters = new Array[Int](5)
    val recipes = scala.collection.mutable.ArrayBuffer.empty[Recipe]
    var slot = 0
    val docs = (0 until nDocs).map { i =>
      val spans = (0 until spanCounts(i)).map { j =>
        if (j % 2 == 0) InSpan("text", s"inline text $i.$j ${rnd.nextInt(100000)}", "", j)
        else {
          val kind = if (kinds(slot) == 4 && recipes.isEmpty) 0 else kinds(slot)
          slot += 1
          val c = counters(kind)
          counters(kind) += 1
          val ref =
            if (kind == 4) recipes(rnd.nextInt(recipes.size)).ref
            else {
              val ref = f"x$seed%d-m${recipes.size}%07d"
              recipes += (kind match {
                case 0 => Recipe(ref, 0, s"s$seed d$i.$j", 1, 1 + c % 5, 0, 0L)
                case 1 if c % nFixtures < nPdf => Recipe(ref, 1, "", 0, 0, c % nFixtures, 0L)
                case 1 => Recipe(ref, 2, "", 0, 0, c % nFixtures - nPdf, 0L)
                case _ => Recipe(ref, 3, "", 0, 0, 0, if (c % 2 == 0) 0L else rnd.nextLong() | 1L)
              })
              ref
            }
          InSpan("pdf", "", ref, j)
        }
      }
      DocRow(f"doc$i%07d", spans)
    }
    (docs, recipes.toSeq)
  }

  /** Writes `dir/docs` and `dir/media` and returns the expected spans. */
  def write(spark: SparkSession, plan: Plan, dir: String): Generated = {
    import spark.implicits._
    val (docs, recipes) = plan
    val built = spark.createDataset(recipes).mapPartitions(_.map(build)).cache()
    built.select($"media_ref", $"bytes", $"size_bucket").as[MediaRow]
      .write.mode("overwrite").parquet(s"$dir/media")
    val exp = built.select($"media_ref", $"exp_kind", $"exp_md5", org.apache.spark.sql.functions.length($"bytes").cast("long"))
      .as[(String, String, String, Long)].collect()
    built.unpersist()
    spark.createDataset(docs).write.mode("overwrite").parquet(s"$dir/docs")
    val byRef = exp.map(e => e._1 -> ExpSpan(e._2, e._3, e._1)).toMap
    val expected = docs.map { d =>
      d.doc_id -> d.spans.map { s =>
        if (s.kind == "text") ExpSpan("text", md5Hex(s.text), "") else byRef(s.media_ref)
      }
    }.toMap
    Generated(docs.size, recipes.size, exp.map(_._4).sum, expected)
  }
}
