package graft.testkit

import graft.Model._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic interleaved-document corpus (seed=42 discipline): docs with
  * mixed text+pdf spans over a media dimension with a heavy size tail. The
  * expected output spans are known by construction. */
object Corpus {

  /** A parameterized text PDF: `pages` pages × `linesPerPage` lines. */
  def textPdf(tag: String, pages: Int, linesPerPage: Int): (Array[Byte], String) = {
    val objs = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
    objs += 1 -> "<< /Type /Catalog /Pages 2 0 R >>"
    val pageIds = (0 until pages).map(3 + _ * 2)
    objs += 2 -> s"<< /Type /Pages /Kids [${pageIds.map(k => s"$k 0 R").mkString(" ")}] /Count $pages >>"
    val fontId = 3 + pages * 2
    val expected = new StringBuilder
    (0 until pages).foreach { p =>
      val pageId = 3 + p * 2
      val contentId = pageId + 1
      val lines = (0 until linesPerPage).map(i => s"$tag p$p line$i")
      // 40-unit leading: far apart → one box per line, top-down order
      val content = lines.zipWithIndex.map { case (l, i) =>
        s"BT /F1 12 Tf 72 ${720 - i * 40} Td ($l) Tj ET"
      }.mkString(" ")
      objs += pageId -> s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Resources << /Font << /F1 $fontId 0 R >> >> /Contents $contentId 0 R >>"
      objs += contentId -> PdfBuilder.streamObj("/Filter /FlateDecode ", PdfBuilder.deflate(content))
      lines.foreach(l => expected.append(l).append('\n'))
    }
    objs += fontId -> "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    (PdfBuilder.build(objs.toSeq, 1), expected.toString)
  }

  final case class Built(docs: Seq[DocRow], media: Seq[MediaRow], expected: Seq[OutSpan])

  /** Distributed bench corpus: PDFs are synthesized ON THE EXECUTORS (the
    * builder is deterministic per media id), so corpus generation scales
    * with cores like the extraction itself. ~2 media per doc; 1% of docs
    * carry a 64-page monster (skew tail, north rule). Writes parquet and
    * returns (nDocs, nMedia). */
  def writeBenchCorpus(spark: SparkSession, nDocs: Int, outDir: String,
                       pdfsPerDoc: Int = 2, heavyEvery: Int = 100): (Long, Long) = {
    import spark.implicits._
    val nMedia = nDocs.toLong * pdfsPerDoc
    val media = spark.range(nMedia).mapPartitions { ids =>
      ids.map { id =>
        val doc = id / pdfsPerDoc
        val rnd = new java.util.Random(42L + id)
        val heavy = doc % heavyEvery == 0 && id % pdfsPerDoc == 0
        // realistic per-document weight (real PDFs are 10s-100s of KB, not
        // 3 KB): 10-30 pages typical, 96-page monsters on the skew tail
        val pages = if (heavy) 96 else 10 + rnd.nextInt(21)
        val (bytes, _) = textPdf(f"m$id", pages, linesPerPage = 30)
        MediaRow(f"m$id%08d", bytes)
      }
    }
    media.toDF().write.mode("overwrite").parquet(s"$outDir/media")
    val docs = spark.range(nDocs.toLong).map { i =>
      val spans = (0 until pdfsPerDoc).flatMap { j =>
        val mid = i * pdfsPerDoc + j
        Seq(InSpan("text", s"inline $i.$j", "", j * 2),
          InSpan("pdf", "", f"m$mid%08d", j * 2 + 1))
      }
      DocRow(f"doc$i%08d", spans)
    }
    docs.toDF().write.mode("overwrite").parquet(s"$outDir/docs")
    (nDocs.toLong, nMedia)
  }

  /** Input-span kind of a fixture: "html" for `HtmlBuilder`'s, else "pdf". */
  def spanKind(f: PdfBuilder.Fixture): String =
    if (f.name.startsWith("h")) "html" else "pdf"

  /** One document per fixture, each a single media span over that
    * fixture's bytes (doc_id = media_ref = fixture name): the (docs, media)
    * frames of the one-span-per-fixture corpora. */
  def perFixture(fixtures: Seq[PdfBuilder.Fixture])(implicit spark: SparkSession): (DataFrame, DataFrame) = {
    import spark.implicits._
    (fixtures.map(f => DocRow(f.name, Seq(InSpan(spanKind(f), "", f.name, 0)))).toDF(),
      fixtures.map(f => MediaRow(f.name, f.bytes)).toDF())
  }

  /** `nDocs` interleaved documents; ~1/heavyEvery media are 50-page monsters
    * (skew exercise); fixture PDFs (incl. the garbage one) are mixed in. */
  def build(nDocs: Int, seed: Long = 42L, heavyEvery: Int = 100): Built = {
    val fixtures = PdfBuilder.all
    val docs = Seq.newBuilder[DocRow]
    val media = Seq.newBuilder[MediaRow]
    val expected = Seq.newBuilder[OutSpan]
    var mediaIdx = 0
    (0 until nDocs).foreach { i =>
      val rnd = new java.util.Random(seed + i)
      val docId = f"doc$i%08d"
      val spans = Seq.newBuilder[InSpan]
      val outs = Seq.newBuilder[(String, String, String)] // kind, text, ref
      val nSpans = 2 + rnd.nextInt(4)
      (0 until nSpans).foreach { j =>
        val isPdf = j % 2 == 1 || rnd.nextInt(3) == 0
        if (!isPdf) {
          val t = s"inline text $i.$j ${rnd.nextInt(1000)}"
          spans += InSpan("text", t, "", j)
          outs += (("text", t, ""))
        } else {
          val ref = f"m$mediaIdx%08d"
          mediaIdx += 1
          val kind = rnd.nextInt(10)
          val (bytes, exp, ok) =
            if (i % heavyEvery == 0 && j == 1) {
              val (b, e) = textPdf(s"heavy$i", pages = 50, linesPerPage = 20)
              (b, e, true)
            } else if (kind == 9) {
              (PdfBuilder.f16Garbage.bytes, "", false)
            } else if (kind < 5) {
              val (b, e) = textPdf(s"doc$i.$j", pages = 1, linesPerPage = 1 + rnd.nextInt(5))
              (b, e, true)
            } else {
              val f = fixtures(rnd.nextInt(fixtures.size))
              (f.bytes, f.expected, true)
            }
          spans += InSpan("pdf", "", ref, j)
          media += MediaRow(ref, bytes)
          outs += ((if (ok) "pdf_text" else "error", if (ok) exp else "", ref))
        }
      }
      docs += DocRow(docId, spans.result())
      outs.result().zipWithIndex.foreach { case ((k, t, r), order) =>
        expected += OutSpan(docId, order, k, t, r)
      }
    }
    Built(docs.result(), media.result(), expected.result())
  }
}
