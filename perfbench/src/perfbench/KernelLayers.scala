package perfbench

import scala.collection.mutable

import graft.html.Html
import graft.pdf.{Kind, Lex, ObjectStorage, PagesExtractor, Storage, XRef}

/** Spark-free pass over a workload's own media that times each public
  * kernel call `Pdf.pdf2txt` makes, in the order it makes them. Runs on the
  * calling thread, so per-thread allocation is the pass's allocation. */
object KernelLayers {
  val phases: Seq[String] = Seq(
    "pdf.Lex.fromBytes_s", "pdf.XRef_s", "pdf.Storage_s", "pdf.PagesExtractor.init_s",
    "pdf.PagesExtractor.getText_s", "pdf.Lex.toUtf8_s", "html.Html_s")
  private val FromBytes = 0; private val XRefP = 1; private val StorageP = 2; private val Init = 3
  private val GetText = 4; private val ToUtf8 = 5; private val HtmlP = 6

  /** The trailer → /Root → /Pages walk of `Pdf.getText`, then the page
    * tree constructor (fonts and CMap discovery happen there). */
  private def openPages(buffer: String, crossRefOffset: Int, storage: ObjectStorage, enc: Lex.Dict): (Long, PagesExtractor) = {
    var trailerOffset = crossRefOffset
    if (buffer.regionMatches(crossRefOffset, "xref", 0, 4))
      trailerOffset = Lex.efind(buffer, "trailer", trailerOffset) + "trailer".length
    val trailer = Lex.getDictionaryData(buffer, trailerOffset)
    val rootPair = trailer.getOrElse("/Root", Lex.err("no /Root"))
    if (rootPair.kind != Kind.INDIRECT_OBJECT) Lex.err("/Root must be an indirect object")
    val root = storage.getObject(Lex.getIdGen(rootPair.raw)._1)
    if (root.kind != Kind.DICTIONARY) Lex.err("/Root must be a dictionary")
    val pagesPair = Lex.getDictionaryData(root.raw, 0).getOrElse("/Pages", Lex.err("no /Pages"))
    if (pagesPair.kind != Kind.INDIRECT_OBJECT) Lex.err("/Pages must be an indirect object")
    val pagesId = Lex.getIdGen(pagesPair.raw)._1
    (pagesId, new PagesExtractor(pagesId, storage, enc, buffer))
  }

  /** Every page's /Contents stream ids, page-tree order. */
  private def contentStreams(storage: ObjectStorage, pagesId: Long): Seq[(Long, Long)] = {
    val out = mutable.ArrayBuffer.empty[(Long, Long)]
    val seen = mutable.Set.empty[Long]
    def walk(id: Long): Unit = if (seen.add(id)) {
      val o = storage.getObject(id)
      if (o.kind == Kind.DICTIONARY) {
        val d = Lex.getDictionaryData(o.raw, 0)
        d.get("/Type").map(_.raw) match {
          case Some("/Pages") =>
            d.get("/Kids").filter(_.kind == Kind.ARRAY).foreach(k => Lex.getSet(k.raw).foreach(p => walk(p._1)))
          case Some("/Page") =>
            d.get("/Contents").foreach { c =>
              if (c.kind == Kind.ARRAY) out ++= Lex.getSet(c.raw)
              else if (c.kind == Kind.INDIRECT_OBJECT) {
                val ig = Lex.getIdGen(c.raw)
                val target = storage.getObject(ig._1)
                if (target.kind == Kind.ARRAY) out ++= Lex.getSet(target.raw) else out += ig
              }
            }
          case _ =>
        }
      }
    }
    walk(pagesId)
    out.toSeq
  }

  /** Times every phase over `media`; returns per-layer metrics by name. */
  def pass(media: Seq[Array[Byte]]): Seq[(String, Double)] = {
    val acc = new Array[Long](phases.size)
    var decodeNs = 0L
    var errors = 0
    var decodeErrors = 0
    val docNs = mutable.ArrayBuffer.empty[Double]
    val alloc0 = Jvm.threadAllocBytes
    val gc0 = Jvm.gcMs
    media.foreach { bytes =>
      val start = System.nanoTime()
      var last = start
      // the HTML kernel's content sniff runs on every blob, as in the job
      var phase = HtmlP
      def lap(next: Int): Unit = {
        val now = System.nanoTime()
        acc(phase) += now - last
        last = now
        phase = next
      }
      var replay: () => Unit = () => ()
      try {
        if (Html.looksHtml(bytes)) {
          Html.html2txt(bytes)
          lap(HtmlP)
        } else {
          lap(FromBytes)
          val buffer = Lex.fromBytes(bytes)
          lap(XRefP)
          val off0 = XRef.getCrossRefOffset(buffer)
          val (trailers, damaged, crossRefOffset) = XRef.getTrailerOffsets(buffer, off0)
          val id2offsets = if (damaged) XRef.getId2OffsetsBroken(buffer) else XRef.getId2Offsets(buffer, trailers)
          val enc = XRef.getEncryptData(buffer, trailers(0)._1, trailers(0)._2, id2offsets)
          lap(StorageP)
          val storage = new ObjectStorage(buffer, id2offsets, enc)
          lap(Init)
          val (pagesId, extractor) = openPages(buffer, crossRefOffset, storage, enc)
          lap(GetText)
          val text = extractor.getText()
          lap(ToUtf8)
          Lex.toUtf8(text)
          lap(ToUtf8)
          replay = () => contentStreams(storage, pagesId).foreach(ig => Storage.getStream(buffer, ig, storage, enc))
        }
      } catch {
        case _: Exception =>
          lap(phase)
          errors += 1
      }
      docNs += (last - start).toDouble
      // filters replay: a subset of getText's time, kept out of the doc time
      val r0 = System.nanoTime()
      try replay() catch { case _: Exception => decodeErrors += 1 }
      decodeNs += System.nanoTime() - r0
    }
    val kernelNs = acc.sum.toDouble
    def share(ix: Int*): Double = if (kernelNs > 0) ix.map(acc(_)).sum / kernelNs else Double.NaN
    phases.zip(acc).map { case (n, ns) => n -> ns / 1e9 } ++ Seq(
      "pdf.Filters.decode_s" -> decodeNs / 1e9,
      "pdf.Filters.decode_errors" -> decodeErrors.toDouble,
      "kernel.total_s" -> kernelNs / 1e9,
      "kernel.getText_share" -> share(GetText),
      "kernel.open_share" -> share(XRefP, StorageP, Init),
      "kernel.docs" -> media.size.toDouble,
      "kernel.errors" -> errors.toDouble,
      "kernel.bytes_in" -> media.map(_.length.toDouble).sum,
      "kernel.doc_us_p50" -> Stats.quantile(docNs.toSeq, 0.5) / 1e3,
      "kernel.doc_us_p99" -> Stats.quantile(docNs.toSeq, 0.99) / 1e3,
      "kernel.alloc_mb" -> (Jvm.threadAllocBytes - alloc0) / 1048576.0,
      "kernel.gc_s" -> (Jvm.gcMs - gc0) / 1e3)
  }

  /** µs/doc (median of `reps`) and error count for every PDF fixture, every
    * HTML fixture and one 20-page `Corpus.textPdf`, through the same
    * content-sniffing entry the job uses. */
  def families(reps: Int): Seq[(String, Double, Int)] = {
    val all = Gen.Fixtures.pdf.toSeq.map(f => f.name -> f.bytes) ++
      Gen.Fixtures.html.toSeq.map(f => f.name -> f.bytes) :+
      ("textPdf_20x30" -> graft.testkit.Corpus.textPdf("family", 20, 30)._1)
    all.map { case (name, bytes) =>
      var errs = 0
      val us = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        try graft.ExtractJob.extract1(bytes) catch { case _: Exception => errs += 1 }
        (System.nanoTime() - t0) / 1e3
      }
      (name, Stats.median(us), errs)
    }
  }
}
