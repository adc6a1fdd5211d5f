package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.MediaOps
import graft.testkit.{Corpus, PdfBuilder, HtmlBuilder, WarcBuilder}
import QuerySupport._

/** Extraction queries: the kernel over one-doc-per-fixture corpora (one
  * query per PDF/HTML fixture family, each with an exact VALUES oracle built
  * from the by-construction expectations), the HTML DOM side outputs, the
  * SQL UDF surface, WARC ingestion and the resumable/time-travel job. */
object Extraction extends QueryFamily("extraction") {

  /** fixture family per extraction query — each exercises one §2 block */
  private val extractionSets: Seq[(String, Seq[PdfBuilder.Fixture])] = Seq(
    "x_pdf_classic" -> fx("f01_minimal_flate", "f14_damaged_xref"),
    "x_pdf_xrefstream" -> fx("f02_xrefstream_objstm"),
    "x_pdf_filters" -> fx("f03_filters", "f28_runlength"),
    "x_pdf_state" -> fx("f27_state_ops"),
    "x_pdf_crypto" -> fx("f04_rc4", "f05_aesv2"),
    "x_pdf_fonts" -> fx("f06_widths_diff", "f07_cid_tounicode", "f12_vertical_font"),
    "x_pdf_layout" -> fx("f10_multicolumn", "f11_zero_width", "f13_tj_kerning"),
    "x_pdf_structure" -> fx("f08_xobject", "f09_rotate", "f15_annots"),
    "x_pdf_errors" -> fx("f16_garbage", "f01_minimal_flate"),
    "x_pdf_fonts2" -> fx("f17_macroman", "f18_type3", "f22_truetype", "f25_fontfile1", "f26_cjk_gbk"),
    "x_pdf_structure2" -> fx("f19_prev_chain", "f20_quote_ops", "f21_contents_array",
      "f23_lzw_tiff", "f24_inline_image"),
    // HTML main-content leg (north rule "HTML boilerplate strip ... DOM
    // heuristics"): same pipeline, content-sniffed dispatch in the kernel
    "x_html_main" -> hx("h01_article", "h02_density", "h05_images"),
    "x_html_markup" -> hx("h03_markup", "h04_structure"),
    // charset sniffing (BOM + meta prescan): real crawls are ~10-15%
    // non-UTF-8 — a latin-1 page and a BOM'd UTF-16 page must extract
    // their accented/Greek text intact through the same kernel
    "x_html_charset" -> hx("h06_latin1", "h07_utf16"))

  private def hx(names: String*): Seq[PdfBuilder.Fixture] = {
    val all = HtmlBuilder.all.map(f => f.name -> f).toMap
    names.map(all)
  }

  /** (media_ref, bytes) rows of the named HTML fixtures. */
  private def htmlMedia(s: SparkSession, names: String*): DataFrame = {
    import s.implicits._
    hx(names: _*).map(f => (f.name, f.bytes)).toDF("media_ref", "bytes")
  }

  /** Run the extraction pipeline over a one-doc-per-fixture corpus. */
  private def extractionDF(spark: SparkSession, fixtures: Seq[PdfBuilder.Fixture]): DataFrame = {
    implicit val s: SparkSession = spark
    val (docs, media) = Corpus.perFixture(fixtures)
    spanRows(ExtractJob.extract(docs, media, s.sessionState.conf.numShufflePartitions))
  }

  private val udfFixtures = Seq("f01_minimal_flate", "f13_tj_kerning")

  /** run-1 commits all but the last; run-2 adds the last. */
  private val resumeFixtures = Seq("f01_minimal_flate", "f03_filters", "f09_rotate")

  val defs: Seq[QueryDef] = extractionSets.map { case (name, fixtures) =>
    query(name, build = (s, _) => extractionDF(s, fixtures),
      oracle = extractionOracle(fixtures))
  } ++ Seq(
    // interleaved-corpus referential integrity: dangling span refs and
    // orphan media blobs classified by one full-outer join on DISTINCT
    // refs; consistent refs produce no output
    query("x_ref_integrity", build = (s, _) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val docs = sp.createDataset(Seq(
          Model.DocRow("d1", Seq(Model.InSpan("text", "hello", "", 0),
            Model.InSpan("pdf", "", "m1", 1),
            Model.InSpan("image", "", "m_missing", 2))),
          Model.DocRow("d2", Seq(Model.InSpan("pdf", "", "m2", 0),
            Model.InSpan("pdf", "", "m1", 1))))).toDF()
        val media = sp.createDataset(Seq(
          Model.MediaRow("m1", Array[Byte](1), 0),
          Model.MediaRow("m2", Array[Byte](2), 0),
          Model.MediaRow("m_orphan", Array[Byte](3), 0))).toDF()
        MediaOps.refIntegrity(docs, media)
      },
      // hand-derived from the inline fixture: m_missing referenced but
      // not stored, m_orphan stored but never referenced; m1/m2 consistent
      oracle =
        ("SELECT media_ref, status FROM (VALUES ('m_missing', 'dangling'), " +
          "('m_orphan', 'orphan')) t(media_ref, status)")),
    // SQL-UDF surface, driver-gated with an exact VALUES oracle
    query("x_sql_udf", build = (s, _) => {
        graft.functions.PdfFunctions.register(s)
        import s.implicits._
        s.createDataset(fx(udfFixtures: _*).map(f => (f.name, f.bytes)))
          .toDF("media_ref", "bytes").createOrReplaceTempView("x_udf_media")
        s.sql("SELECT media_ref, pdf2txt(bytes) AS text, pdf2txt_safe(bytes) AS text_safe FROM x_udf_media")
      },
      oracle = {
        val rows = fx(udfFixtures: _*).map(f =>
          s"(${sqlStr(f.name)}, ${sqlStr(f.expected)}, ${sqlStr(f.expected)})")
        s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(media_ref, text, text_safe)"
      }),
    // Iceberg VERSION AS OF over the emulated commit protocol: after an
    // incremental second run, reading AS OF run1 returns exactly the
    // table the moment run1 committed; AS OF run2 the full table
    query("x_time_travel", build = (s, _) => {
        implicit val sp: SparkSession = s
        val (docs1, _) = Corpus.perFixture(fx(resumeFixtures.dropRight(1): _*))
        val (docs2, media) = Corpus.perFixture(fx(resumeFixtures: _*))
        val tmp = scratchDir("graft-travel")
        // fixture-scale runs: 4 partitions (the heavy-branch salt spread
        // and lineage agg width; outputs are partition-count invariant —
        // production runs size this to the cluster via numPartitions)
        ExtractJob.run(docs1, media, tmp, "run1", numPartitions = 4)
        ExtractJob.run(docs2, media, tmp, "run2", numPartitions = 4)
        def view(r: String) = spanRows(ExtractJob.readAsOf(tmp, r)).select(lit(r).as("as_of"), col("*"))
        view("run1").unionByName(view("run2"))
      },
      // Oracle for x_time_travel, derived from the fixture expectations:
      // AS OF run1 sees only run1's docs; AS OF run2 sees all.
      oracle = {
        val fs2 = fx(resumeFixtures: _*)
        val fs1 = fs2.dropRight(1)
        def row(asOf: String, f: PdfBuilder.Fixture) =
          s"('$asOf', ${sqlStr(f.name)}, 0, 'pdf_text', ${sqlStr(f.expected)}, ${sqlStr(f.name)})"
        val rows = fs1.map(row("run1", _)) ++ fs2.map(row("run2", _))
        s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(as_of, doc_id, ord, kind, text, media_ref)"
      }),
    // resume/crash-safety under the hard gate: run-1 commits a subset,
    // run-2 sees the full doc set. The committed union must hold exactly
    // one span row per doc (no dupes, no gaps), and per-run metrics rows
    // prove run-2 extracted ONLY the new doc (resume skipped committed
    // work instead of recomputing it).
    query("x_resume", build = (s, _) => {
        implicit val sp: SparkSession = s
        val (docs1, _) = Corpus.perFixture(fx(resumeFixtures.dropRight(1): _*))
        val (docs2, media) = Corpus.perFixture(fx(resumeFixtures: _*))
        val tmp = scratchDir("graft-resume")
        // fixture-scale runs: 4 partitions (see x_time_travel note)
        ExtractJob.run(docs1, media, tmp, "run1", numPartitions = 4)
        val spans = spanRows(ExtractJob.run(docs2, media, tmp, "run2", numPartitions = 4))
        val metrics = sp.read.parquet(s"$tmp/metrics/run=run1", s"$tmp/metrics/run=run2")
          .select(concat(lit("_metrics_"), col("run_id")).as("doc_id"),
            col("media_total").cast("int").as("ord"), lit("metrics").as("kind"),
            lit("").as("text"), lit("").as("media_ref"))
        spans.unionByName(metrics)
      },
      // By-construction oracle for x_resume: one span row per doc plus the
      // per-run metrics rows (run1 extracted 2 media, run2 only the 1 new).
      oracle = {
        val fs2 = fx(resumeFixtures: _*)
        val rows = fs2.map(f =>
          s"(${sqlStr(f.name)}, 0, 'pdf_text', ${sqlStr(f.expected)}, ${sqlStr(f.name)})") ++ Seq(
          s"('_metrics_run1', ${fs2.size - 1}, 'metrics', '', '')",
          "('_metrics_run2', 1, 'metrics', '', '')")
        s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(doc_id, ord, kind, text, media_ref)"
      }),
    // one interleaved document with text + pdf + html + garbage spans:
    // proves the kernel's per-payload content dispatch and span ordering
    query("x_html_mixed", build = (s, _) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val f01 = fx("f01_minimal_flate").head
        val h01 = hx("h01_article").head
        val g = PdfBuilder.f16Garbage
        val docs = sp.createDataset(Seq(Model.DocRow("mix01", Seq(
          Model.InSpan("text", "intro", "", 0),
          Model.InSpan("pdf", "", f01.name, 1),
          Model.InSpan("html", "", h01.name, 2),
          Model.InSpan("pdf", "", g.name, 3),
          Model.InSpan("text", "outro", "", 4))))).toDF()
        val media = sp.createDataset(Seq(f01, h01, g).map(f => Model.MediaRow(f.name, f.bytes))).toDF()
        spanRows(ExtractJob.extract(docs, media, 4))
      },
      // By-construction oracle for the mixed interleaved document.
      oracle = {
        val f01 = fx("f01_minimal_flate").head
        val h01 = hx("h01_article").head
        val rows = Seq(
          "('mix01', 0, 'text', 'intro', '')",
          s"('mix01', 1, 'pdf_text', ${sqlStr(f01.expected)}, ${sqlStr(f01.name)})",
          s"('mix01', 2, 'html_text', ${sqlStr(h01.expected)}, ${sqlStr(h01.name)})",
          "('mix01', 3, 'error', '', 'f16_garbage')",
          "('mix01', 4, 'text', 'outro', '')")
        s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(doc_id, ord, kind, text, media_ref)"
      }),
    // in-content image references from the HTML kernel (media spans a
    // downstream multimodal stage would fetch), drop contexts excluded
    query("x_html_images", build = (s, _) =>
        htmlMedia(s, "h01_article", "h05_images")
          .select(col("media_ref"), posexplode(graft.functions.PdfFunctions.htmlImageRefs(col("bytes"))).as(Seq("pos", "img_src"))),
      // h01 has no in-content images; h05 keeps only the non-drop-context one.
      oracle = {
        val rows = HtmlBuilder.h05ExpectedImages.zipWithIndex.map { case (src, i) =>
          s"('h05_images', $i, ${sqlStr(src)})"
        }
        s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(media_ref, pos, img_src)"
      }),
    // in-content outlinks from the HTML kernel (crawl-frontier feed):
    // nav/footer/figure links are drop-context boilerplate and excluded
    query("x_html_links", build = (s, _) =>
        htmlMedia(s, "h01_article", "h02_density", "h05_images")
          .select(col("media_ref"), posexplode(graft.functions.PdfFunctions.htmlLinkRefs(col("bytes"))).as(Seq("pos", "href"))),
      // By-inspection expected outlinks (hand-derived from the fixture HTML —
      // NOT recomputed through the kernel, so this is a real oracle).
      oracle = {
        val rows = Seq(
          "h01_article" -> HtmlBuilder.h01ExpectedLinks,
          "h02_density" -> HtmlBuilder.h02ExpectedLinks,
          "h05_images" -> HtmlBuilder.h05ExpectedLinks).flatMap { case (name, links) =>
          links.zipWithIndex.map { case (href, i) => s"(${sqlStr(name)}, $i, ${sqlStr(href)})" }
        }
        s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(media_ref, pos, href)"
      }),
    // labeled outlinks: (href, visible anchor text) — anchor text is the
    // classic relevance signal for the TARGET page (it feeds the
    // anchor-text index, not the source doc's own features)
    query("x_html_anchors", build = (s, _) =>
        htmlMedia(s, "h01_article", "h02_density", "h05_images")
          .select(col("media_ref"), posexplode(graft.functions.PdfFunctions.htmlAnchors(col("bytes"))).as(Seq("pos", "a")))
          .select(col("media_ref"), col("pos"), col("a._1").as("href"), col("a._2").as("anchor_text")),
      // By-inspection expected (href, anchor text) pairs.
      oracle = {
        val rows = Seq(
          ("h01_article", HtmlBuilder.h01ExpectedLinks, HtmlBuilder.h01ExpectedAnchorTexts),
          ("h02_density", HtmlBuilder.h02ExpectedLinks, HtmlBuilder.h02ExpectedAnchorTexts),
          ("h05_images", HtmlBuilder.h05ExpectedLinks, HtmlBuilder.h05ExpectedAnchorTexts))
          .flatMap { case (name, links, texts) =>
            links.zip(texts).zipWithIndex.map { case ((href, text), i) =>
              s"(${sqlStr(name)}, $i, ${sqlStr(href)}, ${sqlStr(text)})"
            }
          }
        s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(media_ref, pos, href, anchor_text)"
      }),
    // structured data from the DOM: in-content table cells as
    // (table, row, col, text) — implied </td>/</tr>, entity decode,
    // nested tables flatten into their cell, nav grids excluded
    query("x_html_tables", build = (s, _) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val t1 = "<html><head><title>T</title></head><body>" +
          "<nav><table><tr><td>menu</td></tr></table></nav>" +
          "<p>intro text here</p>" +
          "<table><thead><tr><th>name</th><th>price &amp; tax</th></tr></thead>" +
          "<tbody><tr><td>widget<td>9.99</tr>" +
          "<tr><td><p>multi</p><p>block</p></td><td>3</td></tr></tbody></table>" +
          "<table><tr><td>second</td><td></td></tr></table></body></html>"
        val t2 = "<table><tr><td>a<table><tr><td>inner</td></tr></table>b</td></tr>" +
          "</table><table><td>x</td></table>"
        sp.createDataset(Seq(("t1", t1.getBytes("UTF-8")), ("t2", t2.getBytes("UTF-8"))))
          .toDF("media_ref", "bytes")
          .select(col("media_ref"),
            explode(graft.functions.PdfFunctions.htmlTables(col("bytes"))).as("c"))
          .select(col("media_ref"), col("c._1").as("tbl"), col("c._2").as("row"),
            col("c._3").as("col"), col("c._4").as("cell"))
      },
      // hand-derived from the two inline fixtures (nav grid skipped, implied
      // closes, entity decode, intra-cell block boundary = space, nested
      // table flattens, td-without-tr lands on row 0, empty cell kept)
      oracle = ("SELECT * FROM (VALUES " +
        "('t1', 0, 0, 0, 'name'), ('t1', 0, 0, 1, 'price & tax'), " +
        "('t1', 0, 1, 0, 'widget'), ('t1', 0, 1, 1, '9.99'), " +
        "('t1', 0, 2, 0, 'multi block'), ('t1', 0, 2, 1, '3'), " +
        "('t1', 1, 0, 0, 'second'), ('t1', 1, 0, 1, ''), " +
        "('t2', 0, 0, 0, 'a inner b'), ('t2', 1, 0, 0, 'x')" +
        ") AS t(media_ref, tbl, row, col, cell)")),
    // head-level document metadata: title + meta description (entity-
    // decoded, charset-aware) — the per-page signals a training pipeline
    // stores alongside main content
    query("x_html_meta", build = (s, _) =>
        htmlMedia(s, "h01_article", "h05_images", "h06_latin1")
          .select(col("media_ref"),
            graft.functions.PdfFunctions.htmlDocMeta(col("bytes")).as("m"))
          .select(col("media_ref"), col("m._1").as("title"), col("m._2").as("description")),
      // Hand-derived (title, description) ground truth for x_html_meta.
      oracle = {
        val rows = Seq(
          ("h01_article", "Site — Title", ""),
          ("h05_images", "", ""),
          ("h06_latin1", "Café du Coin", "Le petit café — menu & horaires"))
          .map { case (r, t, d) => s"(${sqlStr(r)}, ${sqlStr(t)}, ${sqlStr(d)})" }
        s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(media_ref, title, description)"
      }),
    // WARC crawl-archive ingestion: container explode (one flatMap pass,
    // streaming per-record parse) feeding the SAME content-sniffed
    // extraction kernel. Plain and per-record-gzip archives must agree;
    // a malformed archive degrades to one error span (§2.9), no aborts.
    query("x_warc_extract", build = (s, _) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val warcs = sp.createDataset(Seq(
            ("w1_plain", WarcBuilder.plain),
            ("w2_gzip", WarcBuilder.gzipped),
            ("w3_bad", WarcBuilder.malformed)))
          .toDF("warc_ref", "bytes")
        operators.WarcOps.extractWarc(warcs, 8)
      },
      oracle = warcOracle)
  )
}
