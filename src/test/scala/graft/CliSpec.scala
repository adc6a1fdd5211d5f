package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.testkit.PdfBuilder

/** pdf2txt CLI surface (success paths only — failure paths call sys.exit,
  * which must not run inside the test JVM). */
class CliSpec extends AnyFunSuite {

  private def withCapturedOut(body: => Unit): String = {
    val bos = new java.io.ByteArrayOutputStream()
    Console.withOut(bos)(body)
    new String(bos.toByteArray, "UTF-8")
  }

  private def writeFixture(f: PdfBuilder.Fixture): String = {
    val p = java.nio.file.Files.createTempFile("cli-spec", ".pdf")
    java.nio.file.Files.write(p, f.bytes)
    p.toString
  }

  test("extracts a file to stdout") {
    val path = writeFixture(PdfBuilder.f01MinimalFlate)
    val out = withCapturedOut(Cli.main(Array(path)))
    assert(out == "Hello World\n", s"got [$out]")
  }

  test("--pages prints page-delimited blocks for a multi-page file") {
    val path = writeFixture(PdfBuilder.f03Filters)
    val out = withCapturedOut(Cli.main(Array("--pages", path)))
    assert(out.contains("--- page 1 ---") && out.contains("--- page 4 ---"), out)
    assert(out.contains("flate+a85") && out.contains("predictor!"), out)
  }

  test("batch mode concatenates multiple files in argument order") {
    val p1 = writeFixture(PdfBuilder.f01MinimalFlate)
    val p2 = writeFixture(PdfBuilder.f28RunLength)
    val out = withCapturedOut(Cli.main(Array(p1, p2)))
    assert(out == "Hello World\nrle aaaaaaaaaa ok\n", s"got [$out]")
  }

  test("extract and clean subcommands drive the Spark pipeline end-to-end") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      import spark.implicits._
      val base = java.nio.file.Files.createTempDirectory("cli-spark").toString
      val (docs, media) = graft.testkit.Corpus.perFixture(
        Seq(PdfBuilder.f01MinimalFlate, PdfBuilder.f03Filters))(spark)
      docs.write.parquet(s"$base/docs")
      media.write.parquet(s"$base/media")
      val out = withCapturedOut(
        Cli.main(Array("extract", s"$base/docs", s"$base/media", s"$base/out", "r1")))
      assert(out.trim == "committed run=r1 total_spans=2", s"got [$out]")
      assert(spark.read.parquet(s"$base/out/spans_out/run=r1").count() == 2)

      spark.createDataset(Seq(
        (1L, "a long enough document body to pass the fifty character quality gate easily"),
        (2L, "short"))).toDF("doc_id", "text")
        .write.parquet(s"$base/documents")
      val out2 = withCapturedOut(Cli.main(Array("clean", s"$base/documents", s"$base/cleaned")))
      assert(out2.trim.startsWith("kept_docs="), s"got [$out2]")
      assert(spark.read.parquet(s"$base/cleaned").columns.toSeq == Seq("doc_id"))

      // tokenize: learn greedy merges, persist the table, encode the corpus
      spark.createDataset(Seq((1L, "low low low"), (2L, "lower lower"), (3L, "newest")))
        .toDF("doc_id", "text").write.parquet(s"$base/tok_docs")
      val out3 = withCapturedOut(Cli.main(Array("tokenize", s"$base/tok_docs", s"$base/tok", "2")))
      assert(out3.trim == "merges=2 encoded_docs=3", s"got [$out3]")
      val merges = spark.read.parquet(s"$base/tok/merges")
        .orderBy("rank").as[(Int, String, Long)].collect().toSeq
      assert(merges == Seq((1, "l o", 5L), (2, "lo w", 5L)), s"got $merges")
      val enc = spark.read.parquet(s"$base/tok/encoded")
        .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
      // doc1: "low"×3 → [low] each = 3 tokens; doc2: "lower"×2 → [low,e,r] = 6;
      // doc3: "newest" → no learned merge applies = 6 chars
      assert(enc == Seq((1L, 3L, 3L), (2L, 2L, 6L), (3L, 1L, 6L)), s"got $enc")

      // repair: mojibake + NFC as one ingest rewrite
      spark.createDataset(Seq(
        (1L, "Caf\u00c3\u00a9"), (2L, "cafe\u0301"), (3L, "plain")))
        .toDF("doc_id", "text").write.parquet(s"$base/moji_docs")
      val out4 = withCapturedOut(Cli.main(Array("repair", s"$base/moji_docs", s"$base/repaired")))
      assert(out4.trim == "repaired_docs=3", s"got [$out4]")
      val rep = spark.read.parquet(s"$base/repaired")
        .orderBy("doc_id").as[(Long, String)].collect().toSeq
      assert(rep == Seq((1L, "Caf\u00e9"), (2L, "caf\u00e9"), (3L, "plain")), s"got $rep")

      // audit: dangling/orphan counts on an inconsistent corpus, clean on itself
      spark.createDataset(Seq(
        Model.DocRow("d1", Seq(Model.InSpan("pdf", "", "mX", 0))))).toDF()
        .write.parquet(s"$base/audit_docs")
      val out5 = withCapturedOut(Cli.main(Array("audit", s"$base/audit_docs", s"$base/media")))
      assert(out5.trim.startsWith("audit dangling=1 orphan="), s"got [$out5]")

      // index + search: the build-once-query-many retrieval surface
      spark.createDataset(Seq(
        (10L, "spark shuffle join hash join"),
        (11L, "sort merge join window"),
        (12L, "completely unrelated words")))
        .toDF("doc_id", "text").write.parquet(s"$base/search_docs")
      val out6 = withCapturedOut(Cli.main(Array("index", s"$base/search_docs", s"$base/idx")))
      assert(out6.trim.startsWith("indexed_postings="), s"got [$out6]")
      val out7 = withCapturedOut(Cli.main(Array("search", s"$base/idx", "hash", "join")))
      val ranks = out7.linesIterator.toSeq
      assert(ranks.nonEmpty && ranks.head.startsWith("rank=1 doc_id=10"), s"got [$out7]")
      assert(!out7.contains("doc_id=12"), s"non-matching doc retrieved: [$out7]")

      // split: deterministic partitioned train/val/test layout
      val out8 = withCapturedOut(Cli.main(Array("split", s"$base/search_docs", s"$base/splits")))
      assert(out8.trim.startsWith("split "), s"got [$out8]")
      val splitDirs = new java.io.File(s"$base/splits").listFiles()
        .map(_.getName).filter(_.startsWith("split=")).sorted
      assert(splitDirs.nonEmpty && splitDirs.forall(d =>
        Set("split=train", "split=val", "split=test").contains(d)), splitDirs.mkString(","))
    } finally spark.stop()
  }
}
