package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.testkit.Corpus

/** End-to-end Spark pipeline tests: span-sequence equality vs the
  * by-construction oracle, error tolerance, and snapshot resume. */
class ExtractJobSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("extract-job-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("extract-spec").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("span-sequence equality on a 64-doc interleaved corpus") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val built = Corpus.build(nDocs = 64, heavyEvery = 16)
    val docs = s.createDataset(built.docs).toDF()
    val media = s.createDataset(built.media).toDF()
    val out = tmpDir()
    val got = ExtractJob.run(docs, media, out, runId = "t1")
      .as[Model.OutSpan].collect().map(o => (o.doc_id, o.order, o.kind, o.text, o.media_ref)).sorted
    val want = built.expected.map(o => (o.doc_id, o.order, o.kind, o.text, o.media_ref)).sorted.toArray
    assert(got.length == want.length, s"row count ${got.length} vs ${want.length}")
    got.zip(want).foreach { case (g, w) => assert(g == w, s"span mismatch: got $g want $w") }
    // lineage rows exist and account for every media blob exactly once
    val lin = s.read.parquet(s"$out/lineage")
    val totalIn = lin.agg(org.apache.spark.sql.functions.sum("media_in")).head.getLong(0)
    assert(totalIn == built.media.size, s"lineage media_in $totalIn vs ${built.media.size}")
  }

  test("lineage and metrics by value: media, failures, reasons and bytes of each commit") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val built = Corpus.build(nDocs = 64, heavyEvery = 16)
    val media = s.createDataset(built.media).toDF()
    val bytesOf = built.media.map(m => m.media_ref -> m.bytes.length.toLong).toMap
    val garbage = built.expected.filter(_.kind == "error").map(_.media_ref).toSet
    val out = tmpDir()
    // two commits: the second is handed every doc and resumes past the first's
    val (first, rest) = built.docs.splitAt(24)
    for ((runId, input, extracted) <- Seq(("c1", first, first), ("c2", built.docs, rest))) {
      val refs = extracted.flatMap(_.spans).filter(_.kind != "text").map(_.media_ref).distinct
      val failedRows = ExtractJob.extractMedia(media, refs.toDF("media_ref"), 4).where(!$"ok").count()
      ExtractJob.run(s.createDataset(input).toDF(), media, out, runId, 4)
      val lin = s.read.parquet(s"$out/lineage/run=$runId")
        .as[(Int, Long, Long, Long, Long, Long, String, String, Map[String, Long])].collect()
      assert(s.read.parquet(s"$out/lineage/run=$runId").inputFiles.length == 1, "lineage is one file")
      assert(lin.map(_._1).distinct.length == lin.length, "one row per partition")
      assert(lin.forall(r => r._7 == runId && r._8 == out))
      val (mediaIn, mediaOk, mediaFailed, bytesIn) =
        (lin.map(_._2).sum, lin.map(_._3).sum, lin.map(_._4).sum, lin.map(_._5).sum)
      assert(mediaIn == refs.size, s"$runId media_in")
      assert(mediaFailed == failedRows, s"$runId media_failed")
      assert(mediaFailed == refs.count(garbage), s"$runId media_failed vs garbage refs")
      assert(mediaOk + mediaFailed == mediaIn)
      assert(bytesIn == refs.map(bytesOf).sum, s"$runId bytes_in")
      // failure reasons: per row they sum to media_failed; here every
      // failure is a garbage payload sniffed as pdf
      lin.foreach(r => assert(r._9.values.sum == r._4, s"$runId partition ${r._1}: ${r._9}"))
      assert(lin.flatMap(_._9.keys).forall(_.startsWith("pdf:")), lin.map(_._9).mkString(", "))
      assert(lin.map(_._9.values.sum).sum == refs.count(garbage))
      val metrics = s.read.parquet(s"$out/metrics/run=$runId")
        .as[(Long, Option[Long], Option[Long], String)].collect().toSeq
      assert(metrics == Seq((mediaIn, Some(mediaOk), Some(bytesIn), runId)), s"$runId metrics")
    }
  }

  test("a run with no media spans writes media_total = 0 and null sums") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val docs = s.createDataset(Seq(Model.DocRow("t1", Seq(Model.InSpan("text", "only text", "", 0))))).toDF()
    val media = s.createDataset(Corpus.build(nDocs = 2).media).toDF()
    val out = tmpDir()
    assert(ExtractJob.run(docs, media, out, runId = "e1").count() == 1)
    assert(s.read.parquet(s"$out/lineage/run=e1").count() == 0)
    val metrics = s.read.parquet(s"$out/metrics/run=e1")
      .as[(Long, Option[Long], Option[Long], String)].collect().toSeq
    assert(metrics == Seq((0L, None, None, "e1")))
  }

  test("lineage counts: a partition reported twice counts once; branches and reasons add") {
    import Model.{KernelCounts, LineageCounts}
    val a = KernelCounts(3, 2, 300, 30, Map("pdf:java.io.IOException" -> 1L))
    val b = KernelCounts(1, 0, 10, 1, Map("pdf:java.io.IOException" -> 1L))
    val driver = new LineageCounts
    def task(reports: ((Int, Int), KernelCounts)*): LineageCounts = {
      val t = driver.copyAndReset().asInstanceOf[LineageCounts]
      reports.foreach(t.add)
      t
    }
    driver.merge(task((0, 0) -> a))
    driver.merge(task((0, 0) -> a)) // the same partition, retried
    driver.merge(task((1, 0) -> b)) // the heavy branch's partition 0
    driver.merge(task((0, 1) -> b))
    assert(driver.byPartition == Map(0 -> (a + b), 1 -> b))
    assert((a + b) == KernelCounts(4, 2, 310, 31, Map("pdf:java.io.IOException" -> 2L)))
    assert((a + b).mediaFailed == 2)
    val c = task((0, 0) -> b)
    c.merge(task((0, 0) -> a)) // the last report wins
    assert(c.value == Map((0, 0) -> a))
  }

  test("resume from committed snapshot: no dupes, no gaps") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val built = Corpus.build(nDocs = 24, heavyEvery = 1000)
    val (firstHalf, secondHalf) = built.docs.splitAt(12)
    val media = s.createDataset(built.media).toDF()
    val out = tmpDir()
    // run 1: only half the docs → committed snapshot
    ExtractJob.run(s.createDataset(firstHalf).toDF(), media, out, runId = "r1")
    // run 2: the FULL input — must skip the committed doc_ids
    val after = ExtractJob.run(s.createDataset(built.docs).toDF(), media, out, runId = "r2")
    val got = after.as[Model.OutSpan].collect().map(o => (o.doc_id, o.order, o.kind, o.text, o.media_ref)).sorted
    val want = built.expected.map(o => (o.doc_id, o.order, o.kind, o.text, o.media_ref)).sorted.toArray
    assert(got.length == want.length, s"resume rows ${got.length} vs ${want.length} (dupes or gaps)")
    got.zip(want).foreach { case (g, w) => assert(g == w) }
    assert(secondHalf.nonEmpty)
  }

  test("time travel: readAsOf reconstructs every committed snapshot exactly") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val built = Corpus.build(nDocs = 18, heavyEvery = 1000)
    val (firstHalf, _) = built.docs.splitAt(9)
    val media = s.createDataset(built.media).toDF()
    val out = tmpDir()
    val afterR1 = ExtractJob.run(s.createDataset(firstHalf).toDF(), media, out, runId = "r1")
      .as[Model.OutSpan].collect().map(o => (o.doc_id, o.order, o.text)).sorted
    ExtractJob.run(s.createDataset(built.docs).toDF(), media, out, runId = "r2")
    assert(ExtractJob.committedSnapshots(out) == Seq("r1", "r2"))
    // AS OF r1 = exactly what run 1 returned, even after r2 committed
    val asOf1 = ExtractJob.readAsOf(out, "r1")
      .as[Model.OutSpan].collect().map(o => (o.doc_id, o.order, o.text)).sorted
    assert(asOf1.toSeq == afterR1.toSeq)
    // AS OF r2 = the full corpus
    val asOf2 = ExtractJob.readAsOf(out, "r2")
      .as[Model.OutSpan].collect().map(o => (o.doc_id, o.order, o.text)).sorted
    val want = built.expected.map(o => (o.doc_id, o.order, o.text)).sorted
    assert(asOf2.toSeq == want)
    // unknown run is an explicit error, not an empty frame
    intercept[IllegalArgumentException] { ExtractJob.readAsOf(out, "nope") }
  }

  test("splitCorpus: disjoint, exhaustive, repartition- and snapshot-stable") {
    val s = spark; import s.implicits._
    val docs = Seq.tabulate(2000)(i => (i.toLong, s"text $i")).toDF("doc_id", "text")
    val bounds = Seq("a0000000" -> "train", "d0000000" -> "val")
    val split = operators.TrainingOps.splitCorpus(docs, "doc_id", bounds, "test")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    // exhaustive: every row got exactly one split
    assert(split.size == 2000)
    // fractions near the hex ranges (train 62.5%, val 18.75%, test 18.75%)
    val n = split.values.groupBy(identity).map { case (k, v) => k -> v.size }
    assert(math.abs(n("train") - 1250) < 100, n.toString)
    assert(math.abs(n("val") - 375) < 75, n.toString)
    // repartition-stable
    val re = operators.TrainingOps.splitCorpus(docs.repartition(13), "doc_id", bounds, "test")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(re == split)
    // snapshot-stable: a doc keeps its split inside a different corpus
    val subset = operators.TrainingOps.splitCorpus(
        docs.where($"doc_id" < 500), "doc_id", bounds, "test")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    subset.foreach { case (id, sp2) => assert(sp2 == split(id)) }
  }

  test("vacuumRuns deletes only uncommitted (crashed) run dirs") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val built = Corpus.build(nDocs = 8, heavyEvery = 1000)
    val media = s.createDataset(built.media).toDF()
    val out = tmpDir()
    ExtractJob.run(s.createDataset(built.docs).toDF(), media, out, runId = "good")
    // simulate a crash: partial files in run dirs never added to _committed
    val orphan = new java.io.File(s"$out/spans_out/run=crashed")
    orphan.mkdirs()
    java.nio.file.Files.writeString(orphan.toPath.resolve("part-0.parquet"), "partial")
    new java.io.File(s"$out/lineage/run=crashed").mkdirs()
    // default min-age guard: a fresh (possibly in-flight) dir is NOT eligible
    assert(ExtractJob.vacuumRuns(out).isEmpty && orphan.exists())
    val removed = ExtractJob.vacuumRuns(out, minAgeMs = 0)
    assert(removed == Seq("crashed"), s"removed $removed")
    assert(!orphan.exists())
    assert(new java.io.File(s"$out/spans_out/run=good").exists()) // committed untouched
    // committed output still reads back complete
    assert(s.read.parquet(s"$out/spans_out/run=good").count() == built.expected.size)
  }

  test("hybrid skew routing: heavy path shuffles, small path doesn't, same results") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val built = Corpus.build(nDocs = 16, heavyEvery = 4)
    val media = s.createDataset(built.media).toDF()
    val refs = media.select("media_ref").distinct()
    def key(e: Model.Extracted) = (e.media_ref, e.ok, e.text)
    val small = ExtractJob.extractMedia(media, refs, 4) // all under 4 MB -> narrow
    val heavy = ExtractJob.extractMedia(media, refs, 4, heavyBucket = 0) // all routed via shuffle
    assert(!small.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning(size_bucket"))
    assert(heavy.queryExecution.executedPlan.toString.contains("Exchange"))
    assert(small.collect().map(key).sorted.toSeq == heavy.collect().map(key).sorted.toSeq)
  }

  test("one router: a NULL, an oversized and a typical size_bucket each come back exactly once") {
    implicit val s: SparkSession = spark
    import s.implicits._
    // heavyBucket = 4: buckets above it (payloads over 16 bytes) shuffle
    val media = Seq(
      ("typical", "image/png", Array.fill[Byte](9)(1), Some(Model.MediaRow.sizeBucket(9))),
      ("null_bucket", "image/png", Array.fill[Byte](100)(2), None),
      ("oversized", "image/png", Array.fill[Byte](100)(3), Some(Model.MediaRow.sizeBucket(100))))
      .toDF("media_ref", "kind", "bytes", "size_bucket")
    val refs = Seq("typical", "null_bucket", "oversized")
    val counts = new Model.LineageCounts
    s.sparkContext.register(counts)
    val extracted = ExtractJob.extractMedia(media, refs.toDF("media_ref"), 4, heavyBucket = 4,
      counts = Some(counts)).collect().map(_.media_ref)
    assert(extracted.sorted.toSeq == refs.sorted)
    // the NULL bucket ran with the typical row in the scan stage (branch 0)
    assert(counts.value.toSeq.groupMapReduce(_._1._1)(_._2.mediaIn)(_ + _) == Map(0 -> 2L, 1 -> 1L))
    val featurized = operators.MediaOps.featurize(media, dim = 4, numPartitions = 4, heavyBucket = 4)
      .collect().map(_.media_ref)
    assert(featurized.sorted.toSeq == refs.sorted)
  }

  test("poison documents become error spans, job survives") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val docs = s.createDataset(Seq(
      Model.DocRow("d1", Seq(Model.InSpan("pdf", "", "bad", 0), Model.InSpan("text", "ok", "", 1))))).toDF()
    val media = s.createDataset(Seq(
      Model.MediaRow("bad", "complete garbage".getBytes, 4))).toDF()
    val out = tmpDir()
    val got = ExtractJob.run(docs, media, out, runId = "t3").as[Model.OutSpan].collect().sortBy(_.order)
    assert(got.length == 2)
    assert(got(0).kind == "error" && got(0).media_ref == "bad")
    assert(got(1).kind == "text" && got(1).text == "ok")
  }

  test("size_bucket: a 4 MiB blob routes small, one byte more routes heavy; every row owner uses MediaRow") {
    implicit val s: SparkSession = spark
    import s.implicits._
    import Model.MediaRow.sizeBucket
    // extractMedia's default heavyBucket is 22: buckets above it shuffle
    assert(sizeBucket(4 << 20) == 22)
    assert(sizeBucket((4 << 20) + 1) == 23)
    assert(Seq(0, 1, 2, 3, 4, 5).map(sizeBucket(_)) == Seq(1, 1, 1, 2, 2, 3))
    // the column form (media written without size_bucket) agrees exactly,
    // also at powers of two where a floating-point log2 rounds up
    val ns = Seq(0, 1, 2, 3, 4, 5, 4 << 20, (4 << 20) + 1, 1 << 29, (1 << 29) + 1, Int.MaxValue)
    val viaCol = ns.toDF("n").select(sizeBucket(org.apache.spark.sql.functions.col("n")))
      .as[Int].collect().toSeq
    assert(viaCol == ns.map(sizeBucket(_)))
    // Corpus.build and WarcOps.explode fill the bucket from the payload
    Corpus.build(nDocs = 8, heavyEvery = 4).media.foreach(m =>
      assert(m.size_bucket == sizeBucket(m.bytes.length), m.media_ref))
    val warcs = Seq(("w1", testkit.WarcBuilder.plain), ("bad", testkit.WarcBuilder.malformed))
      .toDF("warc_ref", "bytes")
    val warcMedia = operators.WarcOps.explode(warcs)._2.as[Model.MediaRow].collect()
    assert(warcMedia.nonEmpty)
    warcMedia.foreach(m => assert(m.size_bucket == sizeBucket(m.bytes.length), m.media_ref))
  }
}
