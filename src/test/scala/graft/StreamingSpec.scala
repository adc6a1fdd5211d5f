package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.testkit.Corpus

/** Structured-Streaming extraction: files arriving in two waves are all
  * extracted exactly once (checkpointed restart between waves). */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("stream-stream join: time-bounded label enrichment, batch ≡ stream") {
    val s = spark
    import s.implicits._
    import graft.streaming.StreamingOps
    import StreamingOps.{TimedDoc, DocLabel}
    def ts(m: Int) = new java.sql.Timestamp(1767225600000L + m * 60000L)
    val docs = Seq(
      TimedDoc(1, "a", "w", ts(0)),
      TimedDoc(2, "b", "w", ts(5)),
      TimedDoc(3, "c", "b", ts(10)))
    val labels = Seq(
      DocLabel(1, 11, ts(30)),  // +30 min: match
      DocLabel(2, 22, ts(5)),   // at event time: match (inclusive bound)
      DocLabel(2, 23, ts(70)),  // +65 min > 60-min lag: drop
      DocLabel(3, 33, ts(5)),   // 5 min early: drop
      DocLabel(7, 77, ts(12))) // unknown doc: drop
    // batch path: watermarks are no-ops, the join predicate is the contract
    val batch = StreamingOps.joinLabels(
        s.createDataset(docs).toDF(), s.createDataset(labels).toDF())
      .as[(Long, String, Long, Long, Long)].collect().toSet
    assert(batch.map(r => (r._1, r._3)) == Set((1L, 11L), (2L, 22L)))
    // stream path: same inputs via files + AvailableNow, append sink
    val base = java.nio.file.Files.createTempDirectory("sjoin-spec").toString
    s.createDataset(docs).toDF().write.parquet(s"$base/docs")
    s.createDataset(labels).toDF().write.parquet(s"$base/labels")
    val docSchema = org.apache.spark.sql.Encoders.product[TimedDoc].schema
    val labelSchema = org.apache.spark.sql.Encoders.product[DocLabel].schema
    val q = StreamingOps.joinLabels(
        s.readStream.schema(docSchema).parquet(s"$base/docs"),
        s.readStream.schema(labelSchema).parquet(s"$base/labels"))
      .writeStream.format("memory").queryName("sjoin_spec")
      .outputMode("append")
      .option("checkpointLocation", s"$base/_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = s.table("sjoin_spec")
      .as[(Long, String, Long, Long, Long)].collect().toSet
    assert(streamed == batch)
  }

  test("stateful streaming dedup suppresses duplicates across restarts") {
    val s = spark
    import s.implicits._
    import graft.streaming.StreamingOps
    import StreamingOps.TimedDoc
    def ts(m: Int) = new java.sql.Timestamp(1767225600000L + m * 60000L)
    val base = java.nio.file.Files.createTempDirectory("sdedup-spec").toString
    val wave1 = Seq(TimedDoc(1, "aaa", "w", ts(0)), TimedDoc(2, "bbb", "w", ts(1)),
      TimedDoc(9, "aaa", "w", ts(2))) // in-batch dup
    val wave2 = Seq(TimedDoc(10, "bbb", "w", ts(3)), // cross-RUN dup: state must survive restart
      TimedDoc(11, "ccc", "w", ts(4)))
    s.createDataset(wave1).toDF().write.mode("append").parquet(s"$base/in")
    StreamingOps.runDedupStream(s, s"$base/in", s"$base/out")
    s.createDataset(wave2).toDF().write.mode("append").parquet(s"$base/in")
    StreamingOps.runDedupStream(s, s"$base/in", s"$base/out")
    val got = s.read.parquet(s"$base/out/deduped").select("doc_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 2L, 11L), s"got ${got.toSeq}")
  }

  test("streaming decontamination: bloom+exact literal filter, checkpointed waves, batch agreement") {
    val s = spark
    import s.implicits._
    import graft.streaming.StreamingOps
    import StreamingOps.TimedDoc
    def ts(m: Int) = new java.sql.Timestamp(1767225600000L + m * 60000L)
    val evalText = (1 to 14).map(i => s"ev$i").mkString(" ")
    val evalDocs = Seq((100L, evalText)).toDF("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("sdecon-spec").toString
    val wave1 = Seq(
      TimedDoc(1, (1 to 20).map(i => s"clean$i").mkString(" "), "w", ts(0)),
      TimedDoc(2, evalText, "w", ts(1)), // exact eval copy → dropped
      TimedDoc(3, s"prefix words $evalText suffix", "w", ts(2))) // embedded 13-gram → dropped
    val wave2 = Seq(
      TimedDoc(4, "short clean doc", "w", ts(3)),
      TimedDoc(5, s"late arrival with $evalText inside", "w", ts(4))) // dropped across restart
    s.createDataset(wave1).toDF().write.mode("append").parquet(s"$base/in")
    StreamingOps.runDecontaminateStream(s, s"$base/in", evalDocs, s"$base/out")
    s.createDataset(wave2).toDF().write.mode("append").parquet(s"$base/in")
    StreamingOps.runDecontaminateStream(s, s"$base/in", evalDocs, s"$base/out")
    val got = s.read.parquet(s"$base/out/clean").select("doc_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 4L), s"got ${got.toSeq}")
    // batch ≡ stream: the batch decontaminate tier keeps the same ids on
    // the identical combined input
    val all = s.createDataset(wave1 ++ wave2).toDF()
    val batch = operators.TrainingOps.decontaminate(all, evalDocs)
      .select("doc_id").as[Long].collect().sorted
    assert(batch.toSeq == got.toSeq, s"batch ${batch.toSeq} vs stream ${got.toSeq}")
  }

  test("streaming boilerplate scrub: plan-literal hash set, batch parity, checkpointed waves") {
    val s = spark
    import s.implicits._
    import graft.streaming.StreamingOps
    import StreamingOps.TimedDoc
    def ts(m: Int) = new java.sql.Timestamp(1767225600000L + m * 60000L)
    val base = java.nio.file.Files.createTempDirectory("sboiler-spec").toString
    // the "prior snapshot" a batch job trains the hash set on: both docs
    // share BOILER (df=2); every other line is unique
    val snapshot = Seq((1L, "a\nBOILER\nb"), (2L, "BOILER\nc")).toDF("doc_id", "text")
    val hashes = operators.TrainingOps.boilerplateLineHashes(snapshot).as[Long].collect()
    assert(hashes.length == 1)
    // batch parity on the snapshot itself: the literal-set rewrite equals
    // the full batch operator (same minDocs, same corpus)
    val viaFilter = snapshot.select(org.apache.spark.sql.functions.col("doc_id"),
      StreamingOps.scrubBoilerplateLines(hashes).as("clean_text"))
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    val viaBatch = operators.TrainingOps.removeBoilerplateLines(snapshot)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(viaFilter == viaBatch && viaBatch == Seq((1L, "a\nb"), (2L, "c")),
      s"filter $viaFilter batch $viaBatch")
    // two checkpointed streaming waves against the trained set
    val wave1 = Seq(TimedDoc(10, "x\nBOILER", "w", ts(0)), TimedDoc(11, "BOILER", "w", ts(1)))
    val wave2 = Seq(TimedDoc(12, "keep\nBOILER\nalso", "w", ts(2)))
    s.createDataset(wave1).toDF().write.mode("append").parquet(s"$base/in")
    StreamingOps.runScrubBoilerplateStream(s, s"$base/in", hashes, s"$base/out")
    s.createDataset(wave2).toDF().write.mode("append").parquet(s"$base/in")
    StreamingOps.runScrubBoilerplateStream(s, s"$base/in", hashes, s"$base/out")
    val got = s.read.parquet(s"$base/out/scrubbed")
      .orderBy("doc_id").select("doc_id", "clean_text").as[(Long, String)].collect().toSeq
    assert(got == Seq((10L, "x"), (11L, ""), (12L, "keep\nalso")), s"got $got")
  }

  test("boilerplateLineHashes: literal bounded by maxHashes, highest-df lines kept") {
    val s = spark
    import s.implicits._
    // 6 boilerplate lines with df 2..7 — more than the cap of 4
    val docs = (0 until 7).flatMap { d =>
      // line Lk appears in docs 0..k+1, so df(Lk) = k+2
      val lines = (0 until 6).collect { case k if d <= k + 1 => s"L$k" }
      if (lines.nonEmpty) Some((d.toLong, lines.mkString("\n"))) else None
    }.toDF("doc_id", "text")
    val capped = operators.TrainingOps.boilerplateLineHashes(docs, minDocs = 2, maxHashes = 4)
      .as[Long].collect().toSet
    assert(capped.size == 4, s"literal must be bounded by the cap, got ${capped.size}")
    // the survivors are exactly the 4 HIGHEST-df lines (L5 df=7 .. L2 df=4)
    val expect = Seq("L5", "L4", "L3", "L2").map(l =>
      docs.sparkSession.sql(s"SELECT xxhash64('$l')").as[Long].head())
    assert(capped == expect.toSet, "cap must keep the highest-df lines")
    // uncapped keeps all 6
    val full = operators.TrainingOps.boilerplateLineHashes(docs, minDocs = 2)
      .as[Long].collect().toSet
    assert(full.size == 6 && expect.forall(full))
  }

  test("streaming text repair: stateless codegen rewrites, batch parity, checkpointed waves") {
    val s = spark
    import s.implicits._
    import graft.streaming.StreamingOps
    import StreamingOps.TimedDoc
    def ts(m: Int) = new java.sql.Timestamp(1767225600000L + m * 60000L)
    val base = java.nio.file.Files.createTempDirectory("srepair-spec").toString
    val wave1 = Seq(
      TimedDoc(1, "Caf\u00c3\u00a9", "w", ts(0)),  // mojibake
      TimedDoc(2, "cafe\u0301", "w", ts(1)),       // decomposed
      TimedDoc(3, "plain", "w", ts(2)))
    val wave2 = Seq(TimedDoc(4, "don\u00e2\u20ac\u2122t", "w", ts(3)))
    s.createDataset(wave1).toDF().write.mode("append").parquet(s"$base/in")
    StreamingOps.runRepairTextStream(s, s"$base/in", s"$base/out")
    s.createDataset(wave2).toDF().write.mode("append").parquet(s"$base/in")
    StreamingOps.runRepairTextStream(s, s"$base/in", s"$base/out")
    val got = s.read.parquet(s"$base/out/repaired")
      .orderBy("doc_id").select("doc_id", "clean_text").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "Caf\u00e9"), (2L, "caf\u00e9"), (3L, "plain"),
      (4L, "don\u2019t")), s"got $got")
    // batch ≡ stream: the same expression chain over the same rows
    val batch = operators.TrainingOps.normalizeNfc(operators.TrainingOps.fixMojibake(
        s.createDataset(wave1 ++ wave2).toDF()))
      .orderBy("doc_id").select("doc_id", "text").as[(Long, String)].collect().toSeq
    assert(batch == got, s"batch $batch vs stream $got")
  }

  test("windowed CMS: per-window sketch, batch ≡ stream via the same function") {
    val s = spark
    import s.implicits._
    import graft.streaming.StreamingOps
    import StreamingOps.TimedDoc
    def ts(m: Int) = new java.sql.Timestamp(1767225600000L + m * 60000L)
    val docs = Seq(
      TimedDoc(1, "a b a", "w", ts(5)),
      TimedDoc(2, "b c", "w", ts(50)),
      TimedDoc(3, "a a a", "w", ts(70))) // second hour window
    val base = java.nio.file.Files.createTempDirectory("scms-spec").toString
    s.createDataset(docs).toDF().write.parquet(s"$base/in")
    val schema = org.apache.spark.sql.Encoders.product[TimedDoc].schema
    val q = StreamingOps.windowedCms(s.readStream.schema(schema).parquet(s"$base/in"))
      .writeStream.format("memory").queryName("scms_spec")
      .outputMode("complete")
      .option("checkpointLocation", s"$base/_checkpoint")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val stream = s.table("scms_spec")
      .as[(Long, Int, Int, Long)].collect().toSet
    // the same function runs on a batch frame (watermark is a no-op there)
    val batch = StreamingOps.windowedCms(s.createDataset(docs).toDF())
      .as[(Long, Int, Int, Long)].collect().toSet
    assert(stream == batch && stream.nonEmpty, s"stream $stream vs batch $batch")
    // state-bound sanity: two windows, each ≤ depth·width rows; counts per
    // (window, d) sum to that window's token count (5 and 3)
    val perWinD = stream.groupBy(r => (r._1, r._2)).view.mapValues(_.toSeq.map(_._4).sum)
    assert(perWinD.forall { case ((w, _), n) => n == (if (w == 1767225600L) 5L else 3L) },
      s"got $perWinD")
  }

  test("streaming dedup event-time TTL: idle keys expire and re-admit; fresh keys still dedup") {
    val s = spark
    import s.implicits._
    import graft.streaming.StreamingOps
    import StreamingOps.TimedDoc
    def ts(m: Int) = new java.sql.Timestamp(1767225600000L + m * 60000L)
    val base = java.nio.file.Files.createTempDirectory("sdedup-ttl").toString
    val ret = Some("5 minutes")
    s.createDataset(Seq(TimedDoc(1, "aaa", "w", ts(0)))).toDF()
      .write.mode("append").parquet(s"$base/in")
    StreamingOps.runDedupStream(s, s"$base/in", s"$base/out", ret)
    // wave 2 advances the watermark to ts(15): aaa (last seen ts(0)) is now
    // idle past the 5-minute TTL
    s.createDataset(Seq(TimedDoc(2, "bbb", "w", ts(20)))).toDF()
      .write.mode("append").parquet(s"$base/in")
    StreamingOps.runDedupStream(s, s"$base/in", s"$base/out", ret)
    // aaa re-appears after expiry: re-admitted (id 9 emitted); bbb's dup
    // arrives inside its TTL window: suppressed
    s.createDataset(Seq(TimedDoc(9, "aaa", "w", ts(30)), TimedDoc(10, "bbb", "w", ts(21)))).toDF()
      .write.mode("append").parquet(s"$base/in")
    StreamingOps.runDedupStream(s, s"$base/in", s"$base/out", ret)
    val got = s.read.parquet(s"$base/out/deduped").select("doc_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 2L, 9L), s"got ${got.toSeq}")
  }

  test("streaming near-dedup suppresses same-signature texts across restarts, keeps distinct ones") {
    val s = spark
    import s.implicits._
    import graft.streaming.StreamingOps
    import StreamingOps.TimedDoc
    def ts(m: Int) = new java.sql.Timestamp(1767225600000L + m * 60000L)
    val base = java.nio.file.Files.createTempDirectory("sneardedup-spec").toString
    // "a b c a b c" (2x) and (3x) share the same 3-shingle SET -> same
    // minhash signature -> near-dups even though the texts differ
    val wave1 = Seq(TimedDoc(1, "a b c a b c", "w", ts(0)),
      TimedDoc(2, "unrelated words entirely here", "w", ts(1)))
    val wave2 = Seq(TimedDoc(3, "a b c a b c a b c", "w", ts(2)), // near-dup of 1, across restart
      TimedDoc(4, "another clean document body", "w", ts(3)))
    s.createDataset(wave1).toDF().write.mode("append").parquet(s"$base/in")
    StreamingOps.runDedupStream(s, s"$base/in", s"$base/out", near = true)
    s.createDataset(wave2).toDF().write.mode("append").parquet(s"$base/in")
    StreamingOps.runDedupStream(s, s"$base/in", s"$base/out", near = true)
    val got = s.read.parquet(s"$base/out/deduped").select("doc_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 2L, 4L), s"got ${got.toSeq}")
    // sanity: batch minhash agrees the signatures match / differ as claimed
    val sig1 = operators.TrainingOps.minhashSig("a b c a b c")
    assert(sig1.sameElements(operators.TrainingOps.minhashSig("a b c a b c a b c")))
    assert(!sig1.sameElements(operators.TrainingOps.minhashSig("another clean document body")))
  }

  test("watermarked windowed metrics aggregate by event-time window") {
    val s = spark
    import s.implicits._
    import graft.streaming.StreamingOps.TimedDoc
    val base = java.nio.file.Files.createTempDirectory("swin-spec").toString
    def ts(m: Int) = new java.sql.Timestamp(1767225600000L + m * 60000L)
    val docs = Seq(TimedDoc(1, "xy", "a", ts(5)), TimedDoc(2, "zw", "a", ts(50)),
      TimedDoc(3, "qq", "b", ts(70)))
    s.createDataset(docs).toDF().write.parquet(s"$base/in")
    val schema = org.apache.spark.sql.Encoders.product[TimedDoc].schema
    val q = graft.streaming.StreamingOps.windowedDocMetrics(
      s.readStream.schema(schema).parquet(s"$base/in"))
      .writeStream.format("memory").queryName("swin_spec").outputMode("complete")
      .option("checkpointLocation", s"$base/_ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = s.table("swin_spec").as[(Long, String, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(got.toSeq == Seq((1767225600L, "a", 2L, 4L), (1767229200L, "b", 1L, 2L)), s"got ${got.toSeq}")
  }

  test("streaming extraction over the FULL fixture corpus equals the batch pipeline row-for-row") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val fixtures = (testkit.PdfBuilder.all :+ testkit.PdfBuilder.f16Garbage) ++ testkit.HtmlBuilder.all
    val (docs, media) = testkit.Corpus.perFixture(fixtures)
    // batch pipeline
    val batchRows = ExtractJob.extract(docs, media, 4)
      .select("doc_id", "order", "kind", "text", "media_ref")
      .as[(String, Int, String, String, String)].collect().sorted.toSeq
    // streaming pipeline over the same corpus
    val base = java.nio.file.Files.createTempDirectory("stream-parity").toString
    docs.write.parquet(s"$base/docs")
    streaming.StreamingExtract.start(s, s"$base/docs", media, s"$base/out", docs.schema)
      .awaitTermination(120000)
    val streamRows = s.read.parquet(s"$base/out/spans_out")
      .select("doc_id", "order", "kind", "text", "media_ref")
      .as[(String, Int, String, String, String)].collect().sorted.toSeq
    assert(batchRows.size == fixtures.size, s"batch rows ${batchRows.size}")
    assert(streamRows == batchRows, {
      val d1 = (batchRows.toSet -- streamRows.toSet).take(3)
      val d2 = (streamRows.toSet -- batchRows.toSet).take(3)
      s"batch-only: $d1; stream-only: $d2"
    })
  }

  test("streaming WARC ingestion equals batch extractWarc row-for-row, two checkpointed waves") {
    val s = spark
    import s.implicits._
    implicit val sp: SparkSession = s
    val all = Seq(("w1", testkit.WarcBuilder.plain),
      ("w2", testkit.WarcBuilder.gzipped), ("bad", testkit.WarcBuilder.malformed))
    val batchRows = operators.WarcOps.extractWarc(all.toDF("warc_ref", "bytes"), 4)
      .as[(String, Int, String, String, String)].collect().sorted.toSeq
    val base = java.nio.file.Files.createTempDirectory("stream-warc").toString
    val schema = all.toDF("warc_ref", "bytes").schema
    def wave(files: Seq[(String, Array[Byte])]): Unit = {
      files.toDF("warc_ref", "bytes").write.mode("append").parquet(s"$base/in")
      streaming.StreamingExtract.startWarc(s, s"$base/in", s"$base/out", schema)
        .awaitTermination(120000)
    }
    wave(all.take(1)); wave(all.drop(1))
    val streamRows = s.read.parquet(s"$base/out/spans_out")
      .select("doc_id", "ord", "kind", "text", "media_ref")
      .as[(String, Int, String, String, String)].collect().sorted.toSeq
    assert(streamRows == batchRows)
    // exactly-once: wave 2 must not have re-emitted wave 1's archive
    assert(streamRows.size == batchRows.size)
  }

  test("two file waves, checkpointed, exactly-once output") {
    val s = spark
    import s.implicits._
    val built = Corpus.build(nDocs = 12, heavyEvery = 1000)
    val media = s.createDataset(built.media).toDF()
    val base = java.nio.file.Files.createTempDirectory("stream-spec").toString
    val docsDir = s"$base/docs"
    val outDir = s"$base/out"
    val (wave1, wave2) = built.docs.splitAt(6)
    val schema = s.createDataset(built.docs).toDF().schema

    s.createDataset(wave1).toDF().write.mode("append").parquet(docsDir)
    val q1 = streaming.StreamingExtract.start(s, docsDir, media, outDir, schema)
    q1.awaitTermination(60000)

    s.createDataset(wave2).toDF().write.mode("append").parquet(docsDir)
    val q2 = streaming.StreamingExtract.start(s, docsDir, media, outDir, schema)
    q2.awaitTermination(60000)

    val got = s.read.parquet(s"$outDir/spans_out")
      .select("doc_id", "order", "kind", "text", "media_ref")
      .as[(String, Int, String, String, String)].collect().sorted
    val want = built.expected.map(o => (o.doc_id, o.order, o.kind, o.text, o.media_ref)).sorted.toArray
    assert(got.length == want.length, s"streaming rows ${got.length} vs ${want.length}")
    got.zip(want).foreach { case (g, w) => assert(g == w) }
  }
}
