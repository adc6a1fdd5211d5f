package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.TrainingOps
import graft.testkit.WarcBuilder
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{DocLabel, TimedDoc}
import QuerySupport._

/** Structured Streaming queries: fixture-scale streams through the
  * checkpointed ingest operators, each run as two AvailableNow waves or one
  * drained memory sink. */
object Streaming extends QueryFamily("streaming") {

  /** The fixture-scale streaming run: `body` gets a scratch dir (deleted,
    * after `cleanup`, at the query's next run — see [[scratchDir]]) and runs
    * with the shuffle partitions scoped to 4. A Structured Streaming
    * checkpoint materializes one state-store instance per shuffle partition
    * per stateful operator, so running a 30-row fixture stream at the
    * session's 32 partitions pays 32× the state-store setup/commit IO for
    * zero parallelism benefit (results are partition-count invariant — the
    * sbt specs run the same helpers at other widths). Production streams
    * size this to their key cardinality; the session default is restored
    * even on failure.
    *
    * The same fixture-scale reasoning puts `.coalesce(1)` on every tiny
    * stream-input write below: a 3-30-row wave written at the session's
    * 32-way default parallelism pays 32 task commits and leaves a
    * many-file directory for the file source to list per trigger, for
    * zero parallelism benefit (production ingest writes are sized by
    * data volume, not by this fixture constant). */
  private def fixtureStream(s: SparkSession, key: String, cleanup: => Unit = ())(
      body: String => DataFrame): DataFrame = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    try body(scratchDir(key, cleanup)) finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** A [[fixtureStream]] whose `stream` (built over the scratch dir) is
    * drained by one AvailableNow run into a nonce-named memory sink; the
    * sink's view is dropped at the query's next run. */
  private def drainToMemory(s: SparkSession, key: String, name: String, outputMode: String)(
      stream: String => DataFrame): DataFrame = {
    val sink = name + "_" + java.lang.Long.toHexString(System.nanoTime())
    fixtureStream(s, key, s.catalog.dropTempView(sink)) { tmp =>
      stream(tmp).writeStream.format("memory").queryName(sink)
        .outputMode(outputMode)
        .option("checkpointLocation", s"$tmp/_checkpoint")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
      s.table(sink)
    }
  }

  /** Event time `hour`:`minute` on 2026-01-01 UTC. */
  private def ts(hour: Int, minute: Int): java.sql.Timestamp =
    new java.sql.Timestamp(((hour * 60L + minute) * 60L) * 1000L + 1767225600000L)

  private val streamFixtures = Seq("f01_minimal_flate", "f03_filters")

  /** By-construction event-timed doc stream: three sources across two
    * hour windows, with planted duplicate texts at higher doc_ids. */
  private def streamDocs: Seq[TimedDoc] = Seq(
    TimedDoc(1, "alpha text one", "web", ts(0, 10)),
    TimedDoc(2, "beta text two", "web", ts(0, 40)),
    TimedDoc(3, "gamma text three", "books", ts(0, 55)),
    TimedDoc(4, "delta text four", "web", ts(1, 5)),
    TimedDoc(5, "epsilon text five", "books", ts(1, 20)),
    TimedDoc(101, "alpha text one", "web", ts(1, 30)),   // dup of 1
    TimedDoc(102, "gamma text three", "books", ts(1, 45))) // dup of 3

  /** Late-arriving label stream for the stream-stream join: one on-time
    * label per matched doc, plus the three drop cases the time-bound
    * contract defines — too late (doc 3: +95 min > the 60-min lag),
    * before the doc's event time (doc 5), and an unknown doc_id (999). */
  private def streamLabels: Seq[DocLabel] = Seq(
    DocLabel(1, 10, ts(0, 20)),   // +10 min: match
    DocLabel(2, 20, ts(0, 40)),   // exactly at event time: match (inclusive)
    DocLabel(3, 30, ts(2, 30)),   // +95 min > 60-min lag: drop
    DocLabel(4, 40, ts(1, 50)),   // +45 min: match
    DocLabel(5, 50, ts(1, 10)),   // 10 min BEFORE the doc: drop
    DocLabel(999, 60, ts(0, 30)), // unknown doc: drop
    DocLabel(101, 70, ts(1, 59))) // +29 min: match (dup doc is its own row)

  /** Second wave for the streaming dedup, processed in a separate
    * checkpointed run: doc 0 is a duplicate text with a SMALLER doc_id
    * than the wave-1 winner (id 4) — under the streaming first-seen-wins
    * contract it must be suppressed, where batch dedup would keep it. */
  private def streamDedupWave2: Seq[TimedDoc] = Seq(
    TimedDoc(0, "delta text four", "web", ts(2, 5)), // smaller-id LATE dup of 4
    TimedDoc(200, "zeta text six", "web", ts(2, 10)))

  /** Near-dedup stream waves: doc 3 repeats doc 1's sentence one more
    * time — a DIFFERENT text with the SAME 3-word shingle set, hence the
    * same minhash signature (the high-similarity tier the streaming
    * near-dedup suppresses and exact dedup would keep); doc 5 is an exact
    * dup of doc 2; doc 4 is unrelated and kept. */
  private def nearStreamWave1: Seq[TimedDoc] = Seq(
    TimedDoc(1, "x y z x y z", "web", ts(0, 0)),
    TimedDoc(2, "totally different content here now", "web", ts(0, 1)))
  private def nearStreamWave2: Seq[TimedDoc] = Seq(
    TimedDoc(3, "x y z x y z x y z", "web", ts(0, 2)), // near-dup of 1: same shingle set
    TimedDoc(4, "p q r s t u v", "web", ts(0, 3)),
    TimedDoc(5, "totally different content here now", "web", ts(0, 4))) // exact dup of 2

  /** Eval-set texts for the streaming decontamination gate: 14-15 words
    * each, so every one carries real (distinct) 13-grams. */
  private val decontamEvalTexts = Seq(
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima mike november",
    "one two three four five six seven eight nine ten eleven twelve thirteen fourteen fifteen")

  /** Decontamination stream waves: docs 2 (exact eval copy), 3 (embeds
    * eval 13-gram mid-text) and 6 (embeds the other eval's grams) are
    * contaminated and must be dropped at ingest; 1, 4, 5 are clean (doc
    * 4 is shorter than 13 tokens — its whole-text fallback gram matches
    * nothing). */
  private def decontamWave1: Seq[TimedDoc] = Seq(
    TimedDoc(1, "the quick brown fox jumps over the lazy dog and keeps on running today", "web", ts(0, 0)),
    TimedDoc(2, decontamEvalTexts(0), "web", ts(0, 1)),
    TimedDoc(3, "leading words then alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima mike closing words", "cc", ts(0, 2)),
    TimedDoc(4, "clean short doc", "books", ts(0, 3)))
  private def decontamWave2: Seq[TimedDoc] = Seq(
    TimedDoc(5, "another clean document with enough distinct words to look entirely real here", "web", ts(0, 4)),
    TimedDoc(6, "noise one two three four five six seven eight nine ten eleven twelve thirteen fourteen fifteen tail", "cc", ts(0, 5)))

  val defs: Seq[QueryDef] = Seq(
    // watermarked event-time windowed aggregation (streaming primitive)
    query("x_stream_window", build = (s, _) =>
        drainToMemory(s, "graft-swin", "x_stream_window", "complete") { tmp =>
          import s.implicits._
          s.createDataset(streamDocs).toDF().coalesce(1).write.parquet(s"$tmp/in")
          StreamingOps.windowedDocMetrics(
            s.readStream.schema(StreamingOps.timedDocSchema).parquet(s"$tmp/in"))
        },
      oracle =
        ("SELECT CAST(w AS BIGINT) AS win_start, source, CAST(nd AS BIGINT) AS n_docs, CAST(nc AS BIGINT) AS n_chars " +
          "FROM (VALUES " +
          // window 2026-01-01T00:00 UTC = epoch 1767225600
          "(1767225600, 'web', 2, 27), (1767225600, 'books', 1, 16), " +
          // window 01:00: web ids 4,101; books ids 5,102
          "(1767229200, 'web', 2, 29), (1767229200, 'books', 2, 33)" +
          ") AS t(w, source, nd, nc)")),
    // per-window streaming Count-Min sketch: heavy-hitter state bounded
    // at depth×width counters per open window regardless of traffic
    query("x_stream_cms", build = (s, _) =>
        drainToMemory(s, "graft-scms", "x_stream_cms", "complete") { tmp =>
          import s.implicits._
          s.createDataset(streamDocs).toDF().coalesce(1).write.parquet(s"$tmp/in")
          StreamingOps.windowedCms(
            s.readStream.schema(StreamingOps.timedDocSchema).parquet(s"$tmp/in"))
        },
      // same tokenization + md5 bucket math as q_cms_sketch, grouped per
      // tumbling-hour window of the fixture's event times
      oracle =
        ("""WITH docs AS (SELECT * FROM (VALUES
           |  (1767225600, 'alpha text one'), (1767225600, 'beta text two'), (1767225600, 'gamma text three'),
           |  (1767229200, 'delta text four'), (1767229200, 'epsilon text five'),
           |  (1767229200, 'alpha text one'), (1767229200, 'gamma text three')) v(w, text)),
           |wf AS (SELECT w, tok FROM (SELECT w, unnest(regexp_split_to_array(lower(text), '\s+')) AS tok FROM docs) t WHERE tok <> ''),
           |ds AS (SELECT CAST(unnest(range(4)) AS INTEGER) AS d)
           |SELECT CAST(w AS BIGINT) AS win_start, d,
           |  CAST(CAST('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || tok), 1, 8) AS BIGINT) % 256 AS INTEGER) AS bucket,
           |  CAST(COUNT(*) AS BIGINT) AS cnt
           |FROM wf CROSS JOIN ds GROUP BY 1, 2, 3""".stripMargin)),
    // stream-stream inner join: doc ingest enriched by a late-arriving
    // label stream, keyed on doc_id and time-bounded to a 1-hour lag —
    // both watermarks + the bound keep the join state finite; append
    // mode (the only stream-stream inner mode) via AvailableNow
    query("x_stream_join", build = (s, _) =>
        drainToMemory(s, "graft-sjoin", "x_stream_join", "append") { tmp =>
          import s.implicits._
          s.createDataset(streamDocs).toDF().coalesce(1).write.parquet(s"$tmp/docs")
          s.createDataset(streamLabels).toDF().coalesce(1).write.parquet(s"$tmp/labels")
          val labelSchema = org.apache.spark.sql.Encoders.product[DocLabel].schema
          StreamingOps.joinLabels(
            s.readStream.schema(StreamingOps.timedDocSchema).parquet(s"$tmp/docs"),
            s.readStream.schema(labelSchema).parquet(s"$tmp/labels"))
        },
      // Oracle for x_stream_join, DERIVED from the two fixture Seqs (not
      // hand-enumerated): the same key + time-bound predicate over VALUES
      // tables, so a fixture edit propagates to the oracle automatically.
      oracle = {
        val dRows = streamDocs.map(d =>
          s"(${d.doc_id}, '${d.source}', ${d.event_time.getTime / 1000})").mkString(", ")
        val lRows = streamLabels.map(l =>
          s"(${l.label_doc_id}, ${l.score}, ${l.label_time.getTime / 1000})").mkString(", ")
        s"""WITH d AS (SELECT * FROM (VALUES $dRows) t(doc_id, source, event_ts)),
           |l AS (SELECT * FROM (VALUES $lRows) t(label_doc_id, score, label_ts))
           |SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.source, CAST(l.score AS BIGINT) AS score,
           |  CAST(d.event_ts AS BIGINT) AS event_ts, CAST(l.label_ts AS BIGINT) AS label_ts
           |FROM d JOIN l ON d.doc_id = l.label_doc_id
           |  AND l.label_ts >= d.event_ts AND l.label_ts <= d.event_ts + 3600""".stripMargin
      }),
    // cross-batch streaming exact dedup via flatMapGroupsWithState
    query("x_stream_dedup", build = (s, _) => fixtureStream(s, "graft-sdedup") { tmp =>
        import s.implicits._
        // two checkpointed runs = two (or more) micro-batches: proves state
        // survives restart AND the first-seen-wins contract (wave 2 carries
        // a smaller-id duplicate that must stay suppressed)
        s.createDataset(streamDocs).toDF().coalesce(1).write.mode("append").parquet(s"$tmp/in")
        StreamingOps.runDedupStream(s, s"$tmp/in", s"$tmp/out")
        s.createDataset(streamDedupWave2).toDF().coalesce(1).write.mode("append").parquet(s"$tmp/in")
        StreamingOps.runDedupStream(s, s"$tmp/in", s"$tmp/out")
        s.read.parquet(s"$tmp/out/deduped").select(col("doc_id"), col("text"))
      },
      // Order-aware oracle: first-seen-wins across waves — within a wave the
      // minimal doc_id per text, across waves the earlier wave's winner.
      oracle = {
        val wave1 = streamDocs.groupBy(_.text).map { case (_, ds) => ds.minBy(_.doc_id) }.toSeq
        val seen = wave1.map(_.text).toSet
        val wave2 = streamDedupWave2.filterNot(d => seen.contains(d.text))
          .groupBy(_.text).map { case (_, ds) => ds.minBy(_.doc_id) }.toSeq
        val rows = (wave1 ++ wave2).sortBy(_.doc_id)
          .map(d => s"(${d.doc_id}, ${sqlStr(d.text)})")
        s"SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM (VALUES ${rows.mkString(", ")}) AS t(doc_id, text)"
      }),
    // cross-batch streaming NEAR-dedup: minhash-signature state keys —
    // wave 2's doc 3 is a different text with the same shingle set as
    // doc 1 and must be suppressed across the checkpointed restart
    query("x_stream_neardedup", build = (s, _) => fixtureStream(s, "graft-sneardedup") { tmp =>
        import s.implicits._
        s.createDataset(nearStreamWave1).toDF().coalesce(1).write.mode("append").parquet(s"$tmp/in")
        StreamingOps.runDedupStream(s, s"$tmp/in", s"$tmp/out", near = true)
        s.createDataset(nearStreamWave2).toDF().coalesce(1).write.mode("append").parquet(s"$tmp/in")
        StreamingOps.runDedupStream(s, s"$tmp/in", s"$tmp/out", near = true)
        s.read.parquet(s"$tmp/out/deduped").select(col("doc_id"), col("text"))
      },
      oracle =
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM (VALUES " +
          "(1, 'x y z x y z'), (2, 'totally different content here now'), " +
          "(4, 'p q r s t u v')) AS t(doc_id, text)"),
    // streaming boilerplate scrub: the line-hash set trained by a
    // batch job (boilerplateLineHashes over a "prior snapshot") rides
    // as a plan literal inside a stateless streaming rewrite, across
    // two checkpointed AvailableNow waves
    query("x_stream_boilerplate", build = (s, _) => fixtureStream(s, "graft-sboiler") { tmp =>
        import s.implicits._
        val prior = Seq((1L, "x\nFOOTER LINE"), (2L, "FOOTER LINE\ny"))
          .toDF("doc_id", "text")
        val hashes = TrainingOps.boilerplateLineHashes(prior).as[Long].collect()
        val wave1 = Seq(
          TimedDoc(11, "keep a\nFOOTER LINE\nkeep b", "web", ts(0, 0)),
          TimedDoc(12, "FOOTER LINE", "web", ts(0, 1)),
          TimedDoc(13, "clean only", "books", ts(0, 2)))
        val wave2 = Seq(TimedDoc(14, "also keep\nFOOTER LINE", "cc", ts(0, 3)))
        s.createDataset(wave1).toDF().coalesce(1).write.mode("append").parquet(s"$tmp/in")
        StreamingOps.runScrubBoilerplateStream(s, s"$tmp/in", hashes, s"$tmp/out")
        s.createDataset(wave2).toDF().coalesce(1).write.mode("append").parquet(s"$tmp/in")
        StreamingOps.runScrubBoilerplateStream(s, s"$tmp/in", hashes, s"$tmp/out")
        s.read.parquet(s"$tmp/out/scrubbed").select(col("doc_id"), col("clean_text"))
      },
      oracle =
        ("SELECT CAST(doc_id AS BIGINT) AS doc_id, clean_text FROM (VALUES " +
          "(11, 'keep a' || chr(10) || 'keep b'), (12, ''), (13, 'clean only'), " +
          "(14, 'also keep')) AS t(doc_id, clean_text)")),
    // streaming ingest text repair: mojibake reversal + NFC composition
    // as stateless native-codegen rewrites in a checkpointed plan,
    // across two AvailableNow runs (encoding repair happens BEFORE any
    // downstream state hashes the broken form)
    query("x_stream_repair", build = (s, _) => fixtureStream(s, "graft-srepair") { tmp =>
        import s.implicits._
        val wave1 = Seq(
          TimedDoc(21, "Caf\u00c3\u00a9", "web", ts(0, 0)),  // mojibake
          TimedDoc(22, "cafe\u0301", "web", ts(0, 1)),       // decomposed
          TimedDoc(23, "plain", "books", ts(0, 2)))
        val wave2 = Seq(TimedDoc(24, "don\u00e2\u20ac\u2122t", "cc", ts(0, 3)))
        s.createDataset(wave1).toDF().coalesce(1).write.mode("append").parquet(s"$tmp/in")
        StreamingOps.runRepairTextStream(s, s"$tmp/in", s"$tmp/out")
        s.createDataset(wave2).toDF().coalesce(1).write.mode("append").parquet(s"$tmp/in")
        StreamingOps.runRepairTextStream(s, s"$tmp/in", s"$tmp/out")
        s.read.parquet(s"$tmp/out/repaired").select(col("doc_id"), col("clean_text"))
      },
      // hand-derived repaired+composed forms (chr codes = true code points)
      oracle =
        ("SELECT CAST(doc_id AS BIGINT) AS doc_id, clean_text FROM (VALUES " +
          "(21, 'Caf' || chr(233)), (22, 'caf' || chr(233)), (23, 'plain'), " +
          "(24, 'don' || chr(8217) || 't')) AS t(doc_id, clean_text)")),
    // streaming ingest decontamination: the constant-folded bloom
    // literal + exact-hash verify as a stateless filter inside a
    // checkpointed streaming plan, across two AvailableNow runs
    query("x_stream_decontaminate", build = (s, _) => fixtureStream(s, "graft-sdecon") { tmp =>
        import s.implicits._
        val evalDocs = s.createDataset(decontamEvalTexts.zipWithIndex.map {
          case (t, i) => (9000L + i, t)
        }).toDF("doc_id", "text")
        s.createDataset(decontamWave1).toDF().coalesce(1).write.mode("append").parquet(s"$tmp/in")
        StreamingOps.runDecontaminateStream(s, s"$tmp/in", evalDocs, s"$tmp/out")
        s.createDataset(decontamWave2).toDF().coalesce(1).write.mode("append").parquet(s"$tmp/in")
        StreamingOps.runDecontaminateStream(s, s"$tmp/in", evalDocs, s"$tmp/out")
        s.read.parquet(s"$tmp/out/clean").select(col("doc_id"), col("text"))
      },
      oracle = {
        val clean = (decontamWave1 ++ decontamWave2).filter(d => Seq(1L, 4L, 5L).contains(d.doc_id))
        val rows = clean.map(d => s"(${d.doc_id}, ${sqlStr(d.text)})")
        s"SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM (VALUES ${rows.mkString(", ")}) AS t(doc_id, text)"
      }),
    // Structured-Streaming surface: file-source micro-batches through the
    // same operators, AvailableNow trigger, checkpointed sink
    query("x_stream_extract", build = (s, _) => fixtureStream(s, "graft-stream") { tmp =>
        val (docs, media) = graft.testkit.Corpus.perFixture(fx(streamFixtures: _*))(s)
        docs.coalesce(1).write.parquet(s"$tmp/docs")
        graft.streaming.StreamingExtract.start(s, s"$tmp/docs", media, s"$tmp/out", docs.schema)
          .awaitTermination()
        spanRows(s.read.parquet(s"$tmp/out/spans_out"))
      },
      oracle = extractionOracle(fx(streamFixtures: _*))),
    // continuous crawl-archive ingestion: two waves of WARC files through
    // the checkpointed stream — wave 2 only processes the NEW archives
    query("x_stream_warc", build = (s, _) => fixtureStream(s, "graft-swarc") { tmp =>
        implicit val sp: SparkSession = s
        import sp.implicits._
        def wave(files: Seq[(String, Array[Byte])]): Unit = {
          val df = sp.createDataset(files).toDF("warc_ref", "bytes")
          df.coalesce(1).write.mode("append").parquet(s"$tmp/in")
          graft.streaming.StreamingExtract
            .startWarc(sp, s"$tmp/in", s"$tmp/out", df.schema)
            .awaitTermination()
        }
        wave(Seq(("w1_plain", WarcBuilder.plain)))
        wave(Seq(("w2_gzip", WarcBuilder.gzipped), ("w3_bad", WarcBuilder.malformed)))
        sp.read.parquet(s"$tmp/out/spans_out")
          .select(col("doc_id"), col("ord"), col("kind"), col("text"), col("media_ref"))
      },
      oracle = warcOracle)
  )
}
