package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import graft.expressions.NativeFunctions
import graft.operators.TrainingOps

/** Streaming operators beyond the micro-batch extraction front end:
  * watermarked event-time windowing and custom keyed state — the two
  * Structured-Streaming primitives a continuously-fed training-data
  * pipeline needs (ingest metrics per event-time window; exact dedup
  * across micro-batches without reprocessing history). */
object StreamingOps {

  case class TimedDoc(doc_id: Long, text: String, source: String, event_time: java.sql.Timestamp)

  /** The schema of a TimedDoc parquet directory, the file source of the
    * stream runners here and of the streaming queries. */
  private[graft] lazy val timedDocSchema = Encoders.product[TimedDoc].schema

  /** Watermarked tumbling-window ingest metrics: docs and bytes per
    * (event-time window, source). The watermark bounds state: windows
    * older than it are finalized and dropped — at 100 TB/day the state
    * store holds hours, not history. */
  def windowedDocMetrics(docs: DataFrame, watermark: String = "10 minutes",
                         win: String = "1 hour"): DataFrame =
    docs.withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), win), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(length(col("text"))).as("n_chars"))
      .select(unix_timestamp(col("window.start")).as("win_start"),
        col("source"), col("n_docs"), col("n_chars"))

  /** Watermarked per-window Count-Min sketch — the streaming
    * heavy-hitters primitive: per event-time window, the word-frequency
    * CMS counter matrix ((win_start, d, bucket, cnt) rows). The state
    * store holds ≤ depth·width counters PER OPEN WINDOW regardless of
    * traffic — the sketch replaces the unbounded per-word hash aggregate
    * that makes exact streaming top-k impossible at 100 TB/day — and the
    * watermark drops finalized windows. Same tokenization and bucket
    * expressions as the batch [[graft.operators.SketchOps.cmsSketch]],
    * and the function itself runs on a batch frame (the watermark is a
    * no-op there), which is what the batch ≡ stream spec pins. */
  def windowedCms(docs: DataFrame, watermark: String = "10 minutes",
                  win: String = "1 hour", depth: Int = 4, width: Int = 256): DataFrame =
    TrainingOps.wordRows(docs.withWatermark("event_time", watermark), "w", col("event_time"))
      .select(col("event_time"), col("w"),
        explode(sequence(lit(0), lit(depth - 1))).as("d"))
      .select(col("event_time"), col("d"),
        graft.operators.SketchOps.cmsBucket(col("d"), col("w"), width).as("bucket"))
      .groupBy(window(col("event_time"), win), col("d"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_timestamp(col("window.start")).as("win_start"),
        col("d"), col("bucket"), col("cnt"))

  case class DocLabel(label_doc_id: Long, score: Long, label_time: java.sql.Timestamp)

  /** Stream-stream inner join: enrich the document ingest stream with a
    * second stream of late-arriving per-doc labels (classifier scores,
    * moderation verdicts) — the production shape where both sides are
    * unbounded and neither can be a static broadcast table. The join is
    * keyed on doc_id and time-bounded: a label matches only inside
    * [event_time, event_time + maxLagSeconds]. That bound plus the two
    * watermarks is what makes the state FINITE — Spark buffers each side
    * only until the other side's watermark passes the last instant a
    * match could still arrive, then evicts; without the time bound the
    * doc-side state would grow forever. Inner join in append mode: a row
    * is emitted exactly once, when both sides have arrived.
    *
    * The same function runs on batch frames (watermarks are no-ops
    * there), so batch ≡ stream parity is pinned by construction, like
    * [[windowedCms]]. Late labels (beyond the lag), early labels (before
    * the doc's event time), and labels for unknown docs all drop — the
    * deterministic contract the oracle checks row for row. */
  def joinLabels(docs: DataFrame, labels: DataFrame,
                 docWatermark: String = "10 minutes",
                 labelWatermark: String = "10 minutes",
                 maxLagSeconds: Long = 3600L): DataFrame =
    docs.withWatermark("event_time", docWatermark)
      .join(labels.withWatermark("label_time", labelWatermark),
        col("doc_id") === col("label_doc_id") &&
          col("label_time") >= col("event_time") &&
          col("label_time") <= col("event_time") + expr(s"INTERVAL $maxLagSeconds SECONDS"))
      .select(col("doc_id"), col("source"), col("score"),
        unix_timestamp(col("event_time")).as("event_ts"),
        unix_timestamp(col("label_time")).as("label_ts"))

  /** Cross-batch streaming exact dedup via flatMapGroupsWithState: keyed
    * by xxhash64(text) — 8-byte keys, NOT the text itself, so the
    * checkpointed state store holds one long + one bit per distinct
    * document instead of the corpus (collision-tolerant, the same
    * trade-off as the batch hash-dedup). A restart resumes dedup exactly
    * where it left off.
    *
    * CONTRACT — first-seen-wins: the first micro-batch that sees a text
    * hash emits that batch's minimal doc_id; every later occurrence is
    * suppressed, even one with a smaller doc_id (Append mode cannot
    * retract an emitted row). This differs from the batch dedup's global
    * min-doc_id exactly when a smaller id arrives in a LATER batch — the
    * driver-gated x_stream_dedup oracle encodes the order-aware
    * expectation.
    *
    * `retention` (e.g. Some("30 minutes")) bounds the state store for a
    * continuously-fed pipeline: a key idle in event time is dropped and
    * its next occurrence re-admitted as new. The same duration serves as
    * the watermark delay (late-arrival tolerance) AND the TTL, and expiry
    * compares against the watermark, so the exact guarantee is: a key is
    * KEPT for at least `retention` of event-time idleness and DROPPED by
    * at most 2×`retention` (idle ≥ TTL relative to the watermark, which
    * itself trails max event time by the delay). State is therefore
    * bounded by ~2×retention of traffic. The TTL is event-time — a
    * watermark + EventTimeTimeout — NOT processing-time:
    * processing-time timeouts keep the micro-batch engine spinning empty
    * batches under Trigger.AvailableNow (the query never terminates), and
    * event-time expiry is deterministic under replay. State stores the
    * key's newest event-time (8 bytes); expiry is enforced both by fired
    * timeouts (keys idle across later batches) and lazily on arrival (a
    * key whose stored time has fallen behind watermark−TTL re-admits even
    * if its timeout never got a batch to fire in). Default None = keep
    * state forever — exact dedup for bounded backfills.
    *
    * CHECKPOINT COMPATIBILITY: the keyed state encoding is a Long (the
    * key's newest event-time); earlier revisions stored a Boolean.
    * flatMapGroupsWithState does not migrate state schemas, so a
    * checkpoint written by the Boolean revision cannot be resumed by this
    * one — upgrading requires a fresh checkpoint directory (re-seeding
    * dedup state from the committed output if first-seen history must be
    * preserved). */
  def dedupByTextStream(docs: Dataset[TimedDoc],
                        retention: Option[String] = None): Dataset[TimedDoc] =
    dedupStreamByKey(docs, retention)(d =>
      org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(d.text),
        org.apache.spark.sql.types.StringType, 42L))

  /** Streaming NEAR-duplicate suppression (high-similarity tier): the
    * state key is the document's full 16-hash minhash signature (folded
    * to 64 bits), computed by the SAME `TrainingOps.minhashSig` the batch
    * LSH pipeline uses. Two texts collide exactly when their 3-word
    * shingle SETS produce an identical signature — all 16 min-hashes
    * equal, which for estimated jaccard j happens with probability j^16,
    * i.e. this catches the j ≳ 0.95 near-dup tier (a sentence repeated 2×
    * vs 3×, trailing-whitespace variants, reshuffled duplicate
    * boilerplate) while the banding tier (any-band match, j ≥ 0.5)
    * remains a batch op — multi-key verdicts per doc don't fit a single
    * flatMapGroupsWithState key. Same state contract as
    * [[dedupByTextStream]]: first-seen-wins, 8-byte keys, optional
    * event-time TTL. */
  def dedupNearStream(docs: Dataset[TimedDoc],
                      retention: Option[String] = None): Dataset[TimedDoc] =
    dedupStreamByKey(docs, retention) { d =>
      val sig = TrainingOps.minhashSig(d.text)
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < sig.length) { h = (h ^ sig(i)) * 0x100000001b3L; i += 1 }
      h
    }

  private def dedupStreamByKey(docs: Dataset[TimedDoc], retention: Option[String])
                              (key: TimedDoc => Long): Dataset[TimedDoc] = {
    import docs.sparkSession.implicits._
    val retMs = retention.map(parseDurationMs)
    val in = retention.map(r => docs.withWatermark("event_time", r)).getOrElse(docs)
    val timeoutConf =
      if (retention.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    in.groupByKey(key)
      .flatMapGroupsWithState[Long, TimedDoc](OutputMode.Append, timeoutConf) {
        (_: Long, rows: Iterator[TimedDoc], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove() // idle past the TTL: forget the key
            Iterator.empty
          } else {
            val batch = rows.toArray // one key's rows within one batch
            val newest = batch.iterator.map(_.event_time.getTime).max
            def arm(last: Long): Unit = retMs.foreach { r =>
              // deadline must sit above the current watermark or Spark rejects it
              state.setTimeoutTimestamp(math.max(last + r, state.getCurrentWatermarkMs() + 1))
            }
            val expired = retMs.exists(r =>
              state.exists && state.get + r <= state.getCurrentWatermarkMs())
            if (state.exists && !expired) {
              val last = math.max(state.get, newest)
              state.update(last)
              arm(last) // sliding TTL re-arm
              Iterator.empty
            } else {
              state.update(newest)
              arm(newest)
              Iterator.single(batch.minBy(_.doc_id))
            }
          }
      }
  }

  /** "N seconds|minutes|hours|days" → milliseconds (watermark-delay syntax). */
  private def parseDurationMs(s: String): Long = {
    val m = "(\\d+)\\s*(millisecond|second|minute|hour|day)s?".r.findFirstMatchIn(s.trim)
      .getOrElse(throw new IllegalArgumentException(s"unparseable retention: $s"))
    val unit = m.group(2) match {
      case "millisecond" => 1L
      case "second" => 1000L
      case "minute" => 60000L
      case "hour" => 3600000L
      case "day" => 86400000L
    }
    m.group(1).toLong * unit
  }

  /** Run the streaming dedup over a file-source directory with an
    * AvailableNow trigger; returns after the sink is complete.
    * `near = true` routes through [[dedupNearStream]] (minhash-signature
    * keys) instead of exact text keys — use a fresh checkpoint directory
    * when switching modes (different key space). */
  def runDedupStream(spark: SparkSession, inDir: String, outDir: String,
                     retention: Option[String] = None, near: Boolean = false): Unit = {
    import spark.implicits._
    runFileStream(spark, inDir, outDir, "deduped") { df =>
      val in = df.as[TimedDoc]
      if (near) dedupNearStream(in, retention) else dedupByTextStream(in, retention)
    }
  }

  /** The file-stream runner of every `run*Stream`: `transform` over the
    * TimedDoc parquet stream of `inDir`, one AvailableNow run appending
    * parquet to `outDir/sink`, checkpointed in `outDir/_checkpoint` (a
    * restart resumes from the last committed batch); returns when the
    * sink is complete. */
  private def runFileStream(spark: SparkSession, inDir: String, outDir: String, sink: String)
                           (transform: DataFrame => Dataset[_]): Unit =
    transform(spark.readStream.schema(timedDocSchema).parquet(inDir)).writeStream
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .option("path", s"$outDir/$sink")
      .start()
      .awaitTermination()

  /** Ingest-time decontamination predicate (keep = true): a doc passes
    * iff NONE of its word `n`-grams appears in the eval set. Built as a
    * STATELESS per-row filter so it drops contaminated docs inside any
    * streaming plan — no joins, no state store, deterministic under
    * micro-batch replay:
    *   1. the eval grams' bloom filter rides as a constant-folded BINARY
    *      literal (the same `graft_bloom_contains` expression the batch
    *      tier embeds) — ~99% of grams rejected without touching stage 2;
    *   2. bloom survivors hit the exact eval gram-hash literal array,
    *      which kills the false positives.
    * Both stages are plan literals — the contract of an eval snapshot
    * (KBs–MBs of grams by definition; at production scale the pair is
    * built once per eval release by [[graft.operators.TrainingOps.buildBloom]]
    * and shipped with the job). Equality with the batch
    * `TrainingOps.decontaminate` holds modulo xxhash64 gram collisions
    * (the batch exact tier compares gram strings; StreamingSpec pins
    * batch≡stream agreement on the driver fixtures). */
  def decontaminateFilter(evalDocs: DataFrame, n: Int = 13,
                          bitsPerItem: Int = 12): org.apache.spark.sql.Column = {
    val spark = evalDocs.sparkSession
    import spark.implicits._
    val evalGrams = TrainingOps.gramRows(evalDocs, n).distinct()
    val bloom = TrainingOps.buildBloom(evalGrams, "g", bitsPerItem)
    val b64 = java.util.Base64.getEncoder.encodeToString(bloom)
    val hashes = evalGrams.select(xxhash64(col("g")).as("h")).as[Long].collect()
    val hashLit = lit(hashes)
    !exists(array_distinct(TrainingOps.shingles(col("text"), n)),
      g => NativeFunctions.call(spark, "graft_bloom_contains", unbase64(lit(b64)), xxhash64(g)) &&
        array_contains(hashLit, xxhash64(g)))
  }

  /** Streaming boilerplate-line scrub: rewrite `text`, dropping every
    * line whose xxhash64 is in `lineHashes` (the set a periodic batch
    * job materializes via `TrainingOps.boilerplateLineHashes` — small by
    * definition, so it rides as a plan literal). STATELESS per-row
    * rewrite: order and within-doc multiplicity preserved, pure
    * boilerplate rewrites to "", works identically in batch and
    * streaming plans (StreamingSpec pins parity against
    * `TrainingOps.removeBoilerplateLines` on a shared snapshot). */
  def scrubBoilerplateLines(lineHashes: Array[Long]): org.apache.spark.sql.Column = {
    val hashLit = lit(lineHashes)
    array_join(filter(split(col("text"), "\n"),
      l => !array_contains(hashLit, xxhash64(l))), "\n")
  }

  /** Run the streaming boilerplate scrub over a file-source directory of
    * TimedDoc parquet with an AvailableNow trigger; scrubbed docs land in
    * `outDir/scrubbed`, checkpointed. */
  def runScrubBoilerplateStream(spark: SparkSession, inDir: String,
                                lineHashes: Array[Long], outDir: String): Unit =
    runFileStream(spark, inDir, outDir, "scrubbed")(
      _.withColumn("clean_text", scrubBoilerplateLines(lineHashes)))

  /** Streaming text repair at ingest: mojibake reversal + NFC canonical
    * composition as STATELESS native-codegen column rewrites
    * (`graft_fix_mojibake`, `graft_nfc`) inside a checkpointed plan —
    * encoding repair belongs at ingest, before any downstream dedup/
    * quality state ever hashes the broken form. No state store, so
    * batch ≡ stream by construction and a restart resumes from the last
    * committed batch. */
  def runRepairTextStream(spark: SparkSession, inDir: String, outDir: String): Unit = {
    NativeFunctions.register(spark)
    runFileStream(spark, inDir, outDir, "repaired")(
      _.withColumn("clean_text", expr("graft_nfc(graft_fix_mojibake(text))")))
  }

  /** Run streaming decontamination over a file-source directory of
    * TimedDoc parquet with an AvailableNow trigger: contaminated docs are
    * dropped at ingest, clean docs land in `outDir/clean`, checkpointed
    * (a restart resumes from the last committed batch). */
  def runDecontaminateStream(spark: SparkSession, inDir: String, evalDocs: DataFrame,
                             outDir: String, n: Int = 13): Unit =
    runFileStream(spark, inDir, outDir, "clean")(_.where(decontaminateFilter(evalDocs, n)))
}
