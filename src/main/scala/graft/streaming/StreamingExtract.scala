package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming front end for the extraction pipeline: a file-source
  * stream of interleaved-document parquet batches, extracted per micro-batch
  * through the same ExtractJob operators, with checkpointed exactly-once
  * sink semantics. The reference is a pure batch library (SURVEY.md §2.8 —
  * no streaming exists there); this is the idiomatic Spark extension for
  * continuously arriving documents at scale: new doc files land in `inDir`,
  * each micro-batch joins only ITS media refs against the media dimension,
  * and progress/restart come from the checkpoint, not custom state. */
object StreamingExtract {

  /** Start the stream: docs parquet files appearing under `docsDir` are
    * extracted against `media` by `ExtractJob.extract` and appended to
    * `outDir/spans_out`. */
  def start(spark: SparkSession, docsDir: String, media: DataFrame, outDir: String,
            schema: StructType, trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    appendBatches(spark, docsDir, outDir, schema, trigger) { (batch, parts) =>
      graft.ExtractJob.extract(batch, media, parts)(batch.sparkSession)
    }

  /** Continuous crawl-archive ingestion: WARC files (`warc_ref`, `bytes`)
    * landing under `warcDir` are exploded and extracted per micro-batch
    * through the same `WarcOps.extractWarc` path as batch — each
    * micro-batch is a static frame, so the container
    * explode's persist and the kernel's skew routing apply unchanged
    * (batch ≡ stream by construction, asserted in StreamingSpec). */
  def startWarc(spark: SparkSession, warcDir: String, outDir: String,
                schema: StructType, trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    appendBatches(spark, warcDir, outDir, schema, trigger) { (batch, parts) =>
      graft.operators.WarcOps.extractWarc(batch, parts)(batch.sparkSession)
    }

  /** The shared micro-batch loop: each micro-batch of the parquet files under
    * `inDir` goes through `transform` (given the session's shuffle
    * partition count), is tagged with its `batch_id` and appended to
    * `outDir/spans_out`; progress lives in `outDir/_checkpoint`. */
  private def appendBatches(spark: SparkSession, inDir: String, outDir: String,
                            schema: StructType, trigger: Trigger)(
      transform: (DataFrame, Int) => DataFrame): StreamingQuery =
    spark.readStream.schema(schema).parquet(inDir).writeStream
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        transform(batch, batch.sparkSession.sessionState.conf.numShufflePartitions)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(s"$outDir/spans_out")
        ()
      }
      .start()
}
