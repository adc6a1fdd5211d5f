package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.util.control.NonFatal
import graft.Model.MediaRow.sizeBucket
import graft.sources.Warc

/** Spark surface for WARC crawl-archive ingestion: expand container files
  * into the engine's standard interleaved (docs, media) frames, so the
  * payloads flow through the SAME content-sniffed extraction kernel,
  * skew routing and span assembly as natively-stored documents.
  *
  * Scale shape: the expansion is ONE flatMap pass over the archive bytes
  * (the WARC parse is streaming, per-record allocation only); the expanded
  * frame persists serialized-to-disk-allowed so docs and media views don't
  * re-parse the archives. doc_id = WARC-Target-URI — re-crawls of the same
  * URI are expected and deduplicated downstream (`WebOps.dedupByUrl` /
  * minhash tiers), exactly like a production crawl pipeline.
  */
object WarcOps {

  /** Expand WARC files (`warc_ref`, `bytes`) into (docs, media) frames in
    * `Model.DocRow` / `Model.MediaRow` shape. HTTP-2xx response records
    * become documents; warcinfo/request/metadata records are bookkeeping
    * and are skipped. A malformed archive degrades per the §2.9 error
    * contract: the whole file becomes one payload routed to the kernel,
    * which classifies it as an error span — no silent drops, no job abort.
    */
  def explode(warcs: DataFrame)(implicit spark: SparkSession): (DataFrame, DataFrame) = {
    import spark.implicits._
    val rows = warcs.select(col("warc_ref").as[String], col("bytes").as[Array[Byte]])
      .mapPartitions { it =>
        it.flatMap { case (ref, bytes) =>
          try {
            // materialize: a thrown parse error mid-iterator must demote the
            // WHOLE file (record boundaries after the fault are unknowable)
            Warc.responses(bytes).zipWithIndex
              .map { case ((uri, body), i) => (uri, s"$ref#$i", body, sizeBucket(body.length)) }
              .toVector
          } catch {
            case NonFatal(_) => Vector((ref, s"$ref#bad", bytes, sizeBucket(bytes.length)))
          }
        }
      }
      .toDF("doc_id", "media_ref", "bytes", "size_bucket")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val docs = rows.select(col("doc_id"),
      array(struct(lit("web").as("kind"), lit("").as("text"),
        col("media_ref"), lit(0).as("offset"))).as("spans"))
    val media = rows.select(col("media_ref"), col("bytes"), col("size_bucket"))
    (docs, media)
  }

  /** End-to-end: WARC files → extracted span table (doc_id, ord, kind,
    * text, media_ref) through `ExtractJob.extract`. The contract is
    * `ExtractJob`'s span output with `order` renamed to `ord`. */
  def extractWarc(warcs: DataFrame, numPartitions: Int)
                 (implicit spark: SparkSession): DataFrame = {
    val (docs, media) = explode(warcs)
    graft.ExtractJob.extract(docs, media, numPartitions)
      .select(col("doc_id"), col("order").as("ord"), col("kind"),
        col("text"), col("media_ref"))
  }
}
