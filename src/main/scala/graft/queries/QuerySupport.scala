package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import scala.util.control.NonFatal
import graft.testkit.{Corpus, PdfBuilder, WarcBuilder}

/** Helpers shared by several query families. */
private[queries] object QuerySupport {

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  private val pendingCleanup =
    new java.util.concurrent.ConcurrentHashMap[String, () => Unit]()

  /** A fresh temp dir for this invocation of query `key`, deleted (after
    * running `cleanup`) when the same query next runs. Queries that
    * materialize nonce-named catalog tables / temp views / temp dirs
    * (bucketed joins, persisted indexes, streaming sinks) cannot clean them
    * up before returning — the caller consumes the returned frame AFTER
    * the query function exits — so each invocation reclaims the previous
    * one's: repeated bench/oracle invocations hold at most one generation
    * of tables and disk per query instead of accumulating without bound.
    * A query must therefore not be invoked concurrently with itself: the
    * second call would reclaim the inputs of the first one's live frame.
    * A failed reclamation is logged, not thrown. */
  def scratchDir(key: String, cleanup: => Unit = ()): String = {
    val dir = java.nio.file.Files.createTempDirectory(key).toString
    val prev = pendingCleanup.put(key, () => { cleanup; deleteDir(dir) })
    if (prev != null) try prev() catch {
      case NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(s"cleanup of the previous $key run failed", e)
    }
    dir
  }

  private def deleteDir(path: String): Unit = {
    def rec(f: java.io.File): Unit = {
      val cs = f.listFiles(); if (cs != null) cs.foreach(rec); f.delete(); ()
    }
    rec(new java.io.File(path))
  }

  def fx(names: String*): Seq[PdfBuilder.Fixture] = {
    val all = (PdfBuilder.all :+ PdfBuilder.f16Garbage).map(f => f.name -> f).toMap
    names.map(all)
  }

  /** Expected output-span kind per fixture family. */
  def outKind(f: PdfBuilder.Fixture): String =
    if (f.name == "f16_garbage") "error" else Corpus.spanKind(f) + "_text"

  /** An extraction span table as the extraction queries return it:
    * (doc_id, ord, kind, text, media_ref), `order` renamed to `ord`. */
  def spanRows(spans: DataFrame): DataFrame =
    spans.select(col("doc_id"), col("order").as("ord"), col("kind"), col("text"), col("media_ref"))

  def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Exact VALUES oracle from the by-construction expected text. */
  def extractionOracle(fixtures: Seq[PdfBuilder.Fixture]): String = {
    val rows = fixtures.map { f =>
      val kind = outKind(f)
      val text = if (kind == "error") "" else f.expected
      s"(${sqlStr(f.name)}, 0, ${sqlStr(kind)}, ${sqlStr(text)}, ${sqlStr(f.name)})"
    }
    s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(doc_id, ord, kind, text, media_ref)"
  }

  /** By-construction oracle for the WARC leg: both storage variants yield
    * the same three documents; the malformed file is one error span. */
  def warcOracle: String = {
    val rows = Seq("w1_plain", "w2_gzip").flatMap { ref =>
      WarcBuilder.docs.zipWithIndex.map { case (d, i) =>
        s"(${sqlStr(d.uri)}, 0, ${sqlStr(d.kind)}, ${sqlStr(d.expected)}, ${sqlStr(s"$ref#$i")})"
      }
    } :+ "('w3_bad', 0, 'error', '', 'w3_bad#bad')"
    s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(doc_id, ord, kind, text, media_ref)"
  }
}
