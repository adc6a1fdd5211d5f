package graft.functions

import scala.reflect.runtime.universe.TypeTag
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

import graft.html.Html
import graft.pdf.Pdf

/** Ad-hoc SQL surface for the extraction kernel (SURVEY.md §2.8(b)): scalar
  * functions usable from `spark.sql(...)`. The typed `ExtractJob` pipeline
  * remains the primary (and faster) surface — these are for exploration:
  *
  *   SELECT media_ref, pdf2txt(bytes) FROM media
  *   SELECT posexplode(pdf2pages(bytes)) FROM media
  */
object PdfFunctions {

  /** A UDF over a binary column that maps a null payload to null. */
  private def bytesUdf[R: TypeTag](f: Array[Byte] => R): UserDefinedFunction =
    udf((bytes: Array[Byte]) => if (bytes == null) null.asInstanceOf[R] else f(bytes))

  private val htmlImageRefsUdf = bytesUdf(Html.imageRefs)
  private val htmlLinkRefsUdf = bytesUdf(Html.linkRefs)
  private val htmlAnchorsUdf = bytesUdf(Html.anchors)
  private val htmlTablesUdf = bytesUdf(Html.tableCells)
  private val htmlDocMetaUdf = bytesUdf(Html.docMeta)

  /** Every SQL name and its UDF. `pdf2txt_safe` gives null on malformed
    * input instead of failing the task. */
  private val all: Seq[(String, UserDefinedFunction)] = Seq(
    "pdf2txt" -> bytesUdf(Pdf.pdf2txt),
    "pdf2txt_safe" -> bytesUdf(b => try Pdf.pdf2txt(b) catch { case NonFatal(_) => null }),
    "pdf2pages" -> bytesUdf(Pdf.pdf2pages),
    "html2txt" -> bytesUdf(Html.html2txt),
    "html_image_refs" -> htmlImageRefsUdf,
    "html_link_refs" -> htmlLinkRefsUdf,
    "html_anchors" -> htmlAnchorsUdf,
    "html_tables" -> htmlTablesUdf,
    "html_doc_meta" -> htmlDocMetaUdf)

  def register(spark: SparkSession): Unit =
    all.foreach { case (name, f) => spark.udf.register(name, f) }

  /** Column form of the HTML image-ref extractor (typed pipelines). */
  def htmlImageRefs(c: Column): Column = htmlImageRefsUdf(c)

  /** Column form of the HTML outlink extractor (in-content hrefs). */
  def htmlLinkRefs(c: Column): Column = htmlLinkRefsUdf(c)

  /** Column form of the (href, anchor text) pair extractor. */
  def htmlAnchors(c: Column): Column = htmlAnchorsUdf(c)

  /** Column form of the table-cell extractor: (table, row, col, text). */
  def htmlTables(c: Column): Column = htmlTablesUdf(c)

  /** Column form of the head-metadata extractor: (title, description). */
  def htmlDocMeta(c: Column): Column = htmlDocMetaUdf(c)
}
