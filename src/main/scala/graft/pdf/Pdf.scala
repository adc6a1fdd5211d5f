package graft.pdf

import Lex._

/** Whole-document driver (reference: parser.cc:368-390, 451-462). */
object Pdf {

  /** parser.cc:368-390 */
  private def getText(buffer: String, crossRefOffset: Int, storage: ObjectStorage, decryptData: Dict): PagesExtractor = {
    var trailerOffset = crossRefOffset
    if (buffer.regionMatches(crossRefOffset, "xref", 0, 4)) {
      trailerOffset = efind(buffer, "trailer", trailerOffset) + "trailer".length
    }
    val trailerData = getDictionaryData(buffer, trailerOffset)
    val rootPair = trailerData.getOrElse("/Root", err("get_text: no /Root"))
    if (rootPair.kind != Kind.INDIRECT_OBJECT) err("get_text: /Root value must be INDIRECT_OBJECT")
    val realRootPair = storage.getObject(getIdGen(rootPair.raw)._1)
    if (realRootPair.kind != Kind.DICTIONARY) err("get_text: /Root indirect object must be a dictionary")
    val rootData = getDictionaryData(realRootPair.raw, 0)
    val pagesPair = rootData.getOrElse("/Pages", err("get_text: no /Pages"))
    if (pagesPair.kind != Kind.INDIRECT_OBJECT) err("get_text: /Pages value must be INDRECT_OBJECT")
    new PagesExtractor(getIdGen(pagesPair.raw)._1, storage, decryptData, buffer)
  }

  private def openDocument(buffer: String): PagesExtractor = {
    val crossRefOffset0 = XRef.getCrossRefOffset(buffer)
    val (trailerOffsets, damaged, crossRefOffset) = XRef.getTrailerOffsets(buffer, crossRefOffset0)
    val id2offsets =
      if (damaged) XRef.getId2OffsetsBroken(buffer)
      else XRef.getId2Offsets(buffer, trailerOffsets)
    val encryptData = XRef.getEncryptData(buffer, trailerOffsets(0)._1, trailerOffsets(0)._2, id2offsets)
    val storage = new ObjectStorage(buffer, id2offsets, encryptData)
    getText(buffer, crossRefOffset, storage, encryptData)
  }

  /** parser.cc:451-462 — whole-PDF → extracted UTF-8 text. */
  def pdf2txt(bytes: Array[Byte]): String =
    toUtf8(openDocument(fromBytes(bytes)).getText())

  /** Per-page extracted text (page-major order), UTF-8. */
  def pdf2pages(bytes: Array[Byte]): Seq[String] =
    openDocument(fromBytes(bytes)).getPageTexts().map(toUtf8)
}
