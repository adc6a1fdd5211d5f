package graft.pdf

import scala.collection.mutable
import scala.util.control.NonFatal
import Lex._

/** Cross-reference machinery: startxref discovery, classic xref tables,
  * xref streams, the /Prev trailer chain, damaged-file recovery, and
  * /Encrypt-dict discovery. Mirrors parser.cc semantics. */
object XRef {
  private val CROSS_REFERENCE_LINE_SIZE = 19
  private val BYTE_OFFSET_LEN = 10
  private val GENERATION_NUMBER_LEN = 5

  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' || c == '\u000b'

  /** parser.cc:36-51 */
  def getCrossRefOffset(buffer: String): Int = {
    var off = rfind(buffer, "startxref")
    if (off == NPOS) err("get_cross_ref_offset: can`t find startxref")
    off += "startxref".length
    off = skipComments(buffer, off)
    var end = findFirstNotOf(buffer, "0123456789", off)
    if (end == NPOS) err("get_cross_ref_offset: can`t find end of trailer offset number")
    val r = strictStoul(buffer.substring(off, end))
    if (r >= buffer.length) err(s"get_cross_ref_offset: $r is larger than buffer size ${buffer.length}")
    r.toInt
  }

  /** common.cc:840-857 specialized to the one live call site
    * (parser.cc:147): forward "xref\s", backward "\sxref\s". */
  def nearestXref(buffer: String, pos: Int): Int = {
    // forward: first i >= pos with "xref" + \s
    var fwd = NPOS
    var i = pos
    val limit = buffer.length - 5
    while (fwd == NPOS && i <= limit) {
      val j = buffer.indexOf("xref", i)
      if (j < 0 || j > limit) i = buffer.length
      else if (isWs(buffer.charAt(j + 4))) fwd = j
      else i = j + 1
    }
    // backward: nearest match of \s"xref"\s fully within [0, pos]; start index
    var bwd = NPOS
    var f = math.min(pos - 5, buffer.length - 6)
    while (bwd == NPOS && f >= 0) {
      if (isWs(buffer.charAt(f)) && buffer.regionMatches(f + 1, "xref", 0, 4) && isWs(buffer.charAt(f + 5)))
        bwd = f
      else f -= 1
    }
    if (fwd == NPOS && bwd == NPOS) return NPOS
    if (fwd == NPOS) return bwd
    if (bwd == NPOS) return fwd
    if (math.abs(fwd.toLong - pos) < math.abs(bwd.toLong - pos)) fwd else bwd
  }

  /** parser.cc:86-140 common body of the /Prev chain walkers. */
  private def trailerChain(buffer: String, start: Int, oldFormat: Boolean): mutable.ArrayBuffer[(Int, Int)] = {
    val offsets = mutable.ArrayBuffer.empty[(Int, Int)]
    val seen = mutable.Set[Int](start)
    var crossRefOffset = start
    var done = false
    while (!done) {
      var end = find(buffer, "\r\nstartxref\r\n", crossRefOffset)
      if (end == NPOS) end = find(buffer, "\nstartxref\n", crossRefOffset)
      if (end == NPOS) end = find(buffer, "\rstartxref\r", crossRefOffset)
      if (end == NPOS) err(s"get_trailer_offsets: Can`t find startxref in pos: $crossRefOffset")
      offsets += ((crossRefOffset, end))
      val data =
        if (oldFormat) {
          val t = efind(buffer, "trailer", crossRefOffset) + "trailer".length
          getDictionaryData(buffer, t)
        } else {
          getDictionaryData(buffer, efind(buffer, "<<", crossRefOffset))
        }
      data.get("/Prev") match {
        case None => done = true
        case Some(o) =>
          if (o.kind != Kind.VALUE) err("get_trailer_offsets: /Prev value is not PDF VALUE type")
          crossRefOffset = strictStoul(o.raw).toInt
          if (seen.contains(crossRefOffset)) done = true
          else seen += crossRefOffset
      }
    }
    offsets
  }

  /** parser.cc:144-169 — returns (trailer offsets, isDamaged) and the
    * possibly relocated cross-ref offset. */
  def getTrailerOffsets(buffer: String, crossRefOffset0: Int): (mutable.ArrayBuffer[(Int, Int)], Boolean, Int) = {
    var crossRefOffset = skipComments(buffer, crossRefOffset0)
    val near = nearestXref(buffer, crossRefOffset)
    val nearestXrefOffset = if (near == NPOS) NPOS else skipComments(buffer, near)
    val nearestObjectOffset = find(buffer, "<<", crossRefOffset)
    val isDamaged = crossRefOffset != nearestXrefOffset
    if (nearestObjectOffset != NPOS && nearestXrefOffset != NPOS) {
      if (nearestXrefOffset < nearestObjectOffset)
        return (trailerChain(buffer, nearestXrefOffset, oldFormat = true), isDamaged, nearestXrefOffset)
      return (trailerChain(buffer, crossRefOffset, oldFormat = false), false, crossRefOffset)
    }
    if (nearestObjectOffset == NPOS && nearestXrefOffset == NPOS)
      err(s"get_trailer_offsets: Wrong cross_ref_offset $crossRefOffset")
    if (nearestObjectOffset == NPOS)
      return (trailerChain(buffer, nearestXrefOffset, oldFormat = true), isDamaged, nearestXrefOffset)
    (trailerChain(buffer, crossRefOffset, oldFormat = false), false, crossRefOffset)
  }

  /** parser.cc:53-58 */
  private def appendObject(buf: String, offset: Int, objects: mutable.ArrayBuffer[Long]): Unit = {
    if (offset + BYTE_OFFSET_LEN >= buf.length) err("append_object: object info record is too small")
    if (buf.charAt(offset + BYTE_OFFSET_LEN) != ' ') err("append_object: no space for object info")
    objects += strictStoul(buf.substring(offset, offset + BYTE_OFFSET_LEN))
  }

  /** parser.cc:60-73 */
  private def getObjectStatus(buffer: String, offset: Int): Char = {
    val start = offset + BYTE_OFFSET_LEN + GENERATION_NUMBER_LEN + 1
    if (start + 2 >= buffer.length) err("get_object_status: object info record is too small")
    if (buffer.charAt(start) != ' ') err("get_object_status: no space for object info record")
    val after = buffer.charAt(start + 2)
    if (after != '\r' && after != '\n' && after != ' ') err("get_object_status: no newline for object info record")
    val ret = buffer.charAt(start + 1)
    if (ret != 'n' && ret != 'f') err("get_object_status: info object record status entry must be 'n' or 'f'")
    ret
  }

  /** parser.cc:75-84 */
  private def getXrefNumber(buffer: String, pos: Pos): Long = {
    pos.i = efindFirst(buffer, "\r\t\n ", pos.i)
    pos.i = skipSpaces(buffer, pos.i)
    val end = efindFirst(buffer, "\r\t\n ", pos.i)
    val result = strictStoul(buffer.substring(pos.i, end))
    pos.i = skipSpaces(buffer, end)
    result
  }

  /** parser.cc:294-309 — classic xref subsection table. */
  def getObjectOffsetsOld(buffer: String, offset0: Int, result: mutable.ArrayBuffer[Long]): Unit = {
    var offset = efind(buffer, "xref", offset0) + "xref".length
    while (true) {
      offset = skipComments(buffer, offset)
      if (buffer.regionMatches(offset, "trailer", 0, 7)) return
      val pos = new Pos(offset)
      val n = getXrefNumber(buffer, pos)
      offset = pos.i
      var i = 0L
      while (i < n) {
        offset = skipComments(buffer, offset)
        if (getObjectStatus(buffer, offset) == 'n') appendObject(buffer, offset, result)
        offset += CROSS_REFERENCE_LINE_SIZE
        i += 1
      }
    }
  }

  /** parser.cc:178-199 */
  private def getW(d: Dict): Array[Int] = {
    val o = d.getOrElse("/W", err("get_w: can`t find /W"))
    if (o.kind != Kind.ARRAY) err("get_w: /W value must have ARRAY type")
    val str = o.raw
    val result = new Array[Int](3)
    var i = 0
    var offset = findNumber(str, 0)
    while (offset < str.length) {
      val end = efindFirst(str, " \r\n]", offset)
      if (i >= 3) err("get_w: /W array must contain 3 elements")
      result(i) = strictStoul(str.substring(offset, end)).toInt
      if (result(i) > 8) err(s"get_w: ${result(i)} is greater than max(uint64_t)")
      i += 1
      offset = findNumber(str, end)
    }
    if (i != 3) err("get_w: /W array must contain 3 elements")
    result
  }

  /** parser.cc:201-239 */
  private def getCrossReferenceEntry(stream: String, pos: Pos, w: Array[Int]): Array[Long] = {
    val result = new Array[Long](3)
    var i = 0
    while (i < 3) {
      if (w(i) == 0) {
        result(i) = if (i == 0) 1L else 0L // table 17 defaults
      } else {
        if (pos.i + w(i) > stream.length) err("get_cross_reference_entry: not enough data in stream for entry")
        var v = 0L
        var j = 0
        while (j < w(i)) { v = (v << 8) | (stream.charAt(pos.i + j) & 0xff); j += 1 }
        result(i) = v
        pos.i += w(i)
      }
      i += 1
    }
    result
  }

  /** parser.cc:241-264 */
  private def getCrossRefEntries(d: Dict): Long = {
    d.get("/Index") match {
      case None =>
        val v = d.getOrElse("/Size", err("get_cross_ref_entries: no /Size"))
        if (v.kind != Kind.VALUE) err("get_cross_ref_entries: /Size must have VALUE type")
        strictStoul(v.raw)
      case Some(o) =>
        if (o.kind != Kind.ARRAY) err("get_cross_ref_entries: /Index must be ARRAY")
        val arr = getArrayData(o.raw, 0)
        if (arr.isEmpty) err("get_cross_ref_entries: /Index array is empty")
        var entries = 0L
        var i = 0
        while (i < arr.size - 1) {
          if (arr(i + 1).kind != Kind.VALUE)
            err(s"get_cross_ref_entries: wrong type for /Index. type=${arr(i + 1).kind} val=${arr(i + 1).raw}")
          entries += strictStoul(arr(i + 1).raw)
          i += 2
        }
        entries
    }
  }

  /** parser.cc:266-292 — §7.5.8 cross-reference stream. */
  def getObjectOffsetsNew(buffer: String, offset0: Int, result: mutable.ArrayBuffer[Long]): Unit = {
    val offset = efind(buffer, "<<", offset0)
    val p = new Pos(offset)
    val dict = getDictionary(buffer, p)
    val d = getDictionaryData(dict, 0)
    val lenObj = d.getOrElse("/Length", err("get_object_offsets_new: can`t find /Length"))
    if (lenObj.kind != Kind.VALUE) err("get_object_offsets_new: /Length value must have VALUE type")
    val length = strictStoul(lenObj.raw)
    var content = Storage.getContent(buffer, length, offset)
    content = Filters.decode(content, d)
    val w = getW(d)
    val pos = new Pos(0)
    val n = getCrossRefEntries(d)
    var i = 0L
    while (i < n) {
      val entry = getCrossReferenceEntry(content, pos, w)
      if (entry(0) == 1) result += entry(1)
      i += 1
    }
  }

  /** parser.cc:171-176 */
  def getObjectOffsets(buffer: String, offset0: Int, result: mutable.ArrayBuffer[Long]): Unit = {
    val offset = skipComments(buffer, offset0)
    if (buffer.regionMatches(offset, "xref", 0, 4)) getObjectOffsetsOld(buffer, offset, result)
    else getObjectOffsetsNew(buffer, offset, result)
  }

  /** parser.cc:311-330 */
  def getAllObjectOffsets(buffer: String, trailerOffsets: mutable.ArrayBuffer[(Int, Int)]): mutable.ArrayBuffer[Long] = {
    val objectOffsets = mutable.ArrayBuffer.empty[Long]
    trailerOffsets.foreach { case (start, _) => getObjectOffsets(buffer, start, objectOffsets) }
    objectOffsets.foreach { off =>
      if (off >= buffer.length) err("validate_offsets: offset is greater than pdf buffer")
    }
    objectOffsets
  }

  /** parser.cc:332-338 */
  def insert2offsets(id2offsets: mutable.TreeMap[Long, Long], buffer: String, offset: Long): Unit = {
    if (offset == NPOS.toLong) return
    val start = efindNumber(buffer, skipComments(buffer, offset.toInt))
    val end = efindFirst(buffer, " \r\n\t", start)
    val id = strictStoul(buffer.substring(start, end))
    if (!id2offsets.contains(id)) id2offsets.update(id, offset)
  }

  private val objRegex = java.util.regex.Pattern.compile("\\d+?\\s+?\\d+?\\s+?obj\\s")

  /** parser.cc:341-350 — damaged-file recovery: scan `N G obj` markers. */
  def getId2OffsetsBroken(buffer: String): mutable.TreeMap[Long, Long] = {
    val id2offsets = mutable.TreeMap.empty[Long, Long]
    val m = objRegex.matcher(buffer)
    while (m.find()) insert2offsets(id2offsets, buffer, m.start().toLong)
    id2offsets
  }

  /** parser.cc:352-366 */
  def getId2Offsets(buffer: String, trailerOffsets: mutable.ArrayBuffer[(Int, Int)]): mutable.TreeMap[Long, Long] = {
    try {
      val id2offsets = mutable.TreeMap.empty[Long, Long]
      getAllObjectOffsets(buffer, trailerOffsets).foreach(off => insert2offsets(id2offsets, buffer, off))
      id2offsets
    } catch {
      case NonFatal(_) => getId2OffsetsBroken(buffer)
    }
  }

  /** parser.cc:392-400 */
  def getId(buffer: String, start: Int, end: Int): (String, Obj) = {
    var off = efind(buffer, "/ID", start)
    if (off >= end) err("get_id: Can`t find /ID key")
    off = efind(buffer, '[', off)
    if (off >= end) err("get_id: Can`t find /ID value")
    ("/ID", Obj(getArray(buffer, new Pos(off)), Kind.ARRAY))
  }

  /** parser.cc:402-435 */
  def getEncryptData(buffer: String, start: Int, end: Int, id2offsets: mutable.TreeMap[Long, Long]): Dict = {
    var off = find(buffer, "/Encrypt", start)
    if (off == NPOS || off >= end) return newDict()
    off += "/Encrypt".length
    val pos = new Pos(off)
    val kind = getObjectType(buffer, pos)
    val result: Dict = kind match {
      case Kind.DICTIONARY => getDictionaryData(buffer, pos.i)
      case Kind.INDIRECT_OBJECT =>
        val endOff = efindFirst(buffer, "\r\t\n ", pos.i)
        val encryptPair = Storage.getObject(buffer, strictStoul(buffer.substring(pos.i, endOff)), id2offsets)
        if (encryptPair.kind != Kind.DICTIONARY) err("get_encrypt_data: Encrypt indirect object must be DICTIONARY")
        getDictionaryData(encryptPair.raw, 0)
      case t => err(s"get_encrypt_data: wrong /Encrypt value: $t")
    }
    val id = getId(buffer, start, end)
    emplace(result, id._1, id._2)
    result
  }
}
