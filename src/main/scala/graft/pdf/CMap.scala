package graft.pdf

import scala.collection.mutable
import scala.util.control.NonFatal
import Lex._

/** Code → UTF-16BE/UTF-8 mapping with per-entry lazy conversion
  * (reference: cmap_t, cmap.h:13-24). Keys and values are byte-strings. */
final class CMap {
  final val MAX_CODE_LENGTH = 4
  /** value + converted flag; NOT_CONVERTED values are UTF-16BE and get
    * converted to UTF-8 lazily on first use (to_unicode_converter.cc:46-50). */
  val utfMap: mutable.HashMap[String, CMap.Entry] = mutable.HashMap.empty
  /** During parse: presence flags indexed by code length (0..4); after
    * `compactSizes`: the list of registered code lengths, shortest first. */
  var sizes: Array[Int] = new Array[Int](MAX_CODE_LENGTH + 1)
  var isVertical: Boolean = false

  /** cmap.cc:29-41 */
  def compactSizes(): Unit = {
    sizes(0) = 0
    var i = 0
    var j = 1
    while (j < MAX_CODE_LENGTH + 1) {
      if (sizes(j) != 0) {
        sizes(i) = j
        sizes(j) = 0
        var k = i
        while (k < sizes.length && sizes(k) != 0) k += 1
        i = k
      }
      j += 1
    }
    sizes = sizes.take(i)
  }
}

object CMap {
  final class Entry(var converted: Boolean, var value: String)

  private final val HEX = 1
  private final val DEC = 2
  private final val ARRAY = 3
  private val hexDigits = "01234567890abcdefABCDEF"

  private final case class Token(tpe: Int, value: String) {
    if (value.isEmpty) err("cmap token: string is empty")
  }

  /** cmap.cc:70-108 */
  private def getToken(line: String, pos: Pos): Token = {
    var start = findFirstOf(line, "<[", pos.i)
    var tpe = 0
    if (start == NPOS) { start = efindNumber(line, pos.i); tpe = DEC }
    else if (line.charAt(start) == '<') { tpe = HEX; start += 1 }
    else { tpe = ARRAY; start += 1 }
    var end = tpe match {
      case HEX => efind(line, '>', start)
      case ARRAY => efind(line, ']', start)
      case DEC => findFirstOf(line, " \t\n", start)
    }
    if (end == NPOS) end = line.length
    pos.i = end
    Token(tpe, line.substring(start, end))
  }

  /** cmap.cc:111-117 — hex string → packed bytes. */
  private def getHexVal(hexStr: String): String = {
    val n = hexStr.length / 2 + (hexStr.length % 2)
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    var j = 0
    while (j < n) {
      val end = math.min(i + 2, hexStr.length)
      sb.append(strictStoul(hexStr.substring(i, end), 16).toChar)
      j += 1
      i += 2
    }
    sb.toString
  }

  /** cmap.cc:119-140 */
  private def convert2string(token: Token): String = token.tpe match {
    case HEX =>
      val sb = new java.lang.StringBuilder
      var i = efindFirst(token.value, hexDigits, 0)
      var end = findFirstOf(token.value, " \t", i)
      while (i != NPOS) {
        val e = if (end == NPOS) token.value.length else end
        sb.append(getHexVal(token.value.substring(i, e)))
        i = findFirstOf(token.value, hexDigits, e)
        end = findFirstOf(token.value, " \t", i)
      }
      sb.toString
    case DEC => num2string(strictStoul(token.value, 10).toInt)
    case _ => err(s"convert2string: wrong token type. val =${token.value}")
  }

  /** cmap.cc:43-50 */
  private def trimLeadingZeroes(s: String): Int = {
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) != 0) return i
      i += 1
    }
    s.length
  }

  /** cmap.cc:52-68 — big-number byte-string comparison. */
  def isLessEqual(s1: String, s2: String): Boolean = {
    val i1 = trimLeadingZeroes(s1)
    val i2 = trimLeadingZeroes(s2)
    val l1 = s1.length - i1
    val l2 = s2.length - i2
    if (l1 < l2) return true
    if (l1 > l2) return false
    var a = i1
    var b = i2
    while (a < s1.length && b < s2.length) {
      val c1 = s1.charAt(a) & 0xff
      val c2 = s2.charAt(b) & 0xff
      if (c1 < c2) return true
      if (c1 > c2) return false
      a += 1
      b += 1
    }
    true
  }

  /** cmap.cc:142-153 — big-endian byte-string increment. */
  def inc(n: String): String = {
    if (n.isEmpty) err("inc: string is empty")
    val chars = n.toCharArray
    var i = chars.length - 1
    var byteVal = 0
    var done = false
    while (i >= 0 && !done) {
      chars(i) = ((chars(i) + 1) & 0xff).toChar
      byteVal = chars(i)
      if (byteVal != 0) done = true
      i -= 1
    }
    if (byteVal == 0) "\u0001" + new String(chars) else new String(chars)
  }

  /** cmap.cc:155-202 */
  private def getBfrange(stream: String, offset0: Int, cmap: CMap): Int = {
    val pos = new Pos(offset0)
    val first = convert2string(getToken(stream, pos))
    val second = convert2string(getToken(stream, pos))
    val third = getToken(stream, pos)
    third.tpe match {
      case HEX | DEC =>
        var thirdStr = convert2string(third)
        if (thirdStr.isEmpty) err("get_bfrange: third string is empty")
        var lastByte = thirdStr.charAt(thirdStr.length - 1) & 0xff
        var n = first
        var break = false
        while (!break && isLessEqual(n, second)) {
          val v = thirdStr.substring(0, thirdStr.length - 1) + lastByte.toChar
          if (!cmap.utfMap.contains(n)) cmap.utfMap.update(n, new Entry(false, v))
          cmap.sizes(n.length) = 1
          // spec: last byte must not increment past 255 (cmap.cc:179-184)
          if (lastByte == 255) break = true
          else { n = inc(n); lastByte += 1 }
        }
      case ARRAY =>
        val tokenPos = new Pos(0)
        var n = first
        while (isLessEqual(n, second)) {
          val v = convert2string(getToken(third.value, tokenPos))
          if (!cmap.utfMap.contains(n)) cmap.utfMap.update(n, new Entry(false, v))
          cmap.sizes(n.length) = 1
          n = inc(n)
        }
      case t => err(s"get_bfrange: wrong type=$t")
    }
    pos.i + 1
  }

  /** cmap.cc:210-231 */
  private def getBfchar(stream: String, offset0: Int, cmap: CMap): Int = {
    val pos = new Pos(offset0)
    val src = try Some(convert2string(getToken(stream, pos))) catch { case NonFatal(_) => None }
    val dst = try Some(convert2string(getToken(stream, pos))) catch { case NonFatal(_) => None }
    if (src.isEmpty || dst.isEmpty) return pos.i + 1
    if (!cmap.utfMap.contains(src.get)) cmap.utfMap.update(src.get, new Entry(false, dst.get))
    cmap.sizes(src.get.length) = 1
    pos.i + 1
  }

  private final val ST_NONE = 0
  private final val ST_BFCHAR = 1
  private final val ST_BFRANGE = 2
  private final val ST_WMODE = 3

  /** cmap.cc:244-290 — ToUnicode CMap parse. */
  def getCmap(doc: String, storage: ObjectStorage, idGen: (Long, Long), decryptData: Dict): CMap = {
    var state = ST_NONE
    val stream = Storage.getStream(doc, idGen, storage, decryptData)
    val result = new CMap
    var start = findFirstNotOf(stream, " \t\n\r", 0)
    var end = findFirstOf(stream, " \t\n\r", start)
    var break = false
    while (!break && start != NPOS) {
      if (end == NPOS) end = stream.length
      if (stream.charAt(start) == '%') {
        end = find(stream, '\n', start)
        if (end == NPOS) break = true
      }
      if (!break) {
        val token = stream.substring(start, end)
        val st = token match {
          case "beginbfchar" => ST_BFCHAR
          case "beginbfrange" => ST_BFRANGE
          case "endbfchar" | "endbfrange" => ST_NONE
          case "/WMode" => ST_WMODE
          case _ => -1
        }
        if (st >= 0) state = st
        else state match {
          case ST_NONE =>
          case ST_BFCHAR => end = getBfchar(stream, start, result)
          case ST_BFRANGE => end = getBfrange(stream, start, result)
          case ST_WMODE =>
            val p = new Pos(start)
            result.isVertical = strictStoul(getValue(stream, p)) == 1
            end = p.i
            state = ST_NONE
        }
        if (end == NPOS || end > stream.length - 2) break = true
        else {
          start = findFirstNotOf(stream, " \t\n\r", end)
          end = findFirstOf(stream, " \t\n\r", start)
        }
      }
    }
    result.compactSizes()
    result
  }

  /** font_file.cc:26-57 — Type1 `dup <code> /<glyph> put` table until
    * `currentfile eexec`. Note: sizes stay unset, matching the reference. */
  def getFontFile(doc: String, storage: ObjectStorage, idGen: (Long, Long), decryptData: Dict): CMap = {
    val stream = Storage.getStream(doc, idGen, storage, decryptData)
    val cmap = new CMap
    val st = mutable.ArrayBuffer.empty[String]
    var i = skipComments(stream, 0, validate = false)
    while (i != NPOS && i < stream.length) {
      val pos = new Pos(i)
      val token = Lex.getToken(stream, pos)
      i = pos.i
      if (st.isEmpty) st += token
      else if (token == "eexec" && st.last == "currentfile") return cmap
      else if (token == "put") {
        val name = st.remove(st.size - 1)
        val result = Encodings.glyphList.getOrElse(name, "")
        val source0 = st.remove(st.size - 1)
        // get_binary (font_file.cc:21-24): each char -= '0'
        val sb = new java.lang.StringBuilder(source0.length)
        var k = 0
        while (k < source0.length) { sb.append(((source0.charAt(k) - '0') & 0xff).toChar); k += 1 }
        val source = sb.toString
        if (!cmap.utfMap.contains(source)) cmap.utfMap.update(source, new Entry(true, result))
      }
      else st += token
      i = skipComments(stream, i, validate = false)
    }
    cmap
  }
}
