package graft.pdf

import scala.collection.mutable
import Lex._

/** Per-resource font registry: widths (simple /Widths and CID /W), metrics
  * (ascent/descent/height), Type3 font matrices, Type0 descendant merge.
  * Mirrors fonts.cc semantics. */
final class Fonts(storage: ObjectStorage, fontsDict: Dict) {
  import Fonts._

  private var dictionaryPerFont = mutable.HashMap.empty[String, Dict]
  private var heights = mutable.HashMap.empty[String, Float]
  private var descents = mutable.HashMap.empty[String, Float]
  private var ascents = mutable.HashMap.empty[String, Float]
  private var types = mutable.HashMap.empty[String, Int]
  // (codes sorted ascending, widths) — empty arrays = "no widths known"
  private var widths = mutable.HashMap.empty[String, (Array[Int], Array[Float])]
  private var defaultWidth = mutable.HashMap.empty[String, Float]
  private var fontMatrixType3 = mutable.HashMap.empty[String, Array[Float]]
  private var currentFont: String = ""
  private var rise: Float = 0f

  /** Independent copy (C++ value semantics): the lookup tables are frozen
    * after construction and safely shared; current-font/rise state is own. */
  def copyOf: Fonts = {
    val f = new Fonts(storage, Lex.newDict())
    f.dictionaryPerFont = dictionaryPerFont
    f.heights = heights
    f.descents = descents
    f.ascents = ascents
    f.types = types
    f.widths = widths
    f.defaultWidth = defaultWidth
    f.fontMatrixType3 = fontMatrixType3
    f.currentFont = currentFont
    f.rise = rise
    f.refreshCurrent()
    f
  }

  // fonts.cc:19-39 — fonts_dict iterated in key order (std::map)
  fontsDict.foreach { case (name, ref) =>
    val fontDict = Storage.getDictOrIndirectDict(ref, storage)
    val tpe = insertType(name, fontDict)
    if (tpe == TYPE_3) insertMatrixType3(name, fontDict)
    insertDescendant(fontDict, storage)
    dictionaryPerFont.update(name, fontDict)
    val descDict = fontDict.get("/FontDescriptor") match {
      case None => newDict()
      case Some(d) => Storage.getDictOrIndirectDict(d, storage)
    }
    val baseFont = fontDict.get("/BaseFont").map(_.raw).getOrElse("")
    insertWidths(name, descDict, baseFont)
    insertHeight(name, descDict, baseFont)
    insertDescent(name, descDict, fontDict, baseFont, tpe)
    insertAscent(name, descDict, fontDict, baseFont, tpe)
  }

  /** fonts.cc:41-53 — merge single /DescendantFonts dict (parent keys win). */
  private def insertDescendant(font: Dict, storage: ObjectStorage): Unit = {
    if (font("/Subtype").raw != "/Type0") return
    val array = Storage.getArrayOrIndirectArray(font("/DescendantFonts"), storage)
    if (array.size != 1) err(s"insert_descendant: DescendantFonts array must have 1 element. Size=${array.size}")
    val descendant = Storage.getDictOrIndirectDict(array(0), storage)
    descendant.foreach { case (k, v) => emplace(font, k, v) }
  }

  private def insertType(name: String, font: Dict): Int = {
    val tpe = if (font("/Subtype").raw == "/Type3") TYPE_3 else OTHER
    types.update(name, tpe)
    tpe
  }

  /** fonts.cc:167-183 */
  private def insertMatrixType3(name: String, font: Dict): Unit = {
    val p = font("/FontMatrix")
    if (p.kind != Kind.ARRAY) err(s"insert_matrix_type3: /FontMatrix must be ARRAY. Type=${p.kind} value=${p.raw}")
    val data = getArrayData(p.raw, 0)
    if (data.size != 6) err("insert_matrix_type3: /FontMatrix must have 6 elements")
    val m = new Array[Float](6)
    var i = 0
    while (i < 6) {
      if (data(i).kind != Kind.VALUE)
        err(s"insert_matrix_type3: /FontMatrix element must be VALUE.Type=${data(i).kind} value=${data(i).raw}")
      m(i) = stof(data(i).raw)
      i += 1
    }
    fontMatrixType3.update(name, m)
  }

  /** fonts.cc:153-165 */
  private def insertWidths(name: String, fontDesc: Dict, baseFont: String): Unit = {
    val tpe = dictionaryPerFont(name)("/Subtype").raw
    if (tpe == "/CIDFontType0" || tpe == "/CIDFontType2" || tpe == "/Type0")
      insertWidthsFromW(name, baseFont)
    else insertWidthsFromWidths(name, fontDesc, baseFont)
  }

  private def stdOrEmpty(baseFont: String): (Array[Int], Array[Float]) =
    Encodings.standardWidths.getOrElse(baseFont, (Array.empty[Int], Array.empty[Float]))

  /** fonts.cc:71-123 — CID /W ranges, /DW default 1000. */
  private def insertWidthsFromW(name: String, baseFont: String): Unit = {
    val font = dictionaryPerFont(name)
    defaultWidth.update(name, getDictValF(font, "/DW", 1000f))
    font.get("/W") match {
      case None => widths.update(name, stdOrEmpty(baseFont))
      case Some(w) =>
        val result = Storage.getArrayOrIndirectArray(w, storage).map { p =>
          if (p.kind == Kind.INDIRECT_OBJECT) Storage.getIndirectObjectData(p.raw, storage) else p
        }
        val pairs = mutable.ArrayBuffer.empty[(Int, Float)]
        var i = 0
        while (i < result.size) {
          result(i + 1).kind match {
            case Kind.VALUE =>
              val firstCharL = strictStoul(result(i).raw)
              val lastCharL = strictStoul(result(i + 1).raw)
              // poison guard (deviation from the reference, which would OOM
              // building the per-code vector): CID codes are ≤ 65535, so a
              // larger range is malformed — fail the document, not the JVM
              if (lastCharL - firstCharL > (1 << 20))
                err(s"insert_widths_from_w: absurd /W range $firstCharL..$lastCharL")
              val firstChar = firstCharL.toInt
              val lastChar = lastCharL.toInt
              val width = stof(result(i + 2).raw)
              var j = firstChar
              while (j <= lastChar) { pairs += ((j, width)); j += 1 }
              i += 3
            case Kind.ARRAY =>
              var startChar = strictStoul(result(i).raw).toInt
              getArrayData(result(i + 1).raw, 0).foreach { p =>
                pairs += ((startChar, stof(p.raw)))
                startChar += 1
              }
              i += 2
            case k => err(s"insert_widths_from_w: wrong type for val ${result(i + 1).raw} type=$k")
          }
        }
        widths.update(name, sortPairs(pairs))
    }
  }

  /** fonts.cc:125-151 — simple-font /Widths + /FirstChar. */
  private def insertWidthsFromWidths(name: String, fontDesc: Dict, baseFont: String): Unit = {
    val font = dictionaryPerFont(name)
    val firstChar = getDictVal(font, "/FirstChar", 0L).toInt
    defaultWidth.update(name, getDictValF(fontDesc, "/MissingWidth", 0f))
    font.get("/Widths") match {
      case None => widths.update(name, stdOrEmpty(baseFont))
      case Some(w) =>
        val result = Storage.getArrayOrIndirectArray(w, storage)
        val pairs = mutable.ArrayBuffer.empty[(Int, Float)]
        var i = 0
        while (i < result.size) {
          val p = result(i)
          val v = if (p.kind == Kind.INDIRECT_OBJECT) Storage.getIndirectObjectData(p.raw, storage).raw else p.raw
          pairs += ((i + firstChar, stof(v)))
          i += 1
        }
        widths.update(name, sortPairs(pairs))
    }
  }

  private def sortPairs(pairs: mutable.ArrayBuffer[(Int, Float)]): (Array[Int], Array[Float]) = {
    val sorted = pairs.sortBy(p => (p._1, p._2))
    (sorted.map(_._1).toArray, sorted.map(_._2).toArray)
  }

  /** fonts.cc:207-226 */
  private def insertHeight(name: String, fontDesc: Dict, baseFont: String): Unit = {
    fontDesc.get("/FontBBox") match {
      case None =>
        heights.update(name, stdMetrics.get(baseFont).map(_._3).getOrElse(NO_HEIGHT))
      case Some(b) =>
        val array = Storage.getArrayOrIndirectArray(b, storage)
        heights.update(name, stof(array(3).raw) - stof(array(1).raw))
    }
  }

  /** fonts.cc:228-260 */
  private def insertDescent(name: String, fontDesc: Dict, font: Dict, baseFont: String, tpe: Int): Unit = {
    fontDesc.get("/Descent") match {
      case Some(d) => descents.update(name, stof(d.raw)); return
      case None =>
    }
    if (tpe == TYPE_3) {
      font.get("/FontBBox") match {
        case Some(b) =>
          val array = Storage.getArrayOrIndirectArray(b, storage)
          descents.update(name, stof(array(1).raw))
          return
        case None =>
      }
    }
    descents.update(name, stdMetrics.get(baseFont).map(_._2).getOrElse(NO_DESCENT))
  }

  /** fonts.cc:262-294 */
  private def insertAscent(name: String, fontDesc: Dict, font: Dict, baseFont: String, tpe: Int): Unit = {
    fontDesc.get("/Ascent") match {
      case Some(a) => ascents.update(name, stof(a.raw)); return
      case None =>
    }
    if (tpe == TYPE_3) {
      font.get("/FontBBox") match {
        case Some(b) =>
          val array = Storage.getArrayOrIndirectArray(b, storage)
          ascents.update(name, stof(array(3).raw))
          return
        case None =>
      }
    }
    ascents.update(name, stdMetrics.get(baseFont).map(_._1).getOrElse(NO_ASCENT))
  }

  // per-current-font cached state (all tables are immutable post-ctor, so
  // caching on setCurrentFont preserves semantics while removing a HashMap
  // probe + tuple allocation per glyph width lookup — the hot path)
  private var curCodes: Array[Int] = null
  private var curWidths: Array[Float] = null
  private var curDefault: Float = 0f
  private var curHScale: Float = 0.001f
  private var curVScale: Float = 0.001f
  // direct-mapped width memo for single-byte codes (CID codes >255 skip it);
  // generation counter invalidates on every font switch without clearing
  private val wMemo = new Array[Float](256)
  private val wMemoGen = new Array[Int](256)
  private var memoGen = 0

  private def refreshCurrent(): Unit = {
    memoGen += 1
    if (currentFont.nonEmpty && widths.contains(currentFont)) {
      val (c, w) = widths(currentFont)
      curCodes = c
      curWidths = w
      curDefault = defaultWidth(currentFont)
      val s = if (types(currentFont) == OTHER) (0.001f, 0.001f)
        else applyMatrixNorm(fontMatrixType3(currentFont), 1f, 1f)
      curHScale = s._1
      curVScale = s._2
      curDescent = descents(currentFont)
      curAscent = ascents(currentFont)
      curHeight = heights(currentFont)
    } else {
      curCodes = null
    }
  }

  private var curDescent: Float = 0f
  private var curAscent: Float = 0f
  private var curHeight: Float = 0f

  /** fonts.cc:55-62 — binary-searched width lookup × hscale. */
  def getWidth(code: Int): Float = {
    if (curCodes == null) { // unknown font name: fail like the reference's .at()
      widths(currentFont)
      err(s"get_width: no widths for $currentFont")
    }
    if (code >= 0 && code < 256 && wMemoGen(code) == memoGen) return wMemo(code)
    val w =
      if (curCodes.isEmpty) curDefault * curHScale
      else {
        val i = java.util.Arrays.binarySearch(curCodes, code)
        if (i < 0) curDefault * curHScale else curWidths(i) * curHScale
      }
    if (code >= 0 && code < 256) { wMemo(code) = w; wMemoGen(code) = memoGen }
    w
  }

  /** fonts.cc:64-69 — per-byte width sum. */
  def getWidth(s: String): Float = {
    var result = 0f
    var i = 0
    while (i < s.length) { result += getWidth(s.charAt(i) & 0xff); i += 1 }
    result
  }

  def setRise(r: Float): Unit = rise = r
  def getRise: Float = rise

  def getHeight: Float = {
    validateCurrentFont()
    if (curHeight == NO_HEIGHT) getAscent - getDescent else curHeight * curVScale
  }

  def getDescent: Float = { validateCurrentFont(); curDescent * curVScale }
  def getAscent: Float = { validateCurrentFont(); curAscent * curVScale }

  def getCurrentFontDictionary: Dict = {
    validateCurrentFont()
    dictionaryPerFont(currentFont)
  }

  def setCurrentFont(font: String): Unit = {
    // same-font Tf re-selection is the common case; every table consulted
    // by refreshCurrent is immutable post-ctor, so skipping the 7 map
    // probes (and keeping the width memo generation) is semantics-free
    if (font != currentFont || curCodes == null) {
      currentFont = font
      refreshCurrent()
    }
  }

  private def validateCurrentFont(): Unit = {
    if (currentFont.isEmpty) err("validate_current_font: current font is not set")
    // unknown font name → throw like the reference's map::at
    if (curCodes == null) widths(currentFont)
  }
}

object Fonts {
  final val TYPE_3 = 0
  final val OTHER = 1
  final val NO_HEIGHT = 0f
  final val NO_DESCENT = 0f
  final val NO_ASCENT = 0f

  /** fonts.cc:347-361 — (ascent, descent, height) for the standard 14. */
  val stdMetrics: Map[String, (Float, Float, Float)] = Map(
    "/Courier" -> (627f, -194f, 1052f),
    "/Courier-Bold" -> (627f, -194f, 1060f),
    "/Courier-BoldOblique" -> (627f, -194f, 1060f),
    "/Courier-Oblique" -> (627f, -194f, 1052f),
    "/Helvetica" -> (718f, -207f, 1156f),
    "/Helvetica-Bold" -> (718f, -207f, 1190f),
    "/Helvetica-BoldOblique" -> (718f, -207f, 1190f),
    "/Helvetica-Oblique" -> (718f, -207f, 1156f),
    "/Symbol" -> (0f, 0f, 1303f),
    "/Times-Bold" -> (683f, -217f, 1153f),
    "/Times-BoldItalic" -> (683f, -217f, 1139f),
    "/Times-Italic" -> (683f, -217f, 1100f),
    "/Times-Roman" -> (683f, -217f, 1116f),
    "/ZapfDingbats" -> (0f, 0f, 963f))
}
