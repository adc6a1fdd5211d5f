package graft.pdf

import scala.collection.mutable
import scala.util.control.NonFatal
import Lex._

/** Glyph-box rectangle, 32-bit floats for parity (coordinates.h:11-32). */
final class Coords(var x0: Float, var y0: Float, var x1: Float, var y1: Float) {
  def this() = this(0f, 0f, 0f, 0f)
  def copyOf: Coords = new Coords(x0, y0, x1, y1)
  def sameAs(o: Coords): Boolean = x0 == o.x0 && y0 == o.y0 && x1 == o.x1 && y1 == o.y1
}

/** Positioned text atom (coordinates.h:34-58). The UTF-8 length is
  * memoized (word-gap checks re-derive it per neighbour otherwise) and
  * invalidated through the text setter. */
final class Text(var coordinates: Coords, private var _text: String) {
  private var _utf8Len: Int = -1
  def text: String = _text
  def text_=(v: String): Unit = { _text = v; _utf8Len = -1 }
  def utf8Len: Int = {
    if (_utf8Len < 0) _utf8Len = Lex.utf8Length(_text)
    _utf8Len
  }
  private[pdf] def seedUtf8Len(n: Int): Unit = _utf8Len = n
  def copyOf: Text = new Text(coordinates.copyOf, _text)
}

/** The unit flowing through layout reassembly (coordinates.h:60-112).
  * The texts buffer starts at capacity 1 — most chunks carry exactly one
  * text, and the default 16-slot backing array was ~20% of kernel
  * allocations. */
final class TextChunk {
  var coordinates: Coords = new Coords
  var texts: mutable.ArrayBuffer[Text] = new mutable.ArrayBuffer[Text](1)
  var stringLen: Int = 0
  var isEmpty: Boolean = true

  def copyOf: TextChunk = {
    val c = new TextChunk
    c.coordinates = coordinates.copyOf
    c.texts = texts.map(_.copyOf)
    c.stringLen = stringLen
    c.isEmpty = isEmpty
    c
  }

  /** move-assignment semantics: source becomes empty (coordinates.h:79-98). */
  def moveOut(): TextChunk = {
    val c = new TextChunk
    c.coordinates = coordinates
    c.texts = texts
    c.stringLen = stringLen
    c.isEmpty = isEmpty
    isEmpty = true
    c
  }
}

object TextChunk {
  /** `utf8LenHint` >= 0 skips the length scan when the caller already
    * knows utf8Length(text) exactly (converters accumulate it). */
  def of(text: String, coords: Coords, utf8LenHint: Int = -1): TextChunk = {
    val c = new TextChunk
    c.coordinates = coords
    val t = new Text(coords.copyOf, text)
    if (utf8LenHint >= 0) t.seedUtf8Len(utf8LenHint)
    c.texts += t
    c.stringLen = t.utf8Len
    c.isEmpty = false
    c
  }
}

/** Text-matrix state machine (Tm/CTM, Tc/Tw/Tz/TL/Tfs) — coordinates.cc. */
final class Coordinates(ctm0: Array[Float]) {
  private var ctm: Array[Float] = ctm0
  private var tm: Array[Float] = identityMatrix
  private var tfs: Float = 1f
  private var th: Float = 1f
  private var tc: Float = 0f
  private var tw: Float = 0f
  private var tl: Float = 0f
  private var x: Float = 0f
  private var y: Float = 0f
  private val ctms = mutable.Stack.empty[Array[Float]]

  def getCTM: Array[Float] = ctm

  /** coordinates.cc:13-16 */
  private def translate(m: Array[Float], tx: Float, ty: Float): Array[Float] =
    Array(m(0), m(1), m(2), m(3), tx * m(0) + ty * m(2) + m(4), tx * m(1) + ty * m(3) + m(5))

  private def td(xa: Float, ya: Float): Unit = {
    tm = Array(tm(0), tm(1), tm(2), tm(3), xa * tm(0) + ya * tm(2) + tm(4), xa * tm(1) + ya * tm(3) + tm(5))
    x = 0f
    y = 0f
  }

  def setDefault(): Unit = { tm = identityMatrix; x = 0f; y = 0f }

  // operand pops go through OpStack (slice-parsed floats, no substrings)

  /** coordinates.cc:67-92 — glyph-box computation; drops chunks whose
    * baseline moved vertically (vertical text). */
  def adjustCoordinates(s: String, len: Int, width: Float, tj: Float, fonts: Fonts,
                        utf8LenHint: Int = -1): TextChunk = {
    if (tj != 0f) x -= tj * tfs * th * 0.001f
    val ty = fonts.getDescent * tfs + fonts.getRise * tfs
    val adv = width * tfs * th
    val m = matMul(tm, ctm)
    val prevF = m(5)
    val tStart = translate(m, x, y)
    val f = tStart(5)
    if (len > 1) x += tc * th * (len - 1)
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == ' ') x += tw * th
      i += 1
    }
    val tEnd = translate(m, x, y)
    x += adv
    if (prevF != f) return new TextChunk // do not render vertical fonts
    val start = applyMatrixPt(tStart, 0f, ty)
    val end = applyMatrixPt(tEnd, adv, ty + tfs)
    val x0 = math.min(start._1, end._1)
    val x1 = math.max(start._1, end._1)
    val y0 = math.min(start._2, end._2)
    val y1 = math.max(start._2, end._2)
    TextChunk.of(s, new Coords(x0, y0, x1, y1), utf8LenHint)
  }

  def doCm(st: OpStack): Unit = {
    try {
      val f = st.popF(); val e = st.popF(); val d = st.popF()
      val c = st.popF(); val b = st.popF(); val a = st.popF()
      ctm = matMul(Array(a, b, c, d, e, f), ctm)
    } catch { case NonFatal(_) => } // errors swallowed (coordinates.cc:94-103)
  }

  def doQ(st: OpStack): Unit = ctms.push(ctm)
  def doQPop(st: OpStack): Unit = if (ctms.nonEmpty) ctm = ctms.pop()

  def setTz(st: OpStack): Unit = th = st.popF() / 100f
  def setTL(st: OpStack): Unit = tl = st.popF()
  def setTc(st: OpStack): Unit = tc = st.popF()
  def setTw(st: OpStack): Unit = tw = st.popF()

  def setTd(st: OpStack): Unit = {
    val ya = st.popF(); val xa = st.popF(); td(xa, ya)
  }

  def setTD(st: OpStack): Unit = {
    val ya = st.popF(); val xa = st.popF(); td(xa, ya); tl = -ya
  }

  def setTm(st: OpStack): Unit = {
    val f = st.popF(); val e = st.popF(); val d = st.popF()
    val c = st.popF(); val b = st.popF(); val a = st.popF()
    tm = Array(a, b, c, d, e, f)
    x = 0f
    y = 0f
  }

  def setTStar(st: OpStack): Unit = td(0f, -tl)
  def setTf(st: OpStack): Unit = tfs = st.popF()
  def setQuote(st: OpStack): Unit = setTStar(st)

  def setDoubleQuote(st: OpStack): Unit = {
    tc = st.popF()
    tw = st.popF()
    setQuote(st)
  }
}
