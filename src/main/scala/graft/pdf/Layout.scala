package graft.pdf

import scala.collection.mutable.ArrayBuffer

/** Geometric line/box reassembly: PDFMiner-style grouping of positioned
  * chunks into lines, boxes and a reading-order plane.
  * Mirrors pages_extractor.cc:42-466 semantics (incl. tuning constants). */
object Layout {
  final val LINE_OVERLAP = 0.5f
  final val CHAR_MARGIN = 2.0f
  final val WORD_MARGIN = 0.1f
  final val LINE_MARGIN = 0.5f
  final val BOXES_FLOW = 0.5f
  final val MAX_BOXES = 300

  @inline private def height(c: Coords): Float = c.y1 - c.y0
  @inline private def widthC(c: Coords): Float = c.x1 - c.x0
  @inline private def widthChunk(o: TextChunk): Float = (o.coordinates.x1 - o.coordinates.x0) / o.stringLen
  @inline private def widthText(t: Text): Float =
    (t.coordinates.x1 - t.coordinates.x0) / t.utf8Len

  private def isZeroString(line: TextChunk): Boolean =
    widthC(line.coordinates) <= 0 || height(line.coordinates) <= 0

  private def isVOverlap(a: Coords, b: Coords): Boolean = b.y0 <= a.y1 && a.y0 <= b.y1
  private def isHOverlap(a: Coords, b: Coords): Boolean = b.x0 <= a.x1 && a.x0 <= b.x1

  private def vOverlap(a: Coords, b: Coords): Float =
    if (isVOverlap(a, b)) math.min(math.abs(a.y0 - b.y1), math.abs(a.y1 - b.y0)) else 0f

  private def hDistance(a: Coords, b: Coords): Float =
    if (isHOverlap(a, b)) 0f else math.min(math.abs(a.x0 - b.x1), math.abs(a.x1 - b.x0))

  /** pages_extractor.cc:170-181 */
  private def isHAlign(o1: TextChunk, o2: TextChunk): Boolean = {
    val y00 = o1.coordinates.y0.toInt
    val y01 = o1.coordinates.y1.toInt
    val y10 = o2.coordinates.y0.toInt
    val y11 = o2.coordinates.y1.toInt
    (y00 == y10 && y01 == y11) ||
      (isVOverlap(o1.coordinates, o2.coordinates) &&
        (math.min(height(o1.coordinates), height(o2.coordinates)) * LINE_OVERLAP <
          vOverlap(o1.coordinates, o2.coordinates)) &&
        (hDistance(o1.coordinates, o2.coordinates) < math.max(widthChunk(o1), widthChunk(o2)) * CHAR_MARGIN))
  }

  /** pages_extractor.cc:223-231 */
  private def clearEmptyStrings(chunks: ArrayBuffer[TextChunk]): Unit =
    chunks.filterInPlace(c => !(c.stringLen == 0 || c.isEmpty))

  /** pages_extractor.cc:183-221 — coalesce runs of zero-width/height chunks. */
  private def groupZeroLines(lines: ArrayBuffer[TextChunk]): Unit = {
    var startIdx = 0
    var done = false
    while (!done) {
      var first = -1
      var i = startIdx
      while (first < 0 && i < lines.size) {
        if (isZeroString(lines(i))) first = i else i += 1
      }
      if (first < 0) { done = true }
      else {
        var second = lines.size
        i = first + 1
        var found = false
        while (!found && i < lines.size) {
          if (isZeroString(lines(i))) { second = i; found = true } else i += 1
        }
        startIdx = second
        if (second - first != 1) {
          val head = lines(first)
          var j = first + 1
          while (j < second) {
            val it = lines(j)
            head.texts(0).text += it.texts(0).text
            if (head.coordinates.x0 > it.coordinates.x0) head.coordinates.x0 = it.coordinates.x0
            if (head.coordinates.x1 < it.coordinates.x1) head.coordinates.x1 = it.coordinates.x1
            if (head.coordinates.y0 > it.coordinates.y0) head.coordinates.y0 = it.coordinates.y0
            if (head.coordinates.y1 < it.coordinates.y1) head.coordinates.y1 = it.coordinates.y1
            head.stringLen += it.stringLen
            it.isEmpty = true
            j += 1
          }
          head.texts(0).coordinates = head.coordinates.copyOf
        }
      }
    }
  }

  /** pages_extractor.cc:259-267. Texts are MOVED, not copied: every chunk
    * is consumed exactly once by traverseSymbols (either folded into a line
    * or emitted as its own line), and chunk texts are never mutated after
    * the fold — mergeChars replaces them with a fresh joined Text. */
  private def add2line(line: TextChunk, obj: TextChunk): Unit = {
    line.stringLen += obj.stringLen
    line.texts ++= obj.texts
    if (obj.coordinates.x0 < line.coordinates.x0) line.coordinates.x0 = obj.coordinates.x0
    if (obj.coordinates.x1 > line.coordinates.x1) line.coordinates.x1 = obj.coordinates.x1
    if (obj.coordinates.y0 < line.coordinates.y0) line.coordinates.y0 = obj.coordinates.y0
    if (obj.coordinates.y1 > line.coordinates.y1) line.coordinates.y1 = obj.coordinates.y1
  }

  /** pages_extractor.cc:269-305 — sequential line builder over emission order. */
  private def traverseSymbols(chunks: ArrayBuffer[TextChunk]): ArrayBuffer[TextChunk] = {
    // move semantics throughout: `chunks` is a render-once buffer (each
    // result group is rendered exactly once, PagesExtractor.getText), so
    // adopting a chunk as the line seed / emitting it directly is safe —
    // the C++ value-semantics copies would only protect a reuse that never
    // happens. Chunk coords and text coords are separate objects
    // (TextChunk.of), so mutating line bounds can't corrupt glyph boxes.
    val result = ArrayBuffer.empty[TextChunk]
    var line = new TextChunk
    var obj0: TextChunk = null
    var ci = 0
    while (ci < chunks.length) {
      val obj1 = chunks(ci)
      if (obj0 != null) {
        val isCmp = isHAlign(obj0, obj1)
        if (isCmp && !line.isEmpty) add2line(line, obj1)
        else if (!line.isEmpty) {
          result += line
          line = new TextChunk // push moves; fresh empty line
        } else if (isCmp) {
          line = obj0
          line.isEmpty = false
          add2line(line, obj1)
        } else {
          result += obj0
        }
      }
      obj0 = obj1
      ci += 1
    }
    if (line.isEmpty && obj0 != null) result += obj0
    if (!line.isEmpty) result += line
    result
  }

  /** pages_extractor.cc:354-382 — join a line's texts; insert ' ' on word gaps.
    * Deliberately does NOT re-sort by x (reference comment at 360-369). */
  private def mergeChars(chars: ArrayBuffer[TextChunk]): Unit = {
    var li = 0
    while (li < chars.length) {
      val line = chars(li)
      li += 1
      if (line.texts.size == 1) {
        // single-text line (the norm): reuse the string, just rebase the
        // coordinates onto the line box
        line.texts(0).coordinates = line.coordinates.copyOf
      } else if (line.texts.nonEmpty) {
        val whole = new Text(line.coordinates.copyOf, "")
        val sb = new java.lang.StringBuilder(line.stringLen + line.texts.size)
        var i = 0
        while (i < line.texts.size) {
          sb.append(line.texts(i).text)
          if (i != line.texts.size - 1 &&
              line.texts(i).coordinates.x1 < line.texts(i + 1).coordinates.x0 -
                math.max(height(line.texts(i + 1).coordinates), widthText(line.texts(i + 1))) * WORD_MARGIN) {
            sb.append(' ')
          }
          i += 1
        }
        whole.text = sb.toString
        val one = new ArrayBuffer[Text](1)
        one += whole
        line.texts = one
      }
    }
  }

  /** pages_extractor.cc:384-390 */
  private def makeTextLines(chunks: ArrayBuffer[TextChunk]): ArrayBuffer[TextChunk] = {
    clearEmptyStrings(chunks)
    val result = traverseSymbols(chunks)
    mergeChars(result)
    result
  }

  /** pages_extractor.cc:307-321 */
  private def isNeighbourLines(o1: TextChunk, o2: TextChunk): Boolean = {
    if (o1.isEmpty || o2.isEmpty) return false
    val h1 = height(o1.coordinates)
    val h2 = height(o2.coordinates)
    val d = LINE_MARGIN * math.max(h1, h2)
    math.abs(h1 - h2) < d &&
      o2.coordinates.x1 > o1.coordinates.x0 && o2.coordinates.x0 < o1.coordinates.x1 &&
      o2.coordinates.y0 < o1.coordinates.y1 + d && o2.coordinates.y1 > o1.coordinates.y0 - d &&
      (math.abs(o1.coordinates.x0 - o2.coordinates.x0) < d ||
        math.abs(o1.coordinates.x1 - o2.coordinates.x1) < d)
  }

  /** pages_extractor.cc:323-335 — transitive closure; consumes from `lines`. */
  private def getNeighbourLines(lines: ArrayBuffer[TextChunk], lineArg: TextChunk): ArrayBuffer[TextChunk] = {
    val result = new ArrayBuffer[TextChunk](4)
    result += lineArg
    var i = 0
    while (i < result.size) {
      var j = 0
      while (j < lines.size) {
        if (isNeighbourLines(lines(j), result(i))) result += lines(j).moveOut()
        j += 1
      }
      i += 1
    }
    result
  }

  /** pages_extractor.cc:233-257 — sort (y1 desc, x0 asc), join with '\n'. */
  private def mergeLines(lines: ArrayBuffer[TextChunk]): TextChunk = {
    if (lines.isEmpty) return new TextChunk
    groupZeroLines(lines)
    clearEmptyStrings(lines)
    val sorted = lines.sortWith { (a, b) =>
      if (a.coordinates.y1 != b.coordinates.y1) a.coordinates.y1 > b.coordinates.y1
      else a.coordinates.x0 < b.coordinates.x0
    }
    if (sorted.isEmpty) return new TextChunk
    // build the joined text ONCE; stringLen keeps the reference's quirk of
    // counting only the FIRST line's newline (utf8(line0+"\n") + Σ rest)
    val first = sorted(0).texts(0)
    val coords = sorted(0).coordinates.copyOf
    val result = new TextChunk
    result.coordinates = coords
    result.isEmpty = false
    result.stringLen = first.utf8Len + 1
    var total = first.text.length + 1
    var i = 1
    while (i < sorted.size) { total += sorted(i).texts(0).text.length + 1; i += 1 }
    val sb = new java.lang.StringBuilder(total)
    sb.append(first.text).append('\n')
    i = 1
    while (i < sorted.size) {
      sb.append(sorted(i).texts(0).text).append('\n')
      if (sorted(i).coordinates.x0 < result.coordinates.x0) result.coordinates.x0 = sorted(i).coordinates.x0
      if (sorted(i).coordinates.x1 > result.coordinates.x1) result.coordinates.x1 = sorted(i).coordinates.x1
      if (sorted(i).coordinates.y0 < result.coordinates.y0) result.coordinates.y0 = sorted(i).coordinates.y0
      if (sorted(i).coordinates.y1 > result.coordinates.y1) result.coordinates.y1 = sorted(i).coordinates.y1
      result.stringLen += sorted(i).stringLen
      i += 1
    }
    result.texts += new Text(result.coordinates.copyOf, sb.toString)
    result
  }

  /** pages_extractor.cc:337-352 */
  private def makeTextBoxes(lines: ArrayBuffer[TextChunk]): ArrayBuffer[TextChunk] = {
    val textBoxes = ArrayBuffer.empty[TextChunk]
    var it = lines.indexWhere(l => !l.isEmpty)
    while (it >= 0) {
      val line = mergeLines(getNeighbourLines(lines, lines(it).moveOut()))
      if (!line.isEmpty) textBoxes += line
      it = lines.indexWhere(l => !l.isEmpty, it)
    }
    groupZeroLines(textBoxes)
    clearEmptyStrings(textBoxes)
    textBoxes
  }

  /** pages_extractor.cc:97-111 */
  private def isBetween(groups: ArrayBuffer[TextChunk], obj1: Int, obj2: Int): Boolean = {
    val c1 = groups(obj1).coordinates
    val c2 = groups(obj2).coordinates
    val x0 = math.min(c1.x0, c2.x0)
    val y0 = math.min(c1.y0, c2.y0)
    val x1 = math.max(c1.x1, c2.x1)
    val y1 = math.max(c1.y1, c2.y1)
    var k = 0
    while (k < groups.size) {
      val obj = groups(k)
      val c = obj.coordinates
      if (c.x0 >= x0 && c.y0 >= y0 && c.x1 <= x1 && c.y1 <= y1 &&
          !obj.isEmpty && !c.sameAs(c1) && !c.sameAs(c2)) return true
      k += 1
    }
    false
  }

  /** pages_extractor.cc:113-135 — merge o2 into o1 in reading order. */
  private def createGroup(groups: ArrayBuffer[TextChunk], obj1: Int, obj2: Int): Int = {
    def pos(o: TextChunk): Float =
      (1 - BOXES_FLOW) * o.coordinates.x0 - (1 + BOXES_FLOW) * (o.coordinates.y0 + o.coordinates.y1)
    val pos1 = pos(groups(obj1))
    val pos2 = pos(groups(obj2))
    val o1 = if (pos1 <= pos2) obj1 else obj2
    val o2 = if (pos1 <= pos2) obj2 else obj1
    val dstC = groups(o1).coordinates
    val srcTexts = groups(o2).texts
    var ti = 0
    while (ti < srcTexts.length) {
      val c = srcTexts(ti).coordinates
      if (c.x0 < dstC.x0) dstC.x0 = c.x0
      if (c.x1 > dstC.x1) dstC.x1 = c.x1
      if (c.y0 < dstC.y0) dstC.y0 = c.y0
      if (c.y1 > dstC.y1) dstC.y1 = c.y1
      ti += 1
    }
    groups(o1).texts ++= groups(o2).texts
    groups(o2).texts = ArrayBuffer.empty
    groups(o2).isEmpty = true
    o1
  }

  /** dist_t worklist as parallel primitive arrays (the reference's
    * vector<dist_t> erase/push_back order semantics are preserved: removal
    * compacts in order, new pairs append at the end). The (c, d) sort key
    * is packed into ONE long — c in bit 32, the float's order-preserving
    * bit image in the low 32 — so minIndex is a single long compare per
    * element. BoxCache.dist never produces -0.0 (a-a = +0.0 in IEEE), so the
    * bit image ordering equals float ordering; ties keep first-index
    * min_element semantics because equal (c, d) give equal keys. */
  private final class DistList(capacity: Int) {
    var key: Array[Long] = new Array[Long](capacity)
    var o1: Array[Int] = new Array[Int](capacity)
    var o2: Array[Int] = new Array[Int](capacity)
    var size: Int = 0

    @inline private def sortableBits(dv: Float): Long = {
      val bits = java.lang.Float.floatToRawIntBits(dv)
      (bits ^ (if (bits < 0) 0xFFFFFFFF else 0x80000000)).toLong & 0xFFFFFFFFL
    }

    def add(dv: Float, a: Int, b: Int): Unit = {
      if (size == key.length) {
        val n = key.length * 2
        key = java.util.Arrays.copyOf(key, n)
        o1 = java.util.Arrays.copyOf(o1, n)
        o2 = java.util.Arrays.copyOf(o2, n)
      }
      key(size) = sortableBits(dv)
      o1(size) = a
      o2(size) = b
      size += 1
    }

    def cIsZero(k: Int): Boolean = (key(k) >>> 32) == 0L
    def deprioritize(k: Int): Unit = key(k) |= (1L << 32)

    /** first index with minimal (c, d) — min_element semantics. */
    def minIndex: Int = {
      var m = 0
      var k = 1
      while (k < size) {
        if (key(k) < key(m)) m = k
        k += 1
      }
      m
    }

    /** drop every pair touching a or b, preserving order (remove_if). */
    def removeTouching(a: Int, b: Int): Unit = {
      var w = 0
      var k = 0
      while (k < size) {
        if (!(o1(k) == a || o1(k) == b || o2(k) == a || o2(k) == b)) {
          if (w != k) { key(w) = key(k); o1(w) = o1(k); o2(w) = o2(k) }
          w += 1
        }
        k += 1
      }
      size = w
    }
  }

  /** pages_extractor.cc:402-412 */
  private def boxesAsIs(boxes: ArrayBuffer[TextChunk]): TextChunk = {
    val result = new TextChunk
    result.texts = ArrayBuffer(new Text(new Coords(0, 0, 1, 1), ""))
    val sb = new java.lang.StringBuilder
    boxes.foreach { chunk =>
      result.isEmpty = false
      sb.append(chunk.texts(0).text)
    }
    result.texts(0).text = sb.toString
    result
  }

  // per-thread reused worklist: makePlane is called once per chunk group
  // and allocated ~n² slots each time; the arrays persist per executor
  // thread and only ever grow (makePlane is not reentrant)
  private val tlDists = ThreadLocal.withInitial[DistList](() => new DistList(4096))

  /** Flat per-box mirror of (coords, area, isEmpty) for the O(n²) distance
    * loops: parallel primitive arrays give sequential float loads per
    * pair, and the per-box area (invariant between merges) is computed
    * once per box instead of once per pair. Merged groups are re-`load`ed
    * after each createGroup. */
  private final class BoxCache {
    var x0 = new Array[Float](512); var y0 = new Array[Float](512)
    var x1 = new Array[Float](512); var y1 = new Array[Float](512)
    var area = new Array[Float](512)
    var dead = new Array[Boolean](512)
    def ensure(n: Int): Unit = if (n > x0.length) {
      var c = x0.length
      while (c < n) c *= 2
      x0 = new Array[Float](c); y0 = new Array[Float](c); x1 = new Array[Float](c)
      y1 = new Array[Float](c); area = new Array[Float](c); dead = new Array[Boolean](c)
    }
    def load(i: Int, b: TextChunk): Unit = {
      val c = b.coordinates
      x0(i) = c.x0; y0(i) = c.y0; x1(i) = c.x1; y1(i) = c.y1
      area(i) = (c.x1 - c.x0) * (c.y1 - c.y0)
      dead(i) = b.isEmpty
    }
    /** pages_extractor.cc:392-400 — union area minus areas, flat. */
    def dist(i: Int, j: Int): Float = {
      val ux0 = math.min(x0(i), x0(j))
      val uy0 = math.min(y0(i), y0(j))
      val ux1 = math.max(x1(i), x1(j))
      val uy1 = math.max(y1(i), y1(j))
      (ux1 - ux0) * (uy1 - uy0) - area(i) - area(j)
    }
  }
  private val tlBoxes = ThreadLocal.withInitial[BoxCache](() => new BoxCache)

  /** pages_extractor.cc:414-452 — greedy agglomerative clustering, capped. */
  private def makePlane(boxes: ArrayBuffer[TextChunk]): TextChunk = {
    if (boxes.isEmpty) return new TextChunk
    if (boxes.size > MAX_BOXES) return boxesAsIs(boxes)
    val n = boxes.size
    val bc = tlBoxes.get()
    bc.ensure(n)
    val dists = tlDists.get()
    dists.size = 0
    var i = 0
    while (i < n) { bc.load(i, boxes(i)); i += 1 }
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        dists.add(bc.dist(i, j), i, j)
        j += 1
      }
      i += 1
    }
    while (dists.size > 0) {
      val m = dists.minIndex
      if (dists.cIsZero(m) && isBetween(boxes, dists.o1(m), dists.o2(m))) {
        dists.deprioritize(m)
      } else {
        val d1 = dists.o1(m)
        val d2 = dists.o2(m)
        dists.removeTouching(d1, d2)
        val group = createGroup(boxes, d1, d2)
        bc.load(group, boxes(group))
        bc.dead(if (group == d1) d2 else d1) = true
        var b = 0
        while (b < n) {
          if (b != group && !bc.dead(b)) dists.add(bc.dist(group, b), group, b)
          b += 1
        }
      }
    }
    val rem = boxes.find(g => !g.isEmpty)
    rem.getOrElse(Lex.err("make_plane: all objects are moved"))
  }

  /** pages_extractor.cc:454-460 */
  private def makeString(group: TextChunk): String = {
    if (group.isEmpty) return ""
    val sb = new java.lang.StringBuilder
    group.texts.foreach(t => sb.append(t.text))
    sb.toString
  }

  /** pages_extractor.cc:462-466 — the full per-chunk-group pipeline. */
  def renderText(chunks: ArrayBuffer[TextChunk]): String =
    makeString(makePlane(makeTextBoxes(makeTextLines(chunks))))
}
