package graft.pdf

import scala.collection.mutable
import scala.util.control.NonFatal
import Lex._

/** Page-tree walk + content-stream interpreter (reference:
  * pages_extractor.cc). One instance per document. */
final class PagesExtractor(
    catalogPagesId: Long,
    storage: ObjectStorage,
    decryptData: Dict,
    doc: String) {

  private val MAX_XOBJECT_NESTED = 30

  private val fonts = mutable.HashMap.empty[String, Fonts]
  private val pages = mutable.ArrayBuffer.empty[Long]
  private val dicts = mutable.HashMap.empty[String, Dict]
  private val mediaBoxes = mutable.HashMap.empty[String, Array[Float]]
  private val rotates = mutable.HashMap.empty[String, Long]
  private val converterEngineCache = mutable.HashMap.empty[String, mutable.HashMap[String, ConverterEngine]]
  private val xObjectStreams = mutable.HashMap.empty[String, String]
  private val xObjectMatrices = mutable.HashMap.empty[String, Array[Float]]
  private val cmapCache = mutable.HashMap.empty[Long, CMap]
  private val xObjectsCache = mutable.HashMap.empty[String, Dict]

  // ---- ctor: pages_extractor.cc:554-574 ----
  locally {
    val catalogPair = storage.getObject(catalogPagesId)
    if (catalogPair.kind != Kind.DICTIONARY) err("PagesExtractor: catalog must be DICTIONARY")
    val data = getDictionaryData(catalogPair.raw, 0)
    data.get("/Type") match {
      case Some(o) if o.raw == "/Pages" =>
      case _ => err("In root catalog type must be '/Type /Pages'")
    }
    val checked = mutable.Set.empty[Long]
    getPagesResourcesInt(checked, data, getFonts(data, new Fonts(storage, newDict())),
      getBox(data, None), getRotate(data, 0L))
  }

  /** pages_extractor.cc:530-540 */
  private def getRotate(dictionary: Dict, parentRotate: Long): Long =
    dictionary.get("/Rotate") match {
      case Some(o) =>
        val v = strictStoul(o.raw)
        if (v % 90 != 0) err(s"get_rotate: /Rotate must be multiple of 90.Val:$v")
        v
      case None => parentRotate
    }

  /** pages_extractor.cc:142-148 */
  private def initCTM(rotate: Long, mediaBox: Array[Float]): Array[Float] = rotate match {
    case 90L => Array(0f, -1f, 1f, 0f, -mediaBox(1), mediaBox(2))
    case 180L => Array(-1f, 0f, 0f, -1f, mediaBox(2), mediaBox(3))
    case 270L => Array(0f, 1f, -1f, 0f, mediaBox(3), -mediaBox(0))
    case _ => Array(1f, 0f, 0f, 1f, -mediaBox(0), -mediaBox(1))
  }

  /** pages_extractor.cc:576-617 — recursive /Kids DFS with cycle guard. */
  private def getPagesResourcesInt(
      checked: mutable.Set[Long],
      parentDict: Dict,
      parentFonts: Fonts,
      parentMediaBox: Option[Array[Float]],
      parentRotate: Long): Unit = {
    parentDict.get("/Type") match {
      case Some(o) if o.raw == "/Pages" =>
      case _ => return
    }
    val kids = parentDict("/Kids")
    if (kids.kind != Kind.ARRAY) err("get_pages_resources_int: /Kids is not array")
    getSet(kids.raw).foreach { case (id, _) =>
      if (!checked.contains(id)) {
        checked += id
        val pageDict = storage.getObject(id)
        if (pageDict.kind != Kind.DICTIONARY) err("get_pages_resources_int: page must be DICTIONARY")
        val dictData = getDictionaryData(pageDict.raw, 0)
        if (dictData("/Type").raw == "/Page") {
          pages += id
          val idStr = id.toString
          fonts.update(idStr, getFonts(dictData, parentFonts))
          mediaBoxes.update(idStr, getBox(dictData, parentMediaBox).getOrElse(err("no media box")))
          rotates.update(idStr, getRotate(dictData, parentRotate))
          converterEngineCache.update(idStr, mutable.HashMap.empty)
          xObjectsCache.update(idStr, newDict())
          dicts.update(idStr, dictData)
        } else {
          getPagesResourcesInt(checked, dictData, getFonts(dictData, parentFonts),
            getBox(dictData, parentMediaBox), getRotate(dictData, parentRotate))
        }
      }
    }
  }

  /** pages_extractor.cc:671-679 */
  private def getFonts(dictionary: Dict, parentFonts: Fonts): Fonts =
    dictionary.get("/Resources") match {
      case None => parentFonts.copyOf
      case Some(res) =>
        val resources = Storage.getDictOrIndirectDict(res, storage)
        resources.get("/Font") match {
          case None => new Fonts(storage, newDict())
          case Some(f) => new Fonts(storage, Storage.getDictOrIndirectDict(f, storage))
        }
    }

  /** pages_extractor.cc:681-697 */
  private def parseRectangle(rectangle: Obj): Array[Float] = {
    if (rectangle.kind != Kind.ARRAY && rectangle.kind != Kind.INDIRECT_OBJECT)
      err(s"parse_rectangle: wrong type=${rectangle.kind} val:${rectangle.raw}")
    val array = if (rectangle.kind == Kind.INDIRECT_OBJECT)
      storage.getObject(getIdGen(rectangle.raw)._1).raw else rectangle.raw
    val arrayData = getArrayData(array, 0)
    if (arrayData.size != 4) err(s"parse_rectangle: wrong size of array. Size:${arrayData.size}")
    Array(stof(arrayData(0).raw), stof(arrayData(1).raw), stof(arrayData(2).raw), stof(arrayData(3).raw))
  }

  /** pages_extractor.cc:699-705 */
  private def getBox(dictionary: Dict, parentMediaBox: Option[Array[Float]]): Option[Array[Float]] =
    dictionary.get("/MediaBox") match {
      case Some(r) => Some(parseRectangle(r))
      case None => parentMediaBox
    }

  /** pages_extractor.cc:707-727 — annotation /AP /N stream ids. */
  private def getIdGenApN(pageDict: Dict): mutable.ArrayBuffer[(Long, Long)] = {
    val result = mutable.ArrayBuffer.empty[(Long, Long)]
    pageDict.get("/Annots") match {
      case Some(a) if a.kind == Kind.INDIRECT_OBJECT =>
        val annotsId = getIdGen(a.raw)._1
        if (!storage.isObjectExists(annotsId)) return result
        val annots = getArrayData(storage.getObject(annotsId).raw, 0)
        annots.foreach { el =>
          val annotDict = getDictionaryData(
            if (el.kind == Kind.DICTIONARY) el.raw else storage.getObject(getIdGen(el.raw)._1).raw, 0)
          annotDict.get("/AP").foreach { ap =>
            val apDict = getDictionaryData(
              if (ap.kind == Kind.DICTIONARY) ap.raw else storage.getObject(getIdGen(ap.raw)._1).raw, 0)
            apDict.get("/N") match {
              case Some(n) if n.kind == Kind.INDIRECT_OBJECT => result += getIdGen(n.raw)
              case _ =>
            }
          }
        }
      case _ =>
    }
    result
  }

  /** pages_extractor.cc:619-669 */
  private def getXObjectData(parentId: String, xObjectName: String, resourceName: String): Boolean = {
    val parentDict = dicts(parentId)
    var xObjects = xObjectsCache(parentId)
    if (xObjects.isEmpty) {
      val resourcesIt = parentDict.get("/Resources") match {
        case None => return false
        case Some(r) => r
      }
      val resources = Storage.getDictOrIndirectDict(resourcesIt, storage)
      resources.get("/XObject") match {
        case None => return false
        case Some(x) =>
          xObjects = Storage.getDictOrIndirectDict(x, storage)
          xObjectsCache.update(parentId, xObjects)
      }
    }
    val xObject = xObjects.get(xObjectName) match {
      case None => return false
      case Some(x) => x
    }
    val dict = Storage.getDictOrIndirectDict(xObject, storage)
    if (dict("/Subtype").raw != "/Form") return false
    if (!dict.contains("/BBox")) return false
    fonts.update(resourceName, getFonts(dict, fonts(parentId)))
    converterEngineCache.update(resourceName, mutable.HashMap.empty)
    xObjectStreams.update(resourceName, Storage.getStream(doc, getIdGen(xObject.raw), storage, decryptData))
    // NB: the reference looks up "Matrix" (no slash, pages_extractor.cc:643)
    // so a /Matrix entry is never found and the identity is always used.
    dict.get("Matrix") match {
      case None => xObjectMatrices.update(resourceName, identityMatrix)
      case Some(m) =>
        val numbers = getArrayData(m.raw, 0)
        if (numbers.size != 6) err(s"get_XObject_data: matrix must have 6 elements. Data = ${m.raw}")
        xObjectMatrices.update(resourceName, Array(
          stof(numbers(0).raw), stof(numbers(1).raw), stof(numbers(2).raw),
          stof(numbers(3).raw), stof(numbers(4).raw), stof(numbers(5).raw)))
    }
    if (dict.contains("/Resources")) {
      xObjectsCache.update(resourceName, newDict())
    } else {
      parentDict.get("/Resources").foreach(r => emplace(dict, "/Resources", r))
      xObjectsCache.update(resourceName, xObjectsCache(parentId))
    }
    dicts.update(resourceName, dict)
    true
  }

  /** pages_extractor.cc:781-792 */
  private def getEncoding(fontDict: Dict): Option[Obj] =
    fontDict.get("/Encoding").map { e =>
      val encoding = if (e.kind == Kind.INDIRECT_OBJECT) Storage.getIndirectObjectData(e.raw, storage) else e
      if (encoding.kind != Kind.DICTIONARY && encoding.kind != Kind.NAME_OBJECT)
        err(s"get_encoding: wrong /Encoding type: ${encoding.kind} val=${encoding.raw}")
      encoding
    }

  /** pages_extractor.cc:542-551 */
  private def getCharsetConverter(encoding: Option[Obj]): CharsetConverter = encoding match {
    case None => CharsetConverter("")
    case Some(e) if e.kind == Kind.NAME_OBJECT => CharsetConverter(e.raw)
    case Some(e) =>
      val dictionary = getDictionaryData(e.raw, 0)
      if (dictionary.contains("/Differences")) CharsetConverter.none()
      else dictionary.get("/BaseEncoding") match {
        case None => CharsetConverter("")
        case Some(b) => CharsetConverter(b.raw)
      }
  }

  /** pages_extractor.cc:794-801 */
  private def getDiffConverter(encoding: Option[Obj]): DiffConverter = encoding match {
    case None => DiffConverter.none()
    case Some(e) if e.kind == Kind.NAME_OBJECT => DiffConverter.none()
    case Some(e) =>
      val dictionary = getDictionaryData(e.raw, 0)
      dictionary.get("/Differences") match {
        case None => DiffConverter.none()
        case Some(d) => DiffConverter.getConverter(dictionary, d, storage)
      }
  }

  /** pages_extractor.cc:803-839 — /ToUnicode ▸ FontFile ▸ FontFile2. */
  private def getToUnicodeConverter(fontDict: Dict): ToUnicodeConverter = {
    fontDict.get("/ToUnicode") match {
      case None =>
        val descDict = fontDict.get("/FontDescriptor") match {
          case None => return ToUnicodeConverter.none()
          case Some(d) => Storage.getDictOrIndirectDict(d, storage)
        }
        descDict.get("/FontFile") match {
          case Some(ff) if !fontDict.contains("/Encoding") =>
            val idGen = getIdGen(ff.raw)
            val cmap = cmapCache.getOrElseUpdate(idGen._1, CMap.getFontFile(doc, storage, idGen, decryptData))
            return ToUnicodeConverter(cmap)
          case _ =>
        }
        descDict.get("/FontFile2") match {
          case None => ToUnicodeConverter.none()
          case Some(ff2) =>
            val idGen = getIdGen(ff2.raw)
            val cmap = cmapCache.getOrElseUpdate(idGen._1, FontFile2.getFontFile2(doc, storage, idGen, decryptData))
            ToUnicodeConverter(cmap)
        }
      case Some(tu) => tu.kind match {
        case Kind.INDIRECT_OBJECT =>
          val idGen = getIdGen(tu.raw)
          val cmap = cmapCache.getOrElseUpdate(idGen._1, CMap.getCmap(doc, storage, idGen, decryptData))
          ToUnicodeConverter(cmap)
        case Kind.NAME_OBJECT => ToUnicodeConverter.none()
        case k => err(s"get_to_unicode_converter: /ToUnicode wrong type: $k val:${tu.raw}")
      }
    }
  }

  /** pages_extractor.cc:841-851 — ConverterEngine per (resource, font). */
  private def getFontEncoding(font: String, resourceId: String): ConverterEngine = {
    val cache = converterEngineCache(resourceId)
    cache.get(font) match {
      case Some(e) => e
      case None =>
        val fontDict = fonts(resourceId).getCurrentFontDictionary
        val encoding = getEncoding(fontDict)
        val engine = new ConverterEngine(getCharsetConverter(encoding), getDiffConverter(encoding),
          getToUnicodeConverter(fontDict))
        cache.update(font, engine)
        engine
    }
  }

  // ---- interpreter (pages_extractor.cc:853-1036) ----

  private final class Arg(
      val result: mutable.ArrayBuffer[mutable.ArrayBuffer[TextChunk]],
      var encoding: ConverterEngine,
      val st: OpStack,
      val coordinates: Coordinates,
      val resourceId: String,
      var in: Boolean,
      val content: String,
      var xobjectNested: Int)

  /** pages_extractor.cc:511-528 — operands push as slices, no substring. */
  private def put2stack(st: OpStack, buffer: String, pos: Pos): Boolean = {
    val start = pos.i
    buffer.charAt(pos.i) match {
      case '(' => scanString(buffer, pos); st.push(Kind.STRING, start, pos.i); true
      case '<' =>
        if (pos.i + 1 >= buffer.length) err("put2stack: out of range")
        if (buffer.charAt(pos.i + 1) == '<') { scanDictionary(buffer, pos); st.push(Kind.DICTIONARY, start, pos.i) }
        else { scanString(buffer, pos); st.push(Kind.STRING, start, pos.i) }
        true
      case '[' => scanArray(buffer, pos); st.push(Kind.ARRAY, start, pos.i); true
      case _ => false
    }
  }

  private def doBI(arg: Arg, pos: Pos): Unit = {
    var done = false
    while (!done) {
      pos.i = find(arg.content, "EI", pos.i)
      if (pos.i == NPOS) { pos.i = arg.content.length; done = true }
      else {
        pos.i += 2
        if (pos.i == arg.content.length || isBlank(arg.content.charAt(pos.i))) done = true
      }
    }
  }

  private def doTf(arg: Arg): Unit = {
    arg.coordinates.setTf(arg.st)
    val font = arg.st.popStr()._2
    fonts(arg.resourceId).setCurrentFont(font)
    arg.encoding = getFontEncoding(font, arg.resourceId)
  }

  private def doTj(arg: Arg): Unit = {
    if (!arg.in || arg.encoding == null || arg.encoding.isVertical) return
    val chunk = arg.encoding.getString(arg.st.popDecoded(), arg.coordinates, 0f, fonts(arg.resourceId))
    if (!chunk.isEmpty) arg.result(0) += chunk
  }

  private def doTJ(arg: Arg): Unit = {
    if (!arg.in || arg.encoding == null || arg.encoding.isVertical) return
    arg.result(0) ++= arg.encoding.getStringsFromArray(arg.st.popStr()._2, arg.coordinates, fonts(arg.resourceId))
  }

  private def doDo(arg: Arg): Unit = {
    val xObject = arg.st.popStr()._2
    val resourceName = "/" + arg.resourceId + "/" + xObject
    if (!getXObjectData(arg.resourceId, xObject, resourceName)) return
    xObjectStreams.get(resourceName).foreach { stream =>
      arg.xobjectNested += 1
      val ctm = matMul(xObjectMatrices(resourceName), arg.coordinates.getCTM)
      extractText(stream, resourceName, Some(ctm), arg.xobjectNested).foreach(r => arg.result += r)
      arg.xobjectNested -= 1
    }
  }

  private def doQuote(arg: Arg): Unit = {
    if (arg.encoding == null || !arg.in) { return }
    arg.coordinates.setQuote(arg.st)
    arg.result(0) += arg.encoding.getString(arg.st.popDecoded(), arg.coordinates, 0f, fonts(arg.resourceId))
  }

  private def doDoubleQuote(arg: Arg): Unit = {
    if (arg.encoding == null || !arg.in) { return }
    val str = arg.st.popStr()._2
    arg.coordinates.setDoubleQuote(arg.st)
    arg.result(0) += arg.encoding.getString(str, arg.coordinates, 0f, fonts(arg.resourceId))
  }

  /** pages_extractor.cc:1010-1036 — the token loop. Unknown tokens become
    * operands; dispatch covers exactly the reference handler table. */
  private def extractText(
      pageContent: String,
      resourceId: String,
      ctm: Option[Array[Float]],
      xobjectNested: Int): mutable.ArrayBuffer[mutable.ArrayBuffer[TextChunk]] = {
    if (xobjectNested > MAX_XOBJECT_NESTED)
      return mutable.ArrayBuffer.empty
    val coordinates = new Coordinates(ctm.getOrElse(initCTM(rotates(resourceId), mediaBoxes(resourceId))))
    val st = new OpStack(pageContent)
    val result = mutable.ArrayBuffer(new mutable.ArrayBuffer[TextChunk](64))
    val arg = new Arg(result, null, st, coordinates, resourceId, in = false, pageContent, xobjectNested)
    val pos = new Pos(skipComments(pageContent, 0, validate = false))
    // operator dispatch on raw chars — token text is never materialized;
    // unknown tokens become operand slices (the reference's handler table)
    while (pos.i != NPOS && pos.i < pageContent.length) {
      if (!(arg.in && put2stack(st, pageContent, pos))) {
        val tStart = pos.i
        var tEnd = findFirstOf(pageContent, CLS_TOKEN_END, pos.i + 1)
        if (tEnd == NPOS) tEnd = pageContent.length
        pos.i = tEnd
        val len = tEnd - tStart
        val c0 = pageContent.charAt(tStart)
        var handled = true
        if (len == 1) {
          c0 match {
            case '\'' => doQuote(arg)
            case '"' => doDoubleQuote(arg)
            case 'q' => arg.coordinates.doQ(st)
            case 'Q' => arg.coordinates.doQPop(st)
            case _ => handled = false
          }
        } else if (len == 2) {
          ((c0 << 8) | pageContent.charAt(tStart + 1)) match {
            case 0x4254 /* BT */ => arg.coordinates.setDefault(); arg.in = true
            case 0x4554 /* ET */ => arg.in = false
            case 0x5464 /* Td */ => if (arg.in) arg.coordinates.setTd(st)
            case 0x5444 /* TD */ => if (arg.in) arg.coordinates.setTD(st)
            case 0x546d /* Tm */ => if (arg.in) arg.coordinates.setTm(st)
            case 0x542a /* T* */ => if (arg.in) arg.coordinates.setTStar(st)
            case 0x544c /* TL */ => if (arg.in) arg.coordinates.setTL(st)
            case 0x5463 /* Tc */ => if (arg.in) arg.coordinates.setTc(st)
            case 0x5477 /* Tw */ => if (arg.in) arg.coordinates.setTw(st)
            case 0x547a /* Tz */ => if (arg.in) arg.coordinates.setTz(st)
            case 0x5473 /* Ts */ => if (arg.in) fonts(arg.resourceId).setRise(st.popF())
            case 0x5466 /* Tf */ => doTf(arg)
            case 0x546a /* Tj */ => doTj(arg)
            case 0x544a /* TJ */ => doTJ(arg)
            case 0x636d /* cm */ => arg.coordinates.doCm(st)
            case 0x446f /* Do */ => doDo(arg)
            case 0x4249 /* BI */ => doBI(arg, pos)
            case _ => handled = false
          }
        } else handled = false
        if (!handled) st.push(Kind.VALUE, tStart, tEnd)
      }
      pos.i = skipComments(pageContent, pos.i, validate = false)
    }
    result
  }

  /** pages_extractor.cc:468-489 */
  private def outputContent(
      visited: mutable.Set[Long],
      idGen: (Long, Long)): String = {
    val contentPair = storage.getObject(idGen._1)
    if (contentPair.kind == Kind.ARRAY) {
      val contents = getSet(contentPair.raw)
      val sb = new java.lang.StringBuilder
      contents.foreach { p =>
        if (!visited.contains(p._1)) {
          visited += p._1
          sb.append(outputContent(visited, p))
        }
      }
      return sb.toString
    }
    Storage.getStream(doc, idGen, storage, decryptData)
  }

  /** pages_extractor.cc:491-509 */
  private def getIdGenFromDictionary(data: Dict, key: String): mutable.ArrayBuffer[(Long, Long)] =
    data.get(key) match {
      case None => mutable.ArrayBuffer.empty
      case Some(o) => o.kind match {
        case Kind.ARRAY => getSet(o.raw)
        case Kind.INDIRECT_OBJECT => mutable.ArrayBuffer(getIdGen(o.raw))
        case _ => err("/Contents type must be ARRAY or INDIRECT_OBJECT")
      }
    }

  /** pages_extractor.cc:743-762 */
  private def getStreamContents(
      pageId: Long,
      idsGen: mutable.ArrayBuffer[(Long, Long)],
      visitedIds: mutable.Set[Long]): String = {
    val pageIdStr = pageId.toString
    // single-/Contents fast path (the common case): hand the stream
    // straight to the interpreter — no builder, no full-content copy
    var single: String = null
    var pageContent: java.lang.StringBuilder = null
    var gi = 0
    while (gi < idsGen.length) {
      val idGen = idsGen(gi)
      val streamPair = storage.getObject(idGen._1)
      if (streamPair.kind == Kind.DICTIONARY) {
        val props = getDictionaryData(streamPair.raw, 0)
        fonts.update(pageIdStr, getFonts(props, fonts(pageIdStr)))
      }
      val part = outputContent(visitedIds, idGen)
      if (single == null && pageContent == null) single = part
      else {
        if (pageContent == null) {
          pageContent = new java.lang.StringBuilder(single.length + part.length + 64)
          pageContent.append(single)
          single = null
        }
        pageContent.append(part)
      }
      gi += 1
    }
    val content = if (single != null) single else if (pageContent != null) pageContent.toString else ""
    val sb = new java.lang.StringBuilder
    extractText(content, pageIdStr, None, 0).foreach { r =>
      sb.append(Layout.renderText(r))
    }
    sb.toString
  }

  private def getStreamContentsNoException(
      pageId: Long,
      idsGen: mutable.ArrayBuffer[(Long, Long)],
      visitedIds: mutable.Set[Long]): String =
    try getStreamContents(pageId, idsGen, visitedIds)
    catch { case NonFatal(_) => "" }

  /** pages_extractor.cc:764-779 — page-major text, annotations best-effort. */
  def getText(): String = {
    val sb = new java.lang.StringBuilder
    pages.foreach(appendPageText(_, sb))
    sb.toString
  }

  /** Structured variant: per-page extracted text, page order. */
  def getPageTexts(): Seq[String] =
    pages.iterator.map(pageId => appendPageText(pageId, new java.lang.StringBuilder).toString).toSeq

  /** Appends one page's text to `sb` and returns it: its `/Contents`
    * streams, then the best-effort `/AP /N` appearance text. */
  private def appendPageText(pageId: Long, sb: java.lang.StringBuilder): java.lang.StringBuilder = {
    val visited = mutable.Set.empty[Long]
    val pagePair = storage.getObject(pageId)
    if (pagePair.kind != Kind.DICTIONARY) err("get_text: page must be DICTIONARY")
    val pageDict = getDictionaryData(pagePair.raw, 0)
    sb.append(getStreamContents(pageId, getIdGenFromDictionary(pageDict, "/Contents"), visited))
    sb.append(getStreamContentsNoException(pageId, getIdGenApN(pageDict), visited))
  }
}
