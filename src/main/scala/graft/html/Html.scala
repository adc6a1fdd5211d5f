package graft.html

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** HTML main-content extraction — the north rule's "HTML boilerplate strip
  * ... DOM heuristics" leg of the interleaved-document pipeline (the
  * reference engine is PDF-only; this path has no reference counterpart and
  * follows the published density heuristics of Boilerpipe [Kohlschütter et
  * al., WSDM 2011] and CCNet's structural filters).
  *
  * Design mirrors the PDF kernel: a single forward pass over the document
  * (no DOM materialization — an open-element stack plus per-block counters
  * is all the state), deterministic output, and a pure, separately-testable
  * classifier. Runs per-row inside `ExtractJob`'s `mapPartitions` kernel, so
  * everything here is allocation-conscious and thread-safe (no shared
  * mutable state).
  *
  * Two stages:
  *   1. `parse(html)` — tokenize (tags / entities / raw-text elements) and
  *      segment text into block-level units, each carrying the counters the
  *      classifier needs (words, chars, anchor chars, heading flag, drop
  *      context).
  *   2. `keep(block)` — a pure link-density + length classifier; kept blocks
  *      in document order are the main content.
  */
object Html {

  /** One block-level text unit with its classification counters.
    *
    * @param anchorChars characters that appeared inside an `<a>` element —
    *                    `anchorChars / chars` is Boilerpipe's link density
    * @param heading     text lay inside `h1`–`h6`
    * @param dropContext text lay inside structural boilerplate (`nav`,
    *                    `header`, `footer`, `aside`, `form`, `head`, …)
    */
  final case class Block(text: String, words: Int, chars: Int, anchorChars: Int,
                         heading: Boolean, dropContext: Boolean)

  // -------------------------------------------------------------------
  // tag classes (HTML5 content categories, trimmed to what segmentation
  // and boilerplate stripping need)
  // -------------------------------------------------------------------

  /** Opening OR closing one of these flushes the current block. */
  private val blockTags: Set[String] = Set(
    "p", "div", "section", "article", "main", "aside", "header", "footer",
    "nav", "h1", "h2", "h3", "h4", "h5", "h6", "ul", "ol", "li", "table",
    "thead", "tbody", "tfoot", "tr", "td", "th", "blockquote", "pre", "br",
    "hr", "form", "fieldset", "figure", "figcaption", "dl", "dt", "dd",
    "address", "center", "title", "head", "body", "html")

  /** Structural boilerplate: every block opened while one of these is on
    * the stack is dropped outright (DOM heuristic — position in the tree,
    * before any density test). */
  private val dropTags: Set[String] = Set(
    "head", "title", "nav", "header", "footer", "aside", "form", "button",
    "select", "option", "label", "iframe", "object", "svg", "canvas",
    "figure", "noscript")

  /** Void elements — never pushed on the stack (no close tag exists). */
  private val voidTags: Set[String] = Set(
    "br", "hr", "img", "meta", "link", "input", "area", "base", "col",
    "embed", "source", "track", "wbr")

  /** Raw-text elements: content is skipped verbatim to the matching close
    * tag (scripts and styles are never content; textarea is form state). */
  private val rawTextTags: Set[String] = Set("script", "style", "textarea")

  private val headingTags: Set[String] = Set("h1", "h2", "h3", "h4", "h5", "h6")

  /** Named character references we decode (the pervasive subset; unknown
    * names pass through literally, like browsers render `&bogus;`). */
  private val entities: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> " ", "shy" -> "", "copy" -> "©", "reg" -> "®",
    "trade" -> "™", "hellip" -> "…", "mdash" -> "—",
    "ndash" -> "–", "lsquo" -> "‘", "rsquo" -> "’",
    "ldquo" -> "“", "rdquo" -> "”", "middot" -> "·",
    "bull" -> "•", "deg" -> "°", "sect" -> "§",
    "para" -> "¶", "laquo" -> "«", "raquo" -> "»",
    "times" -> "×", "divide" -> "÷", "eacute" -> "é",
    "egrave" -> "è", "agrave" -> "à", "uuml" -> "ü",
    "ouml" -> "ö", "auml" -> "ä", "szlig" -> "ß",
    "ccedil" -> "ç", "ntilde" -> "ñ")

  // -------------------------------------------------------------------
  // sniffing (content dispatch for the interleaved kernel)
  // -------------------------------------------------------------------

  /** Cheap content sniff for the interleaved kernel's dispatch. PDF magic
    * anywhere in the first 1 KiB wins (damaged PDFs may lead with garbage
    * before `%PDF-`, and the PDF kernel's recovery path handles them);
    * otherwise markup is recognized by a leading `<` after BOM/whitespace. */
  def looksHtml(bytes: Array[Byte]): Boolean = {
    val n = math.min(bytes.length, 1024)
    var i = 0
    while (i + 4 < n) { // %PDF- scan
      if (bytes(i) == '%' && bytes(i + 1) == 'P' && bytes(i + 2) == 'D' &&
          bytes(i + 3) == 'F' && bytes(i + 4) == '-') return false
      i += 1
    }
    // UTF-16 pages (BOM-led) — sniff on the decoded prefix
    if (n >= 4 && (((bytes(0) & 0xff) == 0xfe && (bytes(1) & 0xff) == 0xff) ||
        ((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xfe))) {
      val cs = if ((bytes(0) & 0xff) == 0xfe) java.nio.charset.StandardCharsets.UTF_16BE
        else java.nio.charset.StandardCharsets.UTF_16LE
      val prefix = new String(bytes, 2, math.min(n - 2, 64), cs)
      val t = prefix.dropWhile(c => c == ' ' || c == '\t' || c == '\n' || c == '\r')
      return t.length >= 2 && t.charAt(0) == '<' && {
        val c = t.charAt(1)
        c == '!' || c == '?' || c.isLetter || c == '/'
      }
    }
    i = 0
    if (n >= 3 && (bytes(0) & 0xff) == 0xef && (bytes(1) & 0xff) == 0xbb && (bytes(2) & 0xff) == 0xbf)
      i = 3 // UTF-8 BOM
    while (i < n && (bytes(i) == ' ' || bytes(i) == '\t' || bytes(i) == '\n' || bytes(i) == '\r')) i += 1
    if (i >= n || bytes(i) != '<') return false
    val c = if (i + 1 < n) bytes(i + 1).toChar else ' '
    c == '!' || c == '?' || c.isLetter || c == '/'
  }

  // -------------------------------------------------------------------
  // stage 1: tokenize + segment
  // -------------------------------------------------------------------

  /** HTML whitespace plus NBSP (decoded entities normalize into plain
    * spaces — extracted text should not carry layout glue). */
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' || c == ' '

  /** Parse result: blocks in document order plus in-content media/link refs
    * (src of `<img>` / href of `<a>` outside any drop context, appearance
    * order — drop-context links are navigation chrome by definition) and
    * in-content table cells as (table, row, col, text) — the structured-data
    * leg of DOM extraction. */
  final case class Parsed(blocks: Vector[Block], imageRefs: Vector[String],
                          linkRefs: Vector[String], anchorTexts: Vector[String],
                          tableCells: Vector[(Int, Int, Int, String)])

  def parse(html: String): Parsed = {
    val lower = html.toLowerCase // one pass; raw-text close-tag scans use it
    val out = Vector.newBuilder[Block]
    val images = Vector.newBuilder[String]
    val links = ArrayBuffer.empty[String]
    // anchorTexts(i) = visible text of links(i); captured for the OUTERMOST
    // href-carrying in-content anchor (nested <a> is invalid HTML — inner
    // links still emit their href, with empty text)
    val anchorTexts = ArrayBuffer.empty[String]
    var capBuf: java.lang.StringBuilder = null
    var capIdx = -1
    var capDepth = 0
    // table-cell capture (outermost in-content table only; a nested table's
    // text flattens into the cell that contains it, and tables opened inside
    // a drop context — nav/footer layout grids — are skipped entirely)
    val cells = Vector.newBuilder[(Int, Int, Int, String)]
    var tableDepth = 0; var tableIdx = -1; var nextTable = 0
    var rowIdx = -1; var colIdx = -1
    var cellBuf: java.lang.StringBuilder = null
    val stack = ArrayBuffer.empty[String]
    val buf = new java.lang.StringBuilder(256)
    var words = 0; var chars = 0; var anchorChars = 0
    var anchorDepth = 0; var dropDepth = 0; var headingDepth = 0
    var lastWasSpace = true // swallow leading whitespace

    def flush(): Unit = {
      var len = buf.length() // trim the single trailing space the collapser may leave
      if (len > 0 && buf.charAt(len - 1) == ' ') { buf.setLength(len - 1); len -= 1 }
      if (len > 0)
        out += Block(buf.toString, words, chars, anchorChars,
          heading = headingDepth > 0, dropContext = dropDepth > 0)
      buf.setLength(0); words = 0; chars = 0; anchorChars = 0; lastWasSpace = true
      // an intra-cell block boundary (<td><p>a</p><p>b</p>) is a space, not
      // a concatenation, in the flattened cell text
      if (cellBuf != null && cellBuf.length > 0 &&
          cellBuf.charAt(cellBuf.length - 1) != ' ') cellBuf.append(' ')
    }

    def flushCell(): Unit = if (cellBuf != null) {
      cells += ((tableIdx, rowIdx, colIdx, cellBuf.toString.trim))
      cellBuf = null
    }

    def appendText(s: String): Unit = {
      var j = 0
      while (j < s.length) {
        val c = s.charAt(j)
        if (isWs(c)) {
          if (!lastWasSpace) {
            buf.append(' '); chars += 1; if (anchorDepth > 0) anchorChars += 1
            if (capBuf != null) capBuf.append(' ')
            if (cellBuf != null) cellBuf.append(' ')
          }
          lastWasSpace = true
        } else {
          if (lastWasSpace) words += 1 // a non-space after a gap starts a word
          buf.append(c); chars += 1; if (anchorDepth > 0) anchorChars += 1
          if (capBuf != null) capBuf.append(c)
          if (cellBuf != null) cellBuf.append(c)
          lastWasSpace = false
        }
        j += 1
      }
    }

    def openEffects(tag: String): Unit = {
      if (tag == "a") anchorDepth += 1
      if (dropTags.contains(tag)) dropDepth += 1
      if (headingTags.contains(tag)) headingDepth += 1
      tag match {
        case "table" =>
          tableDepth += 1
          if (tableDepth == 1) { // outermost only; drop-context grids skipped
            if (dropDepth == 0) { tableIdx = nextTable; nextTable += 1 }
            else tableIdx = -1
            rowIdx = -1; colIdx = -1
          }
        case "tr" if tableDepth == 1 && tableIdx >= 0 =>
          flushCell(); rowIdx += 1; colIdx = -1
        case "td" | "th" if tableDepth == 1 && tableIdx >= 0 =>
          flushCell()
          if (rowIdx < 0) rowIdx = 0 // td with no enclosing tr
          colIdx += 1
          cellBuf = new java.lang.StringBuilder(32)
        case _ => ()
      }
    }
    def endCapture(): Unit = {
      anchorTexts(capIdx) = capBuf.toString.trim
      capBuf = null; capIdx = -1; capDepth = 0
    }
    def closeEffects(tag: String): Unit = {
      if (tag == "a" && anchorDepth > 0) {
        anchorDepth -= 1
        if (capBuf != null && anchorDepth < capDepth) endCapture()
      }
      if (dropTags.contains(tag) && dropDepth > 0) dropDepth -= 1
      if (headingTags.contains(tag) && headingDepth > 0) headingDepth -= 1
      tag match {
        case "td" | "th" | "tr" if tableDepth == 1 => flushCell()
        case "table" if tableDepth > 0 =>
          if (tableDepth == 1) { flushCell(); tableIdx = -1 }
          tableDepth -= 1
        case _ => ()
      }
    }

    /** Pop to (and including) the nearest `tag` on the stack; no-op when
      * absent (stray close tags are ignored, as in the HTML5 algorithm). */
    def popTo(tag: String): Unit = {
      val idx = stack.lastIndexOf(tag)
      if (idx >= 0) {
        var k = stack.length - 1
        while (k >= idx) { closeEffects(stack(k)); stack.remove(k); k -= 1 }
      }
    }

    /** Implied end tags: `p` closes on any block-level open; `li`, `td`,
      * `th`, `tr`, `dt`, `dd` close their own kind. */
    def autoClose(opening: String): Unit = {
      if (blockTags.contains(opening) && opening != "p" && stack.nonEmpty && stack.last == "p") popTo("p")
      opening match {
        case "p" => popTo("p")
        case "li" => if (stack.nonEmpty && stack.last == "li") popTo("li")
        case "td" | "th" => if (stack.nonEmpty && (stack.last == "td" || stack.last == "th")) popTo(stack.last)
        case "tr" =>
          while (stack.nonEmpty && (stack.last == "td" || stack.last == "th" || stack.last == "tr")) popTo(stack.last)
        case "dt" | "dd" => if (stack.nonEmpty && (stack.last == "dt" || stack.last == "dd")) popTo(stack.last)
        case _ => ()
      }
    }

    val n = html.length
    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (html.startsWith("<!--", i)) { // comment
          val end = html.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
        } else if (i + 1 < n && (html.charAt(i + 1) == '!' || html.charAt(i + 1) == '?')) {
          val end = html.indexOf('>', i) // doctype / processing instruction
          i = if (end < 0) n else end + 1
        } else if (i + 1 < n && html.charAt(i + 1) == '/') { // close tag
          var j = i + 2
          while (j < n && html.charAt(j) != '>') j += 1
          val tag = html.substring(i + 2, j).trim.toLowerCase
          if (tag.nonEmpty && tag.forall(_.isLetterOrDigit)) {
            if (blockTags.contains(tag)) flush()
            popTo(tag)
          }
          i = if (j < n) j + 1 else n
        } else if (i + 1 < n && html.charAt(i + 1).isLetter) { // open tag
          var j = i + 1
          while (j < n && html.charAt(j).isLetterOrDigit) j += 1
          val tag = lower.substring(i + 1, j)
          // attribute scan (quote-aware: '>' inside a quoted value is data)
          var selfClose = false
          var srcAttr = ""
          var hrefAttr = ""
          var done = false
          while (!done && j < n) {
            val ac = html.charAt(j)
            if (ac == '>') { done = true }
            else if (ac == '/' && j + 1 < n && html.charAt(j + 1) == '>') { selfClose = true; j += 1; done = true }
            else if (isWs(ac)) j += 1
            else {
              val ns = j // attribute name
              while (j < n && !isWs(html.charAt(j)) && html.charAt(j) != '=' &&
                     html.charAt(j) != '>' && html.charAt(j) != '/') j += 1
              if (j == ns) { j += 1 } // stray '/' not closing the tag — must advance
              val aname = lower.substring(ns, j)
              while (j < n && isWs(html.charAt(j))) j += 1
              var avalue = ""
              if (j < n && html.charAt(j) == '=') {
                j += 1
                while (j < n && isWs(html.charAt(j))) j += 1
                if (j < n && (html.charAt(j) == '"' || html.charAt(j) == '\'')) {
                  val q = html.charAt(j)
                  val endQ = html.indexOf(q, j + 1)
                  avalue = html.substring(j + 1, if (endQ < 0) n else endQ)
                  j = if (endQ < 0) n else endQ + 1
                } else {
                  val vs = j
                  while (j < n && !isWs(html.charAt(j)) && html.charAt(j) != '>') j += 1
                  avalue = html.substring(vs, j)
                }
              }
              if (aname == "src") srcAttr = avalue
              if (aname == "href") hrefAttr = avalue
            }
          }
          i = if (j < n && !done) n else if (done) j + 1 else n
          if (rawTextTags.contains(tag) && !selfClose) {
            val close = lower.indexOf("</" + tag, i) // raw text: verbatim skip
            if (close < 0) i = n
            else {
              val gt = html.indexOf('>', close)
              i = if (gt < 0) n else gt + 1
            }
          } else {
            if (blockTags.contains(tag)) flush()
            if (tag == "img" && dropDepth == 0 && srcAttr.nonEmpty) images += srcAttr
            if (tag == "a" && dropDepth == 0 && hrefAttr.nonEmpty) {
              links += hrefAttr
              anchorTexts += ""
              if (capBuf == null) { // outermost wins; see anchorTexts note
                capBuf = new java.lang.StringBuilder(64)
                capIdx = anchorTexts.length - 1
                capDepth = anchorDepth + 1 // openEffects increments just below
              }
            }
            if (!voidTags.contains(tag)) {
              autoClose(tag)
              openEffects(tag)
              if (!selfClose) stack += tag else closeEffects(tag)
            }
          }
        } else { // stray '<' — literal text
          appendText("<"); i += 1
        }
      } else if (c == '&') { // character reference
        var j = i + 1
        if (j < n && html.charAt(j) == '#') {
          j += 1
          val hex = j < n && (html.charAt(j) == 'x' || html.charAt(j) == 'X')
          if (hex) j += 1
          val start = j
          while (j < n && Character.digit(html.charAt(j), if (hex) 16 else 10) >= 0) j += 1
          if (j > start && j - start <= 7 && j < n && html.charAt(j) == ';') {
            val cp = Integer.parseInt(html.substring(start, j), if (hex) 16 else 10)
            if (Character.isValidCodePoint(cp)) appendText(new String(Character.toChars(cp)))
            i = j + 1
          } else { appendText("&"); i += 1 }
        } else {
          val start = j
          while (j < n && html.charAt(j).isLetterOrDigit && j - start < 10) j += 1
          val name = html.substring(start, j)
          if (j < n && html.charAt(j) == ';' && entities.contains(name)) {
            appendText(entities(name)); i = j + 1
          } else { appendText("&"); i += 1 }
        }
      } else {
        var j = i // plain text run up to the next markup character
        while (j < n && html.charAt(j) != '<' && html.charAt(j) != '&') j += 1
        appendText(html.substring(i, j))
        i = j
      }
    }
    flush()
    if (capBuf != null) endCapture() // unclosed <a> at EOF
    flushCell() // unclosed cell at EOF
    Parsed(out.result(), images.result(), links.toVector, anchorTexts.toVector,
      cells.result())
  }

  def blocks(html: String): Vector[Block] = parse(html).blocks

  // -------------------------------------------------------------------
  // stage 2: classify (pure — separately unit-tested)
  // -------------------------------------------------------------------

  /** Boilerpipe-style density classifier. A block survives iff:
    *  - it is outside every structural drop context, AND
    *  - it is a heading with at least one word and link density < 0.8, OR
    *  - it is long (≥ 10 words) with link density ≤ 0.5 (paragraphs
    *    tolerate inline links), OR
    *  - it is short (3–9 words) and nearly link-free (density ≤ 0.2) —
    *    this is what kills menu rows and tag clouds, whose short runs are
    *    mostly anchor text.
    * Blocks under 3 words that aren't headings are noise (button labels,
    * bullets, copyright lines) and are dropped. */
  def keep(b: Block): Boolean = {
    if (b.dropContext) false
    else {
      val density = if (b.chars == 0) 0.0 else b.anchorChars.toDouble / b.chars
      if (b.heading) b.words >= 1 && density < 0.8
      else if (b.words >= 10) density <= 0.5
      else if (b.words >= 3) density <= 0.2
      else false
    }
  }

  // -------------------------------------------------------------------
  // byte → string: charset sniffing (HTML5 prescan shape)
  // -------------------------------------------------------------------

  private val CharsetRe =
    java.util.regex.Pattern.compile("charset\\s*=\\s*[\"']?([A-Za-z0-9_.:+-]+)",
      java.util.regex.Pattern.CASE_INSENSITIVE)

  /** Decode page bytes to text the way a browser's prescan does: a BOM
    * (UTF-8 / UTF-16LE / UTF-16BE) wins outright; otherwise a `charset=`
    * declaration inside a `<meta` tag in the first 1024 bytes (the HTML5
    * prescan window — servers put it there precisely so clients can stop
    * early); otherwise UTF-8. Unknown/unsupported charset names fall back
    * to UTF-8 rather than erroring — at corpus scale a bogus declaration
    * is data. Real crawl corpora are only ~85-90% UTF-8, so this is a
    * correctness requirement for the HTML leg, not polish. */
  def decode(bytes: Array[Byte]): String = {
    val n = bytes.length
    if (n >= 2 && (bytes(0) & 0xff) == 0xfe && (bytes(1) & 0xff) == 0xff)
      return new String(bytes, 2, n - 2, java.nio.charset.StandardCharsets.UTF_16BE)
    if (n >= 2 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xfe)
      return new String(bytes, 2, n - 2, java.nio.charset.StandardCharsets.UTF_16LE)
    if (n >= 3 && (bytes(0) & 0xff) == 0xef && (bytes(1) & 0xff) == 0xbb && (bytes(2) & 0xff) == 0xbf)
      return new String(bytes, 3, n - 3, java.nio.charset.StandardCharsets.UTF_8)
    val window = new String(bytes, 0, math.min(n, 1024),
      java.nio.charset.StandardCharsets.ISO_8859_1) // byte-transparent prescan
    val lw = window.toLowerCase
    var cs: java.nio.charset.Charset = java.nio.charset.StandardCharsets.UTF_8
    var i = lw.indexOf("<meta")
    var found = false
    while (i >= 0 && !found) {
      val end = lw.indexOf('>', i)
      val tag = if (end >= 0) window.substring(i, end) else window.substring(i)
      val m = CharsetRe.matcher(tag)
      if (m.find()) {
        found = true
        try cs = java.nio.charset.Charset.forName(m.group(1))
        catch { case NonFatal(_) => () } // bogus name → keep UTF-8
      }
      i = lw.indexOf("<meta", i + 1)
    }
    new String(bytes, cs)
  }

  // -------------------------------------------------------------------
  // document metadata (head-level signals: title, meta description)
  // -------------------------------------------------------------------

  /** Decode character references and collapse whitespace runs — the
    * attribute/title flavor of the tokenizer's text handling. */
  private def decodeInline(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '&') {
        var j = i + 1
        if (j < n && s.charAt(j) == '#') {
          j += 1
          val hex = j < n && (s.charAt(j) == 'x' || s.charAt(j) == 'X')
          if (hex) j += 1
          val start = j
          while (j < n && Character.digit(s.charAt(j), if (hex) 16 else 10) >= 0) j += 1
          if (j > start && j - start <= 7 && j < n && s.charAt(j) == ';') {
            val cp = Integer.parseInt(s.substring(start, j), if (hex) 16 else 10)
            if (Character.isValidCodePoint(cp)) sb.append(Character.toChars(cp))
            i = j + 1
          } else { sb.append('&'); i += 1 }
        } else {
          val start = j
          while (j < n && s.charAt(j).isLetterOrDigit && j - start < 10) j += 1
          val name = s.substring(start, j)
          if (j < n && s.charAt(j) == ';' && entities.contains(name)) {
            sb.append(entities(name)); i = j + 1
          } else { sb.append('&'); i += 1 }
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString.split("\\s+").filter(_.nonEmpty).mkString(" ")
  }

  /** (title, meta description) — the head-level metadata a training
    * pipeline keeps alongside main content (title is a quality/topic
    * signal; description is the page's own summary). Entity-decoded,
    * whitespace-collapsed; empty strings when absent. */
  def docMeta(bytes: Array[Byte]): (String, String) = {
    val html = decode(bytes)
    val lw = html.toLowerCase
    val title = {
      val o = lw.indexOf("<title")
      if (o < 0) ""
      else {
        val gt = lw.indexOf('>', o)
        val close = if (gt >= 0) lw.indexOf("</title", gt) else -1
        if (gt >= 0 && close >= 0) decodeInline(html.substring(gt + 1, close)) else ""
      }
    }
    val desc = {
      var i = lw.indexOf("<meta")
      var out = ""
      while (i >= 0 && out.isEmpty) {
        val end = lw.indexOf('>', i)
        val tagLw = if (end >= 0) lw.substring(i, end) else lw.substring(i)
        if (tagLw.contains("name=\"description\"") || tagLw.contains("name='description'") ||
            tagLw.matches("(?s).*name\\s*=\\s*description[\\s/>].*")) {
          val tag = if (end >= 0) html.substring(i, end) else html.substring(i)
          val m = java.util.regex.Pattern
            .compile("content\\s*=\\s*(\"([^\"]*)\"|'([^']*)')",
              java.util.regex.Pattern.CASE_INSENSITIVE).matcher(tag)
          if (m.find())
            out = decodeInline(Option(m.group(2)).getOrElse(m.group(3)))
        }
        i = lw.indexOf("<meta", i + 1)
      }
      out
    }
    (title, desc)
  }

  /** Main content: kept blocks in document order, one line per block
    * (matches the PDF kernel's line-per-unit contract). */
  def html2txt(bytes: Array[Byte]): String = {
    val parsed = parse(decode(bytes))
    val sb = new java.lang.StringBuilder
    parsed.blocks.foreach { b => if (keep(b)) sb.append(b.text).append('\n') }
    sb.toString
  }

  /** In-content image references (appearance order, drop contexts excluded). */
  def imageRefs(bytes: Array[Byte]): Seq[String] =
    parse(decode(bytes)).imageRefs

  /** In-content link hrefs (appearance order, drop contexts excluded —
    * the outlink set a web-scale crawl frontier or link-graph stage
    * consumes; nav/footer links are boilerplate and are not emitted). */
  def linkRefs(bytes: Array[Byte]): Seq[String] =
    parse(decode(bytes)).linkRefs

  /** In-content table cells as (table, row, col, text) — structured data
    * extracted from the DOM (prices, schedules, specs live in tables and
    * are lost by a pure text flattening). Outermost in-content tables only:
    * nested-table text flattens into its containing cell, drop-context
    * layout grids (nav/footer) are excluded, implied `</td>`/`</tr>` follow
    * the HTML5 implied-end-tag rules, and `colspan`/`rowspan` are not
    * expanded (col is the source-order cell index). */
  def tableCells(bytes: Array[Byte]): Seq[(Int, Int, Int, String)] =
    parse(decode(bytes)).tableCells

  /** In-content (href, anchor text) pairs — the labeled edge list a
    * link-graph / anchor-text-index stage consumes (anchor text is the
    * classic relevance signal for the TARGET page). Text is the visible,
    * entity-decoded, whitespace-collapsed content of the outermost
    * anchor element, trimmed. */
  def anchors(bytes: Array[Byte]): Seq[(String, String)] = {
    val p = parse(decode(bytes))
    p.linkRefs.zip(p.anchorTexts)
  }
}
