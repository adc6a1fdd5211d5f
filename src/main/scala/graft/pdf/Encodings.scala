package graft.pdf

import java.nio.charset.{Charset, StandardCharsets}
import scala.collection.mutable
import scala.util.control.NonFatal

/** Static encoding data: the four single-byte base encodings
  * (Standard/MacRoman/MacExpert/WinAnsi), the CID-CMap-name → charset map,
  * the Adobe glyph list, and the standard-14 AFM widths. All are public
  * Adobe spec data (cf. the reference's converter_data.cc /
  * standard_widths.h / symbol_table.h), loaded from TSV resources.
  *
  * Values are byte-strings (UTF-8 bytes widened to chars) to match the
  * kernel's byte-string convention. */
object Encodings {
  final val DEFAULT = 0
  final val MAC_EXPERT = 1
  final val MAC_ROMAN = 2
  final val WIN = 3
  final val IDENTITY = 4
  final val OTHER = 5
  final val UTF8 = 6
  final val NONE = 7

  private def unesc(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        i += 1
        s.charAt(i) match {
          case 't' => sb.append('\t')
          case 'n' => sb.append('\n')
          case 'r' => sb.append('\r')
          case '\\' => sb.append('\\')
          case o => sb.append(o)
        }
      } else sb.append(c)
      i += 1
    }
    sb.toString
  }

  private def lines(resource: String): Iterator[String] = {
    val in = getClass.getResourceAsStream(s"/graft/pdf/$resource")
    if (in == null) Lex.err(s"missing resource $resource")
    val text = new String(in.readAllBytes(), StandardCharsets.UTF_8)
    in.close()
    text.split("\n").iterator.filter(_.nonEmpty)
  }

  /** UTF-8 String → kernel byte-string. */
  private def bs(s: String): String = Lex.fromBytes(s.getBytes(StandardCharsets.UTF_8))

  private def loadEncoding(resource: String): Map[Int, String] = {
    val m = mutable.HashMap.empty[Int, String]
    lines(resource).foreach { ln =>
      val t = ln.split("\t", 2)
      val k = t(0).toInt
      if (!m.contains(k)) m.update(k, bs(unesc(if (t.length > 1) t(1) else "")))
    }
    m.toMap
  }

  lazy val standardEncoding: Map[Int, String] = loadEncoding("enc_standard.tsv")
  lazy val macRomanEncoding: Map[Int, String] = loadEncoding("enc_macroman.tsv")
  lazy val macExpertEncoding: Map[Int, String] = loadEncoding("enc_macexpert.tsv")
  lazy val winAnsiEncoding: Map[Int, String] = loadEncoding("enc_winansi.tsv")

  def standardEncodings(enc: Int): Map[Int, String] = enc match {
    case DEFAULT => standardEncoding
    case MAC_EXPERT => macExpertEncoding
    case MAC_ROMAN => macRomanEncoding
    case WIN => winAnsiEncoding
    case _ => Lex.err(s"standard_encodings: no table for $enc")
  }

  private def toArray256(m: Map[Int, String]): Array[String] = {
    val a = new Array[String](256)
    m.foreach { case (k, v) => if (k >= 0 && k < 256) a(k) = v }
    a
  }

  /** Flat per-code lookup tables (null = unmapped) for the per-char hot
    * path — avoids a boxed HashMap probe per byte. */
  lazy val standardEncodingArrays: Array[Array[String]] = Array(
    toArray256(standardEncoding), toArray256(macExpertEncoding),
    toArray256(macRomanEncoding), toArray256(winAnsiEncoding))

  /** CMap name → charset name ("" = UTF-8 passthrough). */
  lazy val cidCharsets: Map[String, String] = {
    val m = mutable.HashMap.empty[String, String]
    lines("cid_charsets.tsv").foreach { ln =>
      val t = ln.split("\t", 2)
      val v = if (t.length > 1) t(1) else ""
      if (!m.contains(t(0))) m.update(t(0), v)
    }
    m.toMap
  }

  /** Adobe glyph list: "/name" → utf8 byte-string. */
  lazy val glyphList: Map[String, String] = {
    val m = mutable.HashMap.empty[String, String]
    lines("glyphlist.tsv").foreach { ln =>
      val t = ln.split("\t", 2)
      val v = if (t.length > 1) bs(unesc(t(1))) else ""
      if (!m.contains(t(0))) m.update(t(0), v)
    }
    m.toMap
  }

  /** Standard-14 font widths: font name → sorted (code, width) arrays. */
  lazy val standardWidths: Map[String, (Array[Int], Array[Float])] = {
    val byFont = mutable.HashMap.empty[String, mutable.TreeMap[Int, Float]]
    lines("std_widths.tsv").foreach { ln =>
      val t = ln.split("\t")
      val m = byFont.getOrElseUpdate(t(0), mutable.TreeMap.empty[Int, Float])
      val code = t(1).toInt
      if (!m.contains(code)) m.update(code, t(2).toFloat)
    }
    byFont.iterator.map { case (k, m) =>
      k -> (m.keysIterator.toArray, m.valuesIterator.toArray)
    }.toMap
  }

  /** JDK charset lookup with aliases for the names used by the CID map. */
  def charsetFor(name: String): Option[Charset] = {
    val candidates = name match {
      case "UTF-16be" => Seq("UTF-16BE")
      case "UTF-32be" => Seq("UTF-32BE")
      case "Big-5" => Seq("Big5")
      case "EUC-CN" => Seq("GB2312", "EUC-CN")
      case "EUC-TW" => Seq("x-EUC-TW", "EUC-TW")
      case "UHC" => Seq("x-windows-949", "UHC", "EUC-KR")
      case "Shift-JIS" => Seq("Shift_JIS", "SJIS")
      case other => Seq(other)
    }
    candidates.iterator.flatMap { c =>
      try Some(Charset.forName(c)) catch { case NonFatal(_) => None }
    }.nextOption()
  }

  /** boost to_utf<char>(s, charset) equivalent: bytes → UTF-8 byte-string.
    * Unmappable input is skipped (boost's default_method = skip). */
  def toUtf8ByteString(byteStr: String, cs: Charset): String = {
    val dec = cs.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.IGNORE)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.IGNORE)
    val bytes = java.nio.ByteBuffer.wrap(Lex.toBytes(byteStr))
    val out = dec.decode(bytes).toString
    bs(out)
  }
}
