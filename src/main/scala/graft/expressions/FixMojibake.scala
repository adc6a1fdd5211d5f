package graft.expressions

import java.nio.charset.{CharacterCodingException, Charset, CodingErrorAction, StandardCharsets}

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: mojibake repair — reverses the single most
  * common real-crawl text corruption, UTF-8 bytes decoded as
  * windows-1252/Latin-1 ("Caf\u00c3\u00a9" for "Caf\u00e9",
  * "don\u00e2\u20ac\u2122t" for "don\u2019t"), including the
  * double-encoded case (applied iteratively, bounded).
  *
  * The repair is CONSERVATIVE and deterministic: re-encode the string as
  * windows-1252 (strict — any char with no cp1252 byte aborts), strictly
  * re-decode as UTF-8 (any invalid sequence aborts), and accept only if
  * the text actually changed — which for real mojibake always shortens
  * it. Healthy text is a fixpoint by construction: pure ASCII round-trips
  * to itself and properly-encoded "Café" fails the strict UTF-8
  * re-decode (0xE9 is no lead byte), so both come back untouched. Both
  * charsets are JDK-standard; no tables to maintain.
  *
  * Codegen short-circuits rows without byte 0xC3 — every UTF-8 lead
  * byte is >= 0xC2, so its cp1252 misreading lands in U+00C2..U+00FF,
  * whose own UTF-8 encoding starts 0xC3: any mojibake string contains
  * one. The overwhelmingly common healthy-row case pays one
  * branch-predictable scan and zero allocation, same shape as
  * [[NfcNormalize]]. */
case class FixMojibake(child: Expression) extends UnaryExpression {

  override def nullIntolerant: Boolean = true

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_fix_mojibake"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs a string argument, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    FixMojibake.fix(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.FixMojibake.fix($c);")

  override protected def withNewChildInternal(newChild: Expression): FixMojibake =
    copy(child = newChild)
}

object FixMojibake {
  private val Cp1252 = Charset.forName("windows-1252")

  /** One strict reverse pass: cp1252-encode then UTF-8-decode, or null if
    * either direction rejects (= the text is not mojibake). */
  private def reverseOnce(s: String): String = {
    try {
      val enc = Cp1252.newEncoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT)
      val bytes = enc.encode(java.nio.CharBuffer.wrap(s))
      val dec = StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT)
      dec.decode(bytes).toString
    } catch {
      case _: CharacterCodingException => null
    }
  }

  /** Static entry shared by eval and codegen. */
  def fix(u: UTF8String): UTF8String = {
    // fast path: any mojibake string contains a 0xC3 byte (see scaladoc);
    // one scan, no alloc
    val b = u.getBytes
    var i = 0
    var suspicious = false
    while (i < b.length && !suspicious) {
      // UTF-8 encodings of U+00C2..U+00C3 are C3 82 / C3 83; of
      // U+00E0..U+00EF are C3 A0..C3 AF — all start with byte 0xC3
      if (b(i) == 0xC3.toByte) suspicious = true
      i += 1
    }
    if (!suspicious) return u
    var cur = u.toString
    var rounds = 0
    var changed = true
    while (changed && rounds < 3) {
      val next = reverseOnce(cur)
      changed = next != null && next != cur
      if (changed) cur = next
      rounds += 1
    }
    if (cur == u.toString) u else UTF8String.fromString(cur)
  }
}
