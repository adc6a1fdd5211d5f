package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Unicode NFC normalization (canonical
  * composition) — the canonicalization step a dedup/quality pipeline needs
  * BEFORE hashing text, since the same visible string arrives from the web
  * both precomposed (U+00E9 'é') and decomposed (U+0065 U+0301 'e'+◌́) and
  * exact-hash dedup would treat them as distinct documents.
  *
  * Stays inside whole-stage codegen. The generated code short-circuits on
  * pure-ASCII payloads (one branch-predictable byte scan, no allocation —
  * ASCII is NFC by definition and dominates web corpora); only rows with a
  * high byte pay the JDK `java.text.Normalizer` round-trip. Spark has no
  * built-in for this; the UDF alternative breaks codegen and adds
  * serialization. DuckDB's `nfc_normalize` implements the same Unicode
  * algorithm, which is what makes results cross-engine hash-comparable. */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def nullIntolerant: Boolean = true

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_nfc"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs a string argument, got $other")
    }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val b = s.getBytes
    var i = 0
    while (i < b.length) {
      if (b(i) < 0) {
        return UTF8String.fromString(java.text.Normalizer.normalize(
          s.toString, java.text.Normalizer.Form.NFC))
      }
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val b = ctx.freshName("b")
      val ascii = ctx.freshName("ascii")
      val i = ctx.freshName("i")
      s"""
         |byte[] $b = $c.getBytes();
         |boolean $ascii = true;
         |for (int $i = 0; $i < $b.length; $i++) {
         |  if ($b[$i] < 0) { $ascii = false; break; }
         |}
         |${ev.value} = $ascii ? $c :
         |  org.apache.spark.unsafe.types.UTF8String.fromString(
         |    java.text.Normalizer.normalize($c.toString(),
         |      java.text.Normalizer.Form.NFC));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}
