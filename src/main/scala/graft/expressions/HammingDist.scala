package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Hamming distance between two equal-length
  * bit strings (the 64-char '0'/'1' simhash encoding) — one codegen'd
  * byte-compare loop over the UTF8String payloads. The composed-builtin
  * alternative (`size(filter(sequence(1,64), i -> substring(a,i,1) !=
  * substring(b,i,1)))`) allocates a 64-element array per row and runs the
  * lambda interpreted; this is a branch-free loop on the raw bytes.
  * Unequal lengths count every surplus position as a difference (the
  * simhash encoding is fixed-width, so this only triggers on malformed
  * input and errs toward "far apart"). */
case class HammingDist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullIntolerant: Boolean = true

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_hamming"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (StringType, StringType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs two string arguments, got ${left.dataType} / ${right.dataType}")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[UTF8String].getBytes
    val y = b.asInstanceOf[UTF8String].getBytes
    val n = math.min(x.length, y.length)
    var d = math.max(x.length, y.length) - n
    var i = 0
    while (i < n) {
      if (x(i) != y(i)) d += 1
      i += 1
    }
    d
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val xb = ctx.freshName("xb")
      val yb = ctx.freshName("yb")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      val i = ctx.freshName("i")
      s"""
         |byte[] $xb = $a.getBytes();
         |byte[] $yb = $b.getBytes();
         |int $n = java.lang.Math.min($xb.length, $yb.length);
         |int $d = java.lang.Math.max($xb.length, $yb.length) - $n;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($xb[$i] != $yb[$i]) $d++;
         |}
         |${ev.value} = $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): HammingDist =
    copy(left = newLeft, right = newRight)
}
