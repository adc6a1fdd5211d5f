package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: fused cosine similarity over two
  * array<double> columns — one codegen'd loop accumulating dot(a,b),
  * |a|² and |b|² together instead of three interpreted higher-order
  * `aggregate(zip_with(...))` lambdas (HOF lambdas never enter
  * whole-stage codegen and re-evaluate per reference).
  *
  * IEEE parity: each accumulator sees exactly the element-order sequence
  * of the equivalent left-fold, so results are bitwise identical to the
  * composed-builtin formulation (and to the DuckDB oracles that replicate
  * that fold). Null, as the fold gives, when the lengths differ (zip_with
  * pads with nulls) or any element is null. A zero-norm side gives NaN
  * (IEEE 0/0), where the composed `/` raises DIVIDE_BY_ZERO under ANSI
  * mode (the default) and returns NULL without it. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullIntolerant: Boolean = true

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // ragged or null-element inputs
  override def prettyName: String = "graft_cosine"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs two array<double> arguments, got ${left.dataType} / ${right.dataType}")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = x.getDouble(i)
      val yv = y.getDouble(i)
      dot += xv * yv
      na += xv * xv
      nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = $a.numElements();
         |${ev.isNull} = $b.numElements() != $n;
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  double $xv = $a.getDouble($i);
         |  double $yv = $b.getDouble($i);
         |  $dot += $xv * $yv;
         |  $na += $xv * $xv;
         |  $nb += $yv * $yv;
         |}
         |if (!${ev.isNull}) {
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}
