package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared kernel for the native shingle expression: one JVM loop instead
  * of the interpreted `transform(sequence(...), i -> concat_ws(" ",
  * slice(toks, i+1, k)))` higher-order chain (HOF lambdas never enter
  * whole-stage codegen and re-evaluate `slice` + `concat_ws` expression
  * trees per element — measured ~2 s per corpus pass at sf0.1 vs ~0.15 s
  * for the split alone).
  *
  * Exactness: tokenization delegates to the SAME UTF8String methods the
  * builtin `lower` and `split` expressions use (`UTF8String.toLowerCase`,
  * `UTF8String.split(pattern, -1)`), and grams join via
  * `UTF8String.concatWs` — the `concat_ws` kernel — so the output array is
  * element-for-element byte-identical to the composed-builtin formulation
  * (and therefore to the DuckDB oracles that replicate it). */
object ShingleKernel {
  private val WS: UTF8String = UTF8String.fromString("\\s+")
  private val SPACE: UTF8String = UTF8String.fromString(" ")

  /** shingles semantics: toks = split(lower(text), "\\s+");
    * size < k  -> [concat_ws(" ", toks)] (ONE gram of all tokens);
    * otherwise -> size-k+1 grams of width k. */
  def shingles(text: UTF8String, k: Int): ArrayData = {
    val toks = text.toLowerCase.split(WS, -1)
    val n = toks.length
    if (n < k) {
      new GenericArrayData(Array[Any](UTF8String.concatWs(SPACE, toks: _*)))
    } else {
      val out = new Array[Any](n - k + 1)
      var i = 0
      while (i <= n - k) {
        // concatWs over the k-token window — same kernel as concat_ws
        val window = new Array[UTF8String](k)
        System.arraycopy(toks, i, window, 0, k)
        out(i) = UTF8String.concatWs(SPACE, window: _*)
        i += 1
      }
      new GenericArrayData(out)
    }
  }
}

/** Native Catalyst expression `graft_shingles(text, k)` — word k-grams of
  * `lower(text)` split on `\s+`, byte-identical to the composed-builtin
  * [[graft.operators.TrainingOps.shingles]] formulation (see
  * [[ShingleKernel]]). `k` must be a foldable INT literal. */
case class Shingles(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullIntolerant: Boolean = true

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) if right.foldable =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs (string, foldable int), got ${left.dataType} / ${right.dataType}")
    }
  }

  private lazy val kVal: Int = right.eval().asInstanceOf[Int]

  override def nullSafeEval(t: Any, unused: Any): Any =
    ShingleKernel.shingles(t.asInstanceOf[UTF8String], kVal)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, _) =>
      s"${ev.value} = graft.expressions.ShingleKernel.shingles($t, $kVal);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Shingles =
    copy(left = newLeft, right = newRight)
}
