package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Shared kernels for the native vector-quantization expressions — the
  * round-6 fix for the compressed-ANN expression-tree cost (VERDICT item
  * #1): `pqCodesCol`/`nearestCells` evaluated ~80 interpreted
  * `aggregate(zip_with(...))` folds per row with the subvector slices and
  * centroid literals re-expanded per centroid. Each kernel is ONE JVM
  * loop per row with the centroid table resolved once per expression
  * instance.
  *
  * IEEE parity: every accumulator runs the exact element-order left fold
  * of the composed formulation (`acc = 0.0; acc += (x-y)*(x-y)` ascending
  * i), argmin keeps the first strict minimum (codes ascending) and
  * comparisons order NaN above every value, as SQL does — byte-identical
  * to `least(struct(d, c)...)` / `array_sort(struct(d, cell))[0]`, and to
  * the DuckDB oracles replicating those folds. */
object VectorKernel {

  /** True iff `emb` has elements `from until from + len`, none null. A
    * composed fold over a shorter or null-holding slice is null (zip_with
    * pads the short side with nulls). */
  private def complete(emb: ArrayData, from: Int, len: Int): Boolean = {
    if (emb.numElements() < from + len) return false
    var i = from
    while (i < from + len) {
      if (emb.isNullAt(i)) return false
      i += 1
    }
    true
  }

  /** codes[j] = argmin over c of sqdist(emb[j*sub .. j*sub+sub-1],
    * flat[((j*k)+c)*sub ..]), first-on-tie, with sub = flat.length/(m*k)
    * (the codebook's subvector width). m=1 is IVF cell routing. A subspace
    * whose slice is short or holds a null gets code 0: every composed
    * distance is null there, and `least` orders struct(null, c) by c;
    * elements past m*sub are ignored, as `slice` ignores them. */
  def argminCodes(emb: ArrayData, flat: Array[Double], m: Int, k: Int): ArrayData = {
    val sub = flat.length / (m * k)
    val out = new Array[Any](m)
    var j = 0
    while (j < m) {
      val embBase = j * sub
      var bestC = 0
      if (complete(emb, embBase, sub)) {
        var bestD = Double.NaN
        var c = 0
        while (c < k) {
          var acc = 0.0
          var i = 0
          val cbBase = (j * k + c) * sub
          while (i < sub) {
            val x = emb.getDouble(embBase + i)
            val y = flat(cbBase + i)
            val d = x - y
            acc += d * d
            i += 1
          }
          // SQL order: NaN sorts above every value, so it never wins
          if (c == 0 || (!acc.isNaN && (bestD.isNaN || acc < bestD))) { bestD = acc; bestC = c }
          c += 1
        }
      }
      out(j) = bestC
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Integer dot product of two int arrays as one JVM loop — the
    * replacement for the interpreted `aggregate(zip_with(a, b,
    * _.toLong * _), 0L, _ + _)` fold in the int8 kNN sweep. Exact 64-bit
    * integer arithmetic (|dot| ≤ dim·127² for int8 inputs), so the value
    * is identical to the composed fold under ANY summation order. Null,
    * as the fold gives, when the lengths differ (zip_with pads with
    * nulls) or any element is null. */
  def intDot(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getInt(i).toLong * b.getInt(i)
      i += 1
    }
    acc
  }

  /** Sign-LSH bucket: bit b set iff dot(emb, plane_b) > 0, plane_b =
    * flat[b*dim .. b*dim+dim-1] with dim = flat.length/bits. Same left-fold
    * dot as the composed `aggregate(zip_with(a, b, _*_), 0.0, _+_)`. An
    * embedding of another length or with a null element makes every
    * composed dot null, and `when(null > 0, ...)` sets no bit: bucket 0. */
  def lshBucket(emb: ArrayData, flat: Array[Double], bits: Int): Long = {
    val dim = flat.length / bits
    if (emb.numElements() != dim || !complete(emb, 0, dim)) return 0L
    var bucket = 0L
    var b = 0
    while (b < bits) {
      var acc = 0.0
      val base = b * dim
      var i = 0
      while (i < dim) {
        acc += emb.getDouble(i) * flat(base + i)
        i += 1
      }
      if (acc > 0 || acc.isNaN) bucket += (1L << b) // SQL: NaN > 0
      b += 1
    }
    bucket
  }
}

/** `graft_argmin_codes(emb, flat_centroids, m, k)` — per-subspace nearest-
  * centroid codes over an array<double> embedding. See [[VectorKernel]]. */
case class ArgminCodes(first: Expression, second: Expression,
                       third: Expression, fourth: Expression)
    extends QuaternaryExpression {

  override def nullIntolerant: Boolean = true

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_argmin_codes"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (first.dataType, second.dataType, third.dataType, fourth.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _), IntegerType, IntegerType)
        if second.foldable && third.foldable && fourth.foldable =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs (array<double>, foldable array<double>, foldable int, foldable int)")
    }
  }

  @transient private lazy val flat: Array[Double] =
    second.eval().asInstanceOf[ArrayData].toDoubleArray()
  private lazy val mVal: Int = third.eval().asInstanceOf[Int]
  private lazy val kVal: Int = fourth.eval().asInstanceOf[Int]

  override def nullSafeEval(e: Any, f: Any, m: Any, k: Any): Any =
    VectorKernel.argminCodes(e.asInstanceOf[ArrayData], flat, mVal, kVal)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("flatCentroids", flat, "double[]")
    nullSafeCodeGen(ctx, ev, (e, _, _, _) =>
      s"${ev.value} = graft.expressions.VectorKernel.argminCodes($e, $flatRef, $mVal, $kVal);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): ArgminCodes =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
}

/** `graft_lsh_bucket(emb, flat_planes, bits)` — sign-LSH bucket id over
  * an array<double> embedding. See [[VectorKernel]]. */
case class LshBucket(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def nullIntolerant: Boolean = true

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_lsh_bucket"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _), IntegerType)
        if second.foldable && third.foldable =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs (array<double>, foldable array<double>, foldable int)")
    }
  }

  @transient private lazy val flat: Array[Double] =
    second.eval().asInstanceOf[ArrayData].toDoubleArray()
  private lazy val bitsVal: Int = third.eval().asInstanceOf[Int]

  override def nullSafeEval(e: Any, f: Any, b: Any): Any =
    VectorKernel.lshBucket(e.asInstanceOf[ArrayData], flat, bitsVal)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("flatPlanes", flat, "double[]")
    nullSafeCodeGen(ctx, ev, (e, _, _) =>
      s"${ev.value} = graft.expressions.VectorKernel.lshBucket($e, $flatRef, $bitsVal);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): LshBucket =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** `graft_int_dot(a, b)` — exact integer dot of two array<int> columns
  * (both sides row data, unlike the literal-table kernels above). Null,
  * as the composed `aggregate(zip_with(...))` fold gives, when the lengths
  * differ or any element is null; an empty pair is 0. See
  * [[VectorKernel.intDot]]. */
case class IntDot(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def nullIntolerant: Boolean = true

  override def dataType: DataType = LongType
  override def nullable: Boolean = true // ragged or null-element inputs
  override def prettyName: String = "graft_int_dot"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs (array<int>, array<int>)")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernel.intDot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val dot = ctx.freshName("dot")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""java.lang.Long $dot = graft.expressions.VectorKernel.intDot($a, $b);
         |if ($dot == null) { ${ev.isNull} = true; } else { ${ev.value} = $dot; }""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntDot =
    copy(left = newLeft, right = newRight)
}
