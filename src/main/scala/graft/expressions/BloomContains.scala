package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, LongType}

/** Bloom-filter membership utilities + a native codegen expression.
  *
  * The filter is a plain byte array (power-of-two bit count) with k=3
  * probes via double hashing — built once on the driver from a hash list
  * (see [[BloomContains.build]]), then embedded in the plan as a BINARY
  * literal, so the membership test runs MAP-SIDE inside whole-stage
  * codegen with no broadcast variable and no shuffle. Spark's own
  * bloom_filter_agg/might_contain pair is internal-only (not in the
  * function registry), hence this self-contained equivalent. */
case class BloomContains(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullIntolerant: Boolean = true

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_contains"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (BinaryType, LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs (binary, bigint) arguments, got ${left.dataType} / ${right.dataType}")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    BloomContains.contains(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Long])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val bits = ctx.freshName("bits")
      val h2 = ctx.freshName("h2")
      val ok = ctx.freshName("ok")
      val i = ctx.freshName("i")
      val pos = ctx.freshName("pos")
      s"""
         |long $bits = ((long) $a.length) << 3;
         |long $h2 = graft.expressions.BloomContains.mix($b);
         |boolean $ok = $bits > 0 && ($bits & ($bits - 1)) == 0;
         |for (int $i = 0; $i < 3 && $ok; $i++) {
         |  long $pos = (($b + $i * $h2) & Long.MAX_VALUE) & ($bits - 1);
         |  $ok = ($a[(int)($pos >>> 3)] & (1 << ($pos & 7))) != 0;
         |}
         |${ev.value} = $ok;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): BloomContains =
    copy(left = newLeft, right = newRight)
}

object BloomContains {
  /** splitmix64 finalizer — the second hash of the double-hashing scheme.
    * Public (and static from codegen's perspective) so interpreted eval,
    * generated code and the builder share one definition. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Filter byte size for `n` items: `bitsPerItem` bits each, rounded up
    * to a power of two so the probe mod is a mask. */
  def sizeBytes(n: Long, bitsPerItem: Int = 12): Int = {
    var bits = 64L
    while (bits < n * bitsPerItem) bits <<= 1
    (bits >>> 3).toInt
  }

  /** Set one element's k=3 probe bits in an existing (power-of-two sized)
    * filter — the shared primitive of the driver-side [[build]] and the
    * distributed partial-filter builder (TrainingOps.buildBloom). */
  def set(arr: Array[Byte], h: Long): Unit = {
    val bits = arr.length.toLong << 3
    val h2 = mix(h)
    var i = 0
    while (i < 3) {
      val pos = ((h + i * h2) & Long.MaxValue) & (bits - 1)
      arr((pos >>> 3).toInt) = (arr((pos >>> 3).toInt) | (1 << (pos & 7).toInt)).toByte
      i += 1
    }
  }

  /** Build a filter over the given element hashes: k=3 probes,
    * `bitsPerItem` bits each (12 → ~1% false positives), byte-array size
    * rounded up to a power of two so the probe mod is a mask. */
  def build(hashes: Array[Long], bitsPerItem: Int = 12): Array[Byte] = {
    val arr = new Array[Byte](sizeBytes(hashes.length.toLong, bitsPerItem))
    hashes.foreach(set(arr, _))
    arr
  }

  /** Interpreted membership check (shared with nullSafeEval). Rejects
    * malformed filters (empty or non-power-of-two binary — SQL callers can
    * pass any binary) with `false` instead of corrupt indexing. */
  def contains(arr: Array[Byte], h: Long): Boolean = {
    val bits = arr.length.toLong << 3
    if (bits == 0 || (bits & (bits - 1)) != 0) return false
    val h2 = mix(h)
    var i = 0
    while (i < 3) {
      val pos = ((h + i * h2) & Long.MaxValue) & (bits - 1)
      if ((arr((pos >>> 3).toInt) & (1 << (pos & 7).toInt)) == 0) return false
      i += 1
    }
    true
  }
}
