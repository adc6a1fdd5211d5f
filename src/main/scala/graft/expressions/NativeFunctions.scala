package graft.expressions

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.call_function

/** One native SQL function: its name, arity and builder. `info` and
  * `builder` are built once, so registering the same entry twice hands the
  * registry identical values (no "replaced a previously registered
  * function" churn). */
final class NativeFunction private (val name: String, val arity: Int,
                                    cls: Class[_], build: Seq[Expression] => Expression) {
  val id: FunctionIdentifier = FunctionIdentifier(name)
  val info: ExpressionInfo = new ExpressionInfo(cls.getName, name)
  val builder: Seq[Expression] => Expression = { args =>
    require(args.length == arity, s"$name takes exactly $arity argument(s)")
    build(args)
  }
}

object NativeFunction {
  def apply[E <: Expression](name: String, arity: Int)(build: Seq[Expression] => E)(
      implicit ct: ClassTag[E]): NativeFunction =
    new NativeFunction(name, arity, ct.runtimeClass, build)
}

/** The table of every native Catalyst function (`graft_*`). A session gets
  * all of them either at construction, through
  * `spark.sql.extensions=graft.expressions.GraftExtensions`, or lazily
  * through [[register]], which the operators call before building a column
  * so sessions built without the extensions conf work too. Adding a kernel
  * means one entry here plus one reference entry in NativeFunctionsSpec. */
object NativeFunctions {

  val all: Seq[NativeFunction] = Seq(
    NativeFunction[CosineSim]("graft_cosine", 2)(a => CosineSim(a(0), a(1))),
    NativeFunction[IntDot]("graft_int_dot", 2)(a => IntDot(a(0), a(1))),
    NativeFunction[ArgminCodes]("graft_argmin_codes", 4)(a => ArgminCodes(a(0), a(1), a(2), a(3))),
    NativeFunction[LshBucket]("graft_lsh_bucket", 3)(a => LshBucket(a(0), a(1), a(2))),
    NativeFunction[HammingDist]("graft_hamming", 2)(a => HammingDist(a(0), a(1))),
    NativeFunction[Shingles]("graft_shingles", 2)(a => Shingles(a(0), a(1))),
    NativeFunction[BloomContains]("graft_bloom_contains", 2)(a => BloomContains(a(0), a(1))),
    NativeFunction[NfcNormalize]("graft_nfc", 1)(a => NfcNormalize(a(0))),
    NativeFunction[FixMojibake]("graft_fix_mojibake", 1)(a => FixMojibake(a(0))))

  /** Idempotent: installs every table entry in the session's registry. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach(f => registry.registerFunction(f.id, f.info, f.builder))
  }

  /** `name(args)` as a column, after registering the table on `spark`. */
  def call(spark: SparkSession, name: String, args: Column*): Column = {
    register(spark)
    call_function(name, args: _*)
  }

  /** `name(args)` as a column, after registering the table on the active
    * session (if any) — for column builders that have no DataFrame. */
  def call(name: String, args: Column*): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function(name, args: _*)
  }
}

/** SparkSessionExtensions entry point — injects every table entry:
  *
  *   spark.sql.extensions=graft.expressions.GraftExtensions
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    NativeFunctions.all.foreach(f => ext.injectFunction((f.id, f.info, f.builder)))
}
