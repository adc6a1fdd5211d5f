package graft

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.expressions.{BloomContains, NativeFunctions}

/** Every entry of the native-function table against its reference: the
  * composed SQL/HOF form the kernel replaced where there is one, else the
  * documented contract, as plain Scala or as pinned values. Each probe is
  * compared bit for bit under compiled and under interpreted evaluation,
  * behind an exchange so the projection is not folded at planning time.
  * The session gets the functions only through the extensions conf. */
class NativeFunctionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** `name(args)` over `rows` must equal `ref` on every row. */
  private case class Probe(label: String, rows: DataFrame, args: Seq[Column], ref: Column)

  /** Rows of a DDL schema, each prefixed with its index as `id`. */
  private def frame(ddl: String)(rows: Seq[Any]*): DataFrame =
    spark.createDataFrame(
      rows.zipWithIndex.map { case (r, i) => Row(i.toLong +: r: _*) }.asJava,
      StructType.fromDDL(s"id BIGINT, $ddl"))

  /** Bitwise equality (so -0.0 differs from 0.0; every NaN is one value),
    * arrays by element. */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.length == y.length && x.lazyZip(y).forall(same)
    case _ => a == b
  }

  // ---- composed forms the kernels replaced

  private def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  private def normFold(a: Column): Column =
    sqrt(aggregate(a, lit(0.0d), (acc, v) => acc + v * v))

  private def sqDistFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0d), (acc, v) => acc + v)

  /** Per-subspace `least(struct(distance, code))`, first code on ties. */
  private def argminCodesComposed(emb: Column, codebook: Array[Array[Array[Double]]]): Column = {
    val sub = codebook(0)(0).length
    array(codebook.indices.map { j =>
      least(codebook(j).zipWithIndex.map { case (cent, c) =>
        struct(sqDistFold(slice(emb, j * sub + 1, sub), array(cent.map(lit): _*)).as("d"),
          lit(c).as("c"))
      }.toIndexedSeq: _*).getField("c")
    }.toIndexedSeq: _*)
  }

  private def lshBucketComposed(emb: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (plane, b) =>
      when(dotFold(emb, array(plane.map(lit): _*)) > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  private def shinglesComposed(text: Column, k: Int): Column = {
    val toks = split(lower(text), "\\s+")
    when(size(toks) < k, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
  }

  // ---- documented contracts as plain Scala

  /** Hamming over the UTF-8 bytes; surplus bytes of the longer side differ. */
  private def byteHamming(a: String, b: String): Int = {
    val (x, y) = (a.getBytes(UTF_8).map(Option(_)), b.getBytes(UTF_8).map(Option(_)))
    x.zipAll(y, None, None).count { case (p, q) => p != q }
  }

  private def nfc(s: String): String = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)

  // ---- inputs

  private def doubles(r: Random, n: Int, lo: Double, hi: Double): Seq[Any] =
    Seq.fill(n)(lo + (hi - lo) * r.nextDouble())

  private val NaN = Double.NaN
  private val Inf = Double.PositiveInfinity

  private val pqCodebook = Array(
    Array(Array(0.0, 0.0), Array(1.0, 1.0), Array(1.0, 1.0)), // duplicate centroid: ties
    Array(Array(-1.0, 2.0), Array(0.5, -0.5), Array(3.0, 3.0)))

  /** Vector inputs of width 4 where the kernels' folds can go wrong. */
  private val vectorEdges: Seq[Seq[Any]] = Seq(
    Seq(1.0, 1.0, -1.0, 2.0), Seq(0.5, 0.5, 0.5, -0.5),   // exact ties
    Seq(0.0, 0.0, 0.0, 0.0), Seq(-0.0, -0.0, 0.0, -0.0),
    Seq(NaN, 0.0, 1.0, 1.0), Seq(Inf, 0.0, 0.0, -Inf),
    Seq(null, 1.0, 1.0, 1.0), Seq(1.0, 1.0, 3.0, null),   // null elements
    Seq(1.0, 1.0, 3.0), Seq(1.0), Seq(),                  // short
    Seq(1.0, 1.0, 3.0, 3.0, 9.0))                         // long

  private lazy val references: Map[String, () => Seq[Probe]] = Map(
    "graft_cosine" -> { () =>
      val a = col("a"); val b = col("b"); val r = new Random(7)
      val rows = Seq.fill(200)(Seq(doubles(r, 64, -0.5, 0.5), doubles(r, 64, -0.5, 0.5))) ++ Seq(
        Seq(Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0)), Seq(Seq(4.0, 5.0), Seq(1.0, 2.0, 3.0)),
        Seq(Seq(1.0, null, 3.0), Seq(1.0, 2.0, 3.0)), Seq(Seq(1.0, 2.0), Seq(null, 2.0)),
        Seq(null, Seq(1.0)), Seq(Seq(1.0), null),
        Seq(Seq(NaN, 1.0), Seq(1.0, 1.0)), Seq(Seq(Inf, 1.0), Seq(1.0, 1.0)),
        Seq(Seq(-0.0, 1.0), Seq(1.0, -0.0)), Seq(Seq(-2.0, 3.0), Seq(-2.0, 3.0)))
      Seq(
        Probe("composed fold", frame("a ARRAY<DOUBLE>, b ARRAY<DOUBLE>")(rows: _*), Seq(a, b),
          dotFold(a, b) / (normFold(a) * normFold(b))),
        // the composed `/` has no value for a zero divisor; the kernel
        // gives the IEEE quotient
        Probe("zero norm is NaN", frame("a ARRAY<DOUBLE>, b ARRAY<DOUBLE>, want DOUBLE")(
          Seq(Seq(), Seq(), NaN), Seq(Seq(0.0, 0.0), Seq(1.0, 2.0), NaN),
          Seq(Seq(-0.0), Seq(-0.0), NaN)), Seq(a, b), col("want")))
    },
    "graft_int_dot" -> { () =>
      val a = col("a"); val b = col("b"); val r = new Random(7)
      def vec(n: Int): Seq[Any] = Seq.fill(n)(r.nextInt(255) - 127)
      val rows = Seq.fill(50)(Seq(vec(64), vec(64))) ++ Seq(
        Seq(Seq.fill(64)(-127), Seq.fill(64)(127)),
        Seq(vec(64), vec(63)), Seq(vec(3), vec(5)),
        Seq(vec(4).updated(2, null), vec(4)), Seq(vec(4), vec(4).updated(0, null)),
        Seq(Seq(), Seq()), Seq(null, vec(4)), Seq(vec(4), null))
      Seq(
        Probe("composed fold", frame("a ARRAY<INT>, b ARRAY<INT>")(rows: _*), Seq(a, b),
          aggregate(zip_with(a, b, (x, y) => x.cast("long") * y), lit(0L), (acc, v) => acc + v)),
        Probe("ragged or null element is null, empty is 0",
          frame("a ARRAY<INT>, b ARRAY<INT>, want BIGINT")(
            Seq(Seq(1, 2, 3), Seq(1, 2), null), Seq(Seq(1, null), Seq(1, 2), null),
            Seq(Seq(1, 2), Seq(null, 2), null), Seq(Seq(), Seq(), 0L),
            Seq(Seq(-127, 127), Seq(127, 127), 0L)), Seq(a, b), col("want")))
    },
    "graft_argmin_codes" -> { () =>
      val e = col("e"); val r = new Random(11)
      val cells = Array.fill(4)(Array.fill(4)(r.nextDouble() * 2 - 1))
      def probe(label: String, codebook: Array[Array[Array[Double]]], rows: Seq[Seq[Any]]) =
        Probe(label, frame("e ARRAY<DOUBLE>")(rows.map(Seq(_)): _*),
          Seq(e, lit(codebook.flatten.flatten), lit(codebook.length), lit(codebook(0).length)),
          argminCodesComposed(e, codebook))
      Seq(
        probe("composed least, m=2 k=3", pqCodebook,
          Seq.fill(100)(doubles(r, 4, -2.0, 3.5)) ++ vectorEdges),
        probe("composed least, m=1 (IVF cell)", Array(cells),
          Seq.fill(50)(doubles(r, 4, -1.0, 1.0)) ++ vectorEdges),
        // infinite and NaN distances: SQL orders NaN above +Infinity
        probe("composed least, NaN and infinite distances",
          Array(Array(Array(Inf), Array(5.0), Array(NaN))),
          Seq(Seq(1.0), Seq(Inf), Seq(-Inf), Seq(NaN), Seq(5.0))),
        Probe("null embedding is null", frame("e ARRAY<DOUBLE>, want ARRAY<INT>")(Seq(null, null)),
          Seq(e, lit(pqCodebook.flatten.flatten), lit(2), lit(3)), col("want")))
    },
    "graft_lsh_bucket" -> { () =>
      val e = col("e"); val r = new Random(13)
      val planes = (0 until 8).map(b => operators.TrainingOps.hyperplane(b, 4))
      val args = Seq(e, lit(planes.flatten.toArray), lit(8))
      Seq(
        Probe("composed sign bits", frame("e ARRAY<DOUBLE>")(
          (Seq.fill(100)(doubles(r, 4, -1.0, 1.0)) ++ vectorEdges).map(Seq(_)): _*),
          args, lshBucketComposed(e, planes)),
        Probe("null embedding is null", frame("e ARRAY<DOUBLE>, want BIGINT")(Seq(null, null)),
          args, col("want")))
    },
    "graft_hamming" -> { () =>
      val a = col("a"); val b = col("b"); val r = new Random(17)
      val bits = Seq.fill(20)(Seq.fill(2)(Seq.fill(64)(if (r.nextBoolean()) '1' else '0').mkString))
      val pinned = Seq(
        Seq("0000", "0000", 0), Seq("0001", "0000", 1), Seq("1111", "0000", 4),
        Seq("10101", "10011", 2), Seq("abc", "abd", 1),
        Seq("abc", "abcd", 1)) // surplus length counts as differing
      val ascii = bits ++ pinned.map(_.take(2)) ++ Seq(
        Seq("", ""), Seq("", "01"), Seq("\u007f", "~"), Seq("\u0000a", "\u0000b"))
      val utf8 = Seq(
        Seq("\u00e9", "e"), Seq("caf\u00e9", "cafe"), Seq("\u00e9", "\u00e8"),
        Seq("\ud83d\ude00", "\ud83d\ude01"), Seq("\ud83d\ude00", ""), Seq("a\ud800\udc00", "a"))
      Seq(
        // the size(filter(sequence, substring != substring)) form counts
        // characters, so it is the reference on ASCII only
        Probe("composed per-position count (ASCII)", frame("a STRING, b STRING")(ascii: _*),
          Seq(a, b), expr("size(filter(sequence(1, greatest(length(a), length(b))), " +
            "i -> substring(a, i, 1) != substring(b, i, 1)))")),
        Probe("byte-wise over UTF-8", frame("a STRING, b STRING, want INT")(
          (pinned ++ utf8.map { case Seq(x: String, y: String) => Seq(x, y, byteHamming(x, y)) } ++
            Seq(Seq(null, "0", null), Seq("0", null, null))): _*), Seq(a, b), col("want")))
    },
    "graft_shingles" -> { () =>
      val t = col("t")
      val rows = Seq(
        "",                                  // empty -> [""] (split yields one empty token)
        "one",                               // short text: single all-token gram
        "a b", "a b c", "a b c d e f",
        "  leading and trailing  ",          // split(\\s+) empty-edge tokens
        "tab\tseparated\nand newline",       // non-space whitespace
        "MIXED Case \u00c9COLE Stra\u00dfe \u03a3\u0399\u0393\u039c\u0391", // lowercasing must match `lower`
        "\ud801\udc00 \ud835\udc00 \ud83d\ude00 non-BMP", // Deseret capital lowercases outside the BMP
        "double  space   runs",
        "a " * 40,
        null).map(Seq(_))
      Seq(2, 3, 13).map(k => Probe(s"composed split/transform/concat_ws, k=$k",
        frame("t STRING")(rows: _*), Seq(t, lit(k)), shinglesComposed(t, k)))
    },
    "graft_bloom_contains" -> { () =>
      val members = Seq(1L, 42L, 9999L, -7L, Long.MinValue)
      val filter = BloomContains.build(members.toArray)
      val probes = members ++ (0L until 300L) ++ Seq(Long.MaxValue, -1L)
      Seq(
        Probe("BloomContains.contains", frame("f BINARY, h BIGINT, want BOOLEAN")(
          probes.map(h => Seq(filter, h, BloomContains.contains(filter, h))): _*),
          Seq(col("f"), col("h")), col("want")),
        Probe("members hit; malformed filters miss; nulls are null",
          frame("f BINARY, h BIGINT, want BOOLEAN")(
            members.map(h => Seq(filter, h, true)) ++ Seq(
              Seq(Array.emptyByteArray, 42L, false), Seq(new Array[Byte](3), 42L, false),
              Seq(null, 42L, null), Seq(filter, null, null)): _*),
          Seq(col("f"), col("h")), col("want")))
    },
    "graft_nfc" -> { () =>
      val edges = Seq(
        "\ud834\udd5e",          // non-BMP composition exclusion: NFC decomposes it
        "\ud83d\ude00 e\u0301",   // non-BMP passes, the rest composes
        "\u007f", "abc\u0080", "a\u0301", // last ASCII byte; first high byte at the end
        "\u1e9b\u0323")           // long s with dot above + dot below
      Seq(
        Probe("pinned", frame("a STRING, want STRING")(
          Seq("cafe\u0301", "caf\u00e9"),       // combining acute composes
          Seq("caf\u00e9", "caf\u00e9"),        // precomposed passes through
          Seq("ascii only", "ascii only"),      // ASCII fast path
          Seq("", ""),
          Seq("\u1100\u1161", "\uac00"),       // Hangul jamo -> syllable
          Seq("A\u030a", "\u00c5"),             // A + ring -> Angstrom letter
          Seq("\u2126", "\u03a9"),              // OHM SIGN: canonical singleton -> Omega
          Seq("\ufb01", "\ufb01"),              // fi ligature: NFC keeps (NFKC wouldn't)
          Seq(null, null)), Seq(col("a")), col("want")),
        Probe("java.text.Normalizer NFC", frame("a STRING, want STRING")(
          edges.map(s => Seq(s, nfc(s))): _*), Seq(col("a")), col("want")))
    },
    "graft_fix_mojibake" -> { () =>
      Seq(Probe("pinned", frame("a STRING, want STRING")(
        Seq("Caf\u00c3\u00a9", "Caf\u00e9"),                    // utf8(e-acute) as cp1252
        Seq("don\u00e2\u20ac\u2122t", "don\u2019t"),            // utf8(U+2019) as cp1252
        Seq("Caf\u00c3\u0192\u00c2\u00a9", "Caf\u00e9"),        // double-encoded
        Seq("\u00c3\u00bcber \u00c3\u00b6l", "\u00fcber \u00f6l"), // umlauts
        Seq("Caf\u00e9 propre", "Caf\u00e9 propre"),              // healthy: strict decode aborts
        Seq("plain ascii", "plain ascii"),                       // fast path
        Seq("", ""),
        Seq("A\u00c3", "A\u00c3"),                               // dangling lead byte: decode aborts
        Seq("\u00c3\u0100", "\u00c3\u0100"),                    // U+0100 has no cp1252 byte: encode aborts
        Seq("\u00f0\u0178\u02dc\u20ac", "\ud83d\ude00"),        // utf8(U+1F600) as cp1252
        Seq("\ud83d\ude00 ok", "\ud83d\ude00 ok"),              // non-BMP, no 0xC3 byte: fast path
        Seq("\u007f", "\u007f"),
        Seq(null, null)), Seq(col("a")), col("want")))
    })

  test("every table entry has a reference and every reference a table entry") {
    val names = NativeFunctions.all.map(_.name)
    assert(names.distinct.size == names.size, names)
    assert(references.keySet == names.toSet)
  }

  for (f <- NativeFunctions.all)
    test(s"${f.name} equals its reference, compiled and interpreted") {
      val probes = references.getOrElse(f.name, fail(s"no reference for ${f.name}"))()
      for (p <- probes; mode <- CodegenModes.both) CodegenModes.withCodegenMode(spark, mode) {
        val got = p.rows.repartition(2)
          .select(col("id"), call_function(f.name, p.args: _*), p.ref).collect()
        assert(got.length == p.rows.count(), s"${p.label} $mode")
        got.foreach { r =>
          assert(same(r.get(1), r.get(2)),
            s"${p.label} $mode id=${r.getLong(0)}: native ${r.get(1)}, reference ${r.get(2)}")
        }
      }
    }

  test("the extensions conf alone resolves every table entry") {
    val registry = spark.sessionState.functionRegistry
    for (f <- NativeFunctions.all) {
      assert(registry.functionExists(f.id), f.name)
      val e = f.builder(Seq.fill(f.arity)(Literal(1)))
      assert(e.prettyName == f.name && e.getClass.getName == f.info.getClassName, f.name)
    }
  }

  test("register alone installs every table entry, idempotently") {
    val s2 = spark.newSession()
    NativeFunctions.all.foreach(f => s2.sessionState.functionRegistry.dropFunction(f.id))
    assert(NativeFunctions.all.forall(f => !s2.catalog.functionExists(f.name)))
    NativeFunctions.register(s2)
    NativeFunctions.register(s2)
    assert(NativeFunctions.all.forall(f => s2.catalog.functionExists(f.name)))
    assert(s2.range(1).select(call_function("graft_nfc", lit("e\u0301"))).head().getString(0) == "\u00e9")
  }

  test("every entry rejects a wrong argument type and a wrong arity") {
    for (f <- NativeFunctions.all) {
      intercept[AnalysisException] {
        spark.range(1).select(call_function(f.name, Seq.fill(f.arity)(lit(1)): _*)).collect()
      }
      intercept[Exception] {
        spark.range(1).select(call_function(f.name, Seq.fill(f.arity + 1)(lit(1)): _*)).collect()
      }
    }
  }
}
