package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.expressions.{BloomContains, NativeFunctions}

/** Plan-embedded bloom filter: the native membership expression and the
  * bloom-prefiltered decontamination path. */
class BloomContainsSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("no false negatives; false-positive rate sane at 12 bits/item") {
    val r = new scala.util.Random(11)
    val members = Array.fill(5000)(r.nextLong())
    val bloom = BloomContains.build(members, bitsPerItem = 12)
    members.foreach(h => assert(BloomContains.contains(bloom, h)))
    val probes = Array.fill(20000)(r.nextLong()).filterNot(members.contains)
    val fp = probes.count(BloomContains.contains(bloom, _)).toDouble / probes.length
    assert(fp < 0.05, f"false-positive rate $fp%.4f")
  }

  test("expression evaluates in codegen and agrees with the interpreted check") {
    NativeFunctions.register(spark)
    val members = Array(1L, 42L, 9999L)
    val b64 = java.util.Base64.getEncoder.encodeToString(BloomContains.build(members))
    val df = spark.range(10000)
      .select(col("id"), expr(s"graft_bloom_contains(unbase64('$b64'), id)").as("hit"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1)") && p.contains("graft_bloom_contains"), p)
    val got = df.collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    (0L until 10000L).foreach { id =>
      assert(got(id) == BloomContains.contains(BloomContains.build(members), id), s"id $id")
    }
    assert(got(42L) && got(9999L) && got(1L))
  }

  test("decontaminateBloom returns exactly decontaminate's answer") {
    val s = spark
    import s.implicits._
    val evalText = (1 to 13).map(i => s"ev$i").mkString(" ")
    val docs = Seq(
      (1L, evalText),
      (2L, s"prefix words $evalText suffix words"),
      (3L, (1 to 20).map(i => s"clean$i").mkString(" ")),
      (4L, "short clean doc")).toDF("doc_id", "text")
    val eval_ = Seq((100L, evalText)).toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").as[Long].collect().toSet
    val exact = ids(operators.TrainingOps.decontaminate(docs, eval_))
    val bloom = ids(operators.TrainingOps.decontaminateBloom(docs, eval_))
    assert(bloom == exact && exact == Set(3L, 4L), s"exact $exact bloom $bloom")
  }

  test("malformed filters (empty / non-power-of-two binary) return false, never crash") {
    NativeFunctions.register(spark)
    assert(!BloomContains.contains(Array.empty[Byte], 42L))
    assert(!BloomContains.contains(new Array[Byte](3), 42L)) // 24 bits: not a power of two
    val b64ok = java.util.Base64.getEncoder.encodeToString(BloomContains.build(Array(42L)))
    // codegen path: the same guards inside the generated loop (spark.range
    // keeps the expressions out of ConvertToLocalRelation constant folding)
    val r = spark.range(1).selectExpr(
      "graft_bloom_contains(CAST('' AS BINARY), 42L) AS e",
      "graft_bloom_contains(CAST('abc' AS BINARY), 42L) AS n",
      s"graft_bloom_contains(unbase64('$b64ok'), 42L) AS ok").collect()(0)
    assert(!r.getBoolean(0) && !r.getBoolean(1) && r.getBoolean(2))
  }

  test("distributed buildBloom (partition partials + OR-fold) equals the driver-side build") {
    val s = spark
    import s.implicits._
    val df = (1 to 3000).map(i => s"gram-$i").toDF("g").repartition(7)
    val dist = operators.TrainingOps.buildBloom(df, "g", bitsPerItem = 12)
    val hashes = df.select(xxhash64(col("g"))).as[Long].collect()
    val driver = BloomContains.build(hashes, bitsPerItem = 12)
    assert(java.util.Arrays.equals(dist, driver))
    // empty gram set → a valid (power-of-two) filter matching nothing
    val empty = operators.TrainingOps.buildBloom(df.where(lit(false)), "g")
    assert(empty.nonEmpty && !BloomContains.contains(empty, 7L))
  }
}
