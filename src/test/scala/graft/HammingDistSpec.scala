package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Native codegen hamming expression + the simhash near-dup pairing op. */
class HammingDistSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("expression participates in whole-stage codegen") {
    val df = spark.range(8)
      .select(concat(lit("0"), col("id").cast("string")).as("a"), lit("01").as("b"))
      .select(expr("graft_hamming(a, b)"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1)") && p.contains("graft_hamming"), p)
    assert(df.collect().length == 8)
  }

  test("simhashDupPairs: exact dups at hamming 0, planted 1-bit pair found, distant docs excluded") {
    val s = spark
    import s.implicits._
    val a = "the quick brown fox jumps over the lazy dog while autumn leaves drift across the quiet river valley under a pale morning sky"
    val b = "the quick brown evening jumps over the lazy dog while autumn leaves drift across the quiet river valley under a pale morning sky"
    val docs = Seq(
      (1L, a), (2L, b), // hamming 1 (verified offline)
      (3L, "completely different text about query engines and storage"),
      (10L, "identical row"), (11L, "identical row")).toDF("doc_id", "text")
    val got = operators.TrainingOps.simhashDupPairs(docs)
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got.get((1L, 2L)).contains(1), s"got $got")
    assert(got.get((10L, 11L)).contains(0), s"got $got")
    assert(!got.keySet.exists { case (x, y) => x == 3L || y == 3L }, s"got $got")
  }
}
