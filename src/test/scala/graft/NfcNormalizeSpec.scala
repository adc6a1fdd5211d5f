package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Native codegen NFC normalization expression + the normalizeNfc op. */
class NfcNormalizeSpec extends AnyFunSuite with BeforeAndAfterAll {

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
      .select(concat(lit("e\u0301 "), col("id").cast("string")).as("t"))
      .select(expr("graft_nfc(t)").as("n"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1)") && p.contains("graft_nfc"), p)
    assert(df.collect().forall(_.getString(0).startsWith("\u00e9 ")))
  }

  test("normalizeNfc op rewrites the text column in place, other columns untouched") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "cafe\u0301", "web"), (2L, "plain", "books"))
      .toDF("doc_id", "text", "source")
    val got = operators.TrainingOps.normalizeNfc(docs)
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "caf\u00e9", "web"), (2L, "plain", "books")))
  }
}
