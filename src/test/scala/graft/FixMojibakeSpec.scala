package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Native codegen mojibake-repair expression + the fixMojibake op. */
class FixMojibakeSpec extends AnyFunSuite with BeforeAndAfterAll {

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
      .select(concat(lit("Caf\u00c3\u00a9 "), col("id").cast("string")).as("t"))
      .select(expr("graft_fix_mojibake(t)").as("n"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1)") && p.contains("graft_fix_mojibake"), p)
    assert(df.collect().forall(_.getString(0).startsWith("Caf\u00e9 ")))
  }

  test("fixMojibake op rewrites text in place; other columns untouched") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "Caf\u00c3\u00a9", "web"), (2L, "ok", "books"))
      .toDF("doc_id", "text", "source")
    val got = operators.TrainingOps.fixMojibake(docs)
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "Caf\u00e9", "web"), (2L, "ok", "books")))
  }
}
