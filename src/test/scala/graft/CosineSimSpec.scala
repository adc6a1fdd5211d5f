package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Native codegen cosine expression: whole-stage codegen participation,
  * with the function injected by the extensions conf. Its values are
  * checked against the composed fold in NativeFunctionsSpec. */
class CosineSimSpec extends AnyFunSuite with BeforeAndAfterAll {

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
    // a range source (not a local relation, which would constant-fold)
    val df = spark.range(8)
      .select(array(col("id").cast("double"), lit(2.0)).as("a"), array(lit(3.0), lit(4.0)).as("b"))
      .select(expr("graft_cosine(a, b)"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1)") && p.contains("graft_cosine"), p)
    assert(df.collect().length == 8)
  }
}
