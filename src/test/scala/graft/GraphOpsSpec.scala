package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.operators.GraphOps

class GraphOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graphops-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("degrees counts both sides incl. one-sided nodes") {
    val sp = spark; import sp.implicits._
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val got = GraphOps.degrees(e).as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 0L), (2L, 1L, 1L), (3L, 0L, 2L)))
  }

  test("coCitation finds shared destinations and drops over-cap hubs") {
    val sp = spark; import sp.implicits._
    // 1,2,3 -> 100 (shared hub); 1,2 -> 200; hub 300 gets 5 in-links, cap 4
    val e = (Seq((1L, 100L), (2L, 100L), (3L, 100L), (1L, 200L), (2L, 200L)) ++
      (1L to 5L).map(s => (s, 300L))).toDF("src", "dst")
    val got = GraphOps.coCitation(e, maxHub = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 2L), (1L, 3L, 1L), (2L, 3L, 1L)))
  }

  test("components finds disjoint groups through the shared CC machinery") {
    val sp = spark; import sp.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val got = GraphOps.components(e).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  /** Dense reference float PageRank (uniform dangling redistribution,
    * fixed iterations). */
  private def densePr(n: Int, edges: Seq[(Int, Int)], iters: Int, d: Double): Array[Double] = {
    val out = Array.fill(n)(List.empty[Int])
    edges.distinct.foreach { case (s, t) => out(s) = t :: out(s) }
    var r = Array.fill(n)(1.0 / n)
    for (_ <- 1 to iters) {
      val next = Array.fill(n)((1 - d) / n)
      var dangling = 0.0
      for (s <- 0 until n) {
        if (out(s).isEmpty) dangling += r(s)
        else out(s).foreach(t => next(t) += d * r(s) / out(s).size)
      }
      for (t <- 0 until n) next(t) += d * dangling / n
      r = next
    }
    r
  }

  test("pageRankFixedPoint tracks float PageRank within fixed-point error and rejects dangling") {
    val sp = spark; import sp.implicits._
    // strongly-linked graph, out-degree >= 1 everywhere
    val edges = Seq((0, 1), (1, 2), (2, 0), (2, 1), (3, 0), (0, 3))
    val want = densePr(4, edges, iters = 4, d = 0.85)
    val got = GraphOps.pageRankFixedPoint(
        edges.map { case (a, b) => (a.toLong, b.toLong) }.toDF("src", "dst"),
        iterations = 4)
      .as[(Long, Long)].collect().toMap
    for (i <- 0 until 4)
      assert(math.abs(got(i.toLong) / 1e12 - want(i)) < 1e-9,
        s"node $i: ${got(i.toLong) / 1e12} vs ${want(i)}")
    // node 4 dangles → contract violation must be rejected loudly
    val bad = (edges :+ ((1, 4))).map { case (a, b) => (a.toLong, b.toLong) }.toDF("src", "dst")
    assertThrows[IllegalArgumentException](GraphOps.pageRankFixedPoint(bad))
  }
}
