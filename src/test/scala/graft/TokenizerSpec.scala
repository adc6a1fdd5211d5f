package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.operators.TrainingOps

/** The lowercase whitespace tokenizer has two forms: the Column form
  * `TrainingOps.wordRows` (vocab, tf-idf, index, BPE, Count-Min) and the
  * Scala form `TrainingOps.wordSplit` (minhash, simhash, greedy BPE
  * encode). Both split on the same Java `\s+` regex after lowercasing;
  * this pins that they agree once empty tokens are dropped, and where
  * they differ before that. */
class TokenizerSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[1]")
      .config("spark.sql.shuffle.partitions", "1")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("wordRows equals wordSplit without its empty tokens on edge inputs") {
    val texts = Seq(
      "  leading and trailing  ",
      "\t\ttabs\r\ncr lf\n\n\rruns\u000b\fvt ff",
      "",
      "UPPER Case MiXeD",
      "ÄRGER Über ΣΟΦΟΣ İstanbul",
      "no\u00a0break") // NBSP is not in Java's \s: one token in both forms
    val s = spark
    import s.implicits._
    val docs = (texts.map(Option(_)) :+ None).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val rows = TrainingOps.wordRows(docs, "w", col("doc_id")).as[(Long, String)].collect().toSeq
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(rows.filter(_._1 == i).map(_._2) == TrainingOps.wordSplit(t).filter(_.nonEmpty).toSeq, t)
    }
    assert(rows.map(_._2).contains("no\u00a0break"))

    // the differences before empty tokens are dropped:
    // 1. leading whitespace yields a leading "" token, which minhashSig and
    //    simhash hash as a word today (changing it would move every
    //    signature); trailing whitespace yields none (Java's split drops
    //    trailing empties), while the Column form's split keeps them and
    //    its `<> ''` filter removes them
    assert(TrainingOps.wordSplit("  leading and trailing  ").toSeq == Seq("", "leading", "and", "trailing"))
    // 2. "" yields one "" token in the Scala form and no row in the Column form
    assert(TrainingOps.wordSplit("").toSeq == Seq(""))
    assert(!rows.exists(_._1 == 2L))
    // 3. NULL text yields no row in the Column form; the Scala form throws,
    //    so minhash, simhash and bpeEncodeGreedy fail on a NULL text
    assert(!rows.exists(_._1 == texts.size.toLong))
    intercept[NullPointerException](TrainingOps.wordSplit(null))
  }
}
