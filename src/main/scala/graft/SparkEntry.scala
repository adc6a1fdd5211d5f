package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.QueryDef
import graft.testkit.Corpus

/** Driver contract: the flagship extraction [[entry]] plus one query per
  * implemented operator family, each with a DuckDB oracle. Queries and
  * oracles are defined together in the [[QueryDef]] registry (one file per
  * family under `graft/queries`); `queries` and `oracleSql` are its two
  * views by name. */
object SparkEntry {

  /** Flagship: full extraction pipeline over an interleaved corpus. */
  def entry(spark: SparkSession): DataFrame = {
    implicit val s: SparkSession = spark
    import s.implicits._
    val built = Corpus.build(nDocs = 16, heavyEvery = 8)
    val docs = s.createDataset(built.docs).toDF()
    val media = s.createDataset(built.media).toDF()
    ExtractJob.extract(docs, media, 8)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = QueryDef.all.map(q => q.name -> q.build).toMap

  def oracleSql: Map[String, String] = QueryDef.all.map(q => q.name -> q.oracle()).toMap
}
