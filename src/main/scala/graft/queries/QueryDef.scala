package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: `build` runs it over an sf directory, and `oracle`
  * gives the DuckDB SQL whose result it must equal row for row. The
  * oracle is a thunk, so listing the registry evaluates none of them
  * (several build fixtures or encode images). */
final case class QueryDef(name: String, family: String,
                          build: (SparkSession, String) => DataFrame,
                          oracle: () => String)

object QueryDef {
  /** One object, one file per family. */
  def families: Seq[QueryFamily] =
    Seq(Extraction, Streaming, Relational, Dedup, Ann, Sketch, Text, Media, Web)

  def all: Seq[QueryDef] = families.flatMap(_.defs)
}

/** A family file: its queries (each with its oracle) plus the helpers only
  * that family uses. */
abstract class QueryFamily(val family: String) {
  def defs: Seq[QueryDef]

  protected def query(name: String, build: (SparkSession, String) => DataFrame,
                      oracle: => String): QueryDef =
    QueryDef(name, family, build, () => oracle)
}
