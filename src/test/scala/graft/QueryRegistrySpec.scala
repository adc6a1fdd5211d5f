package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.QueryDef

/** The query registry's contract, and the frozen oracle text: every oracle
  * pinned in `oracle_sql.md5` (one `name<TAB>md5 of the SQL` line each) must
  * still exist with the same text. Names missing from the pin file are
  * allowed, since oracle changes are additions-only. */
class QueryRegistrySpec extends AnyFunSuite {

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  test("query names are unique and every family is non-empty") {
    val names = QueryDef.all.map(_.name)
    assert(names.distinct.size == names.size, s"duplicates: ${names.diff(names.distinct)}")
    val families = QueryDef.families
    assert(families.map(_.family).distinct.size == families.size)
    families.foreach { f =>
      assert(f.defs.nonEmpty, s"family ${f.family} is empty")
      assert(f.defs.forall(_.family == f.family), s"family ${f.family} holds another family's query")
    }
  }

  test("every pinned oracle still exists with the same SQL text") {
    val src = scala.io.Source.fromResource("oracle_sql.md5")("UTF-8")
    val pinned = try src.getLines().map(_.split('\t')).map { case Array(n, h) => n -> h }.toList
      finally src.close()
    assert(pinned.nonEmpty)
    val oracles = SparkEntry.oracleSql
    val missing = pinned.collect { case (n, _) if !oracles.contains(n) => n }
    assert(missing.isEmpty, s"pinned oracles removed: $missing")
    val changed = pinned.collect { case (n, h) if md5(oracles(n)) != h => n }
    assert(changed.isEmpty, s"pinned oracle text changed: $changed")
  }
}
