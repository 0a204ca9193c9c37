package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry as the harnesses see it: every family's specs
  * concatenated into [[SparkEntry.queries]] and [[SparkEntry.oracleSql]].
  * No SparkSession: nothing here builds a plan.
  */
class QueryRegistrySpec extends AnyFunSuite {
  private val names = SparkEntry.specs.map(_.name)

  private def dups(xs: Seq[String]): Seq[String] =
    xs.groupBy(identity).collect { case (x, v) if v.size > 1 => x }.toSeq.sorted

  test("spec names are unique across families") {
    // a duplicate would silently collapse in toMap
    assert(dups(names).isEmpty, dups(names))
    assert(SparkEntry.queries.size == names.size)
  }

  test("qNNN id prefixes are unique") {
    // Bench keys its JSON and its numeric order on the prefix
    val ids = names.map(_.takeWhile(_ != '_'))
    assert(dups(ids).isEmpty, dups(ids))
  }

  test("every name matches q<digits>_<suffix>") {
    val bad = names.filterNot(_.matches("""q\d+_\w+"""))
    assert(bad.isEmpty, bad)
  }

  test("every oracle is non-blank") {
    val blank = SparkEntry.specs.filter(_.oracleSql.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, blank)
  }

  test("queries and oracleSql cover the same names") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == names.toSet)
  }

  test("the entry query resolves") {
    assert(SparkEntry.queries.contains("q44_star_join"))
  }
}
