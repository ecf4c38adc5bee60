package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Query

/** The query registry: one entry per query, each with its oracle, and
  * the driver's two name-keyed views built once from the same entries.
  * Builds no DataFrame, so it needs no session. */
class QueryRegistrySpec extends AnyFunSuite {

  test("205 queries with unique names, each with a non-blank oracle") {
    val names = Query.all.map(_.name)
    assert(names.size === 205)
    assert(names.distinct.size === names.size)
    val blank = Query.all.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"queries without an oracle: $blank")
  }

  test("queries and oracleSql hold the same names, built once") {
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet === Query.all.map(_.name).toSet)
    assert(SparkEntry.queries eq SparkEntry.queries)
    assert(SparkEntry.oracleSql eq SparkEntry.oracleSql)
  }

  test("a registry that repeats a name is refused") {
    val a = Query.all.head
    val b = Query.all(1).copy(name = a.name)
    val e = intercept[IllegalArgumentException](Query.byName(Seq(a, b)))
    assert(e.getMessage.contains(a.name))
  }
}
