package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.Catalog

/** The query catalog's shape, checked without a SparkSession: building the
  * entries runs no query, so these tests only read names and oracle text. */
class CatalogSpec extends AnyFunSuite {

  test("the catalog holds 90 entries with distinct names") {
    val names = Catalog.entries.map(_.name)
    assert(names.size == 90)
    assert(names.distinct.size == names.size, names.diff(names.distinct))
  }

  test("SparkEntry's two views cover the same query names") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == Catalog.entries.map(_.name).toSet)
  }

  test("every oracle is non-empty and interpolates no uninitialised helper") {
    // a helper val declared below a family's `entries` is still null when
    // the oracles are built, and string interpolation renders it as "null"
    for (e <- Catalog.entries) {
      assert(e.oracleSql.trim.nonEmpty, e.name)
      assert(!e.oracleSql.contains("null"), e.name)
    }
  }
}
