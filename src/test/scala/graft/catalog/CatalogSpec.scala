package graft
package catalog

import org.scalatest.funsuite.AnyFunSuite

/** The catalog's invariants, checked without a Spark session: building the
  * specs only creates lambdas and oracle strings. */
class CatalogSpec extends AnyFunSuite {

  private val names = SparkEntry.catalog.map(_.name)

  test("query names are unique and well-formed") {
    assert(names.diff(names.distinct).isEmpty)
    val bad = names.filterNot(_.matches("q\\d+_[a-z0-9_]+"))
    assert(bad.isEmpty, s"malformed names: $bad")
  }

  test("qNN prefixes are unique (Bench keys its summary line on them)") {
    val prefixes = names.map(_.takeWhile(_ != '_'))
    assert(prefixes.diff(prefixes.distinct).isEmpty)
  }

  test("every query has an oracle except q40's trained-centroid ANN") {
    assert(SparkEntry.catalog.filter(_.oracle.isEmpty).map(_.name) ===
      Seq("q40_embed_ann_kmeans"))
  }

  test("queries and oracleSql are views of the catalog") {
    assert(SparkEntry.queries.size === 339)
    assert(SparkEntry.oracleSql.size === 338)
    assert(SparkEntry.queries.keySet === names.toSet)
    assert(SparkEntry.oracleSql === SparkEntry.catalog
      .flatMap(q => q.oracle.map(q.name -> _)).toMap)
  }
}
