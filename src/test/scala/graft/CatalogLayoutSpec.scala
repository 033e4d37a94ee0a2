package graft

import org.scalatest.funsuite.AnyFunSuite

/** The catalog's layout contract, checked without a Spark job: query
  * names are unique, numbered `q<N>_…` with N strictly ascending in
  * `Queries.all`, and every oracle belongs to a catalog query. */
class CatalogLayoutSpec extends AnyFunSuite {
  private val names = Queries.all.map(_.name)

  test("catalog names are unique") {
    assert(names.distinct.size == names.size, names.diff(names.distinct))
  }

  test("catalog names are q<N>_… with N strictly ascending") {
    val bad = names.filterNot(_.matches("q\\d+_\\w+"))
    assert(bad.isEmpty, s"names off the q<N>_ pattern: $bad")
    val nums = names.map(_.drop(1).takeWhile(_.isDigit).toInt)
    val unordered = nums.zip(nums.drop(1)).filterNot { case (a, b) => a < b }
    assert(unordered.isEmpty, s"out of order: $unordered")
  }

  test("every oracle key is a catalog query") {
    val stray = SparkEntry.oracleSql.keySet -- names
    assert(stray.isEmpty, s"oracles without a query: $stray")
  }
}
