package graft

import org.scalatest.funsuite.AnyFunSuite

/** The gate registry's integrity, checked without running any query. */
class SparkEntrySpec extends AnyFunSuite {

  test("gate names are distinct") {
    val names = SparkEntry.gates.map(_.name)
    assert(names.diff(names.distinct).isEmpty)
  }

  test("every gate has a non-blank oracle") {
    // a null oracle means `gates` sits above the oracle val it reads
    val blank = SparkEntry.gates.filter(g => g.oracle == null || g.oracle.isBlank)
    assert(blank.map(_.name).isEmpty)
  }

  test("queries and oracleSql cover the same gates") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == SparkEntry.gates.size)
  }
}
