package graft

import org.scalatest.funsuite.AnyFunSuite

/** SparkEntry's two maps must not drift apart: an oracle left
  * behind by a removed query still ships in oracle_sql.json and checks
  * nothing.
  */
class SparkEntrySpec extends AnyFunSuite {
  test("every oracleSql key names a query in SparkEntry.queries") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without a query: ${orphans.toSeq.sorted.mkString(", ")}")
  }
}
