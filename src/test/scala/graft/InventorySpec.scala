package graft

import org.scalatest.funsuite.AnyFunSuite

/** The declared-inventory contract, pinned: each suite declares every
  * query once, as a `QueryDef` that carries its builder and its DuckDB
  * oracle together, so no query can lack an oracle. A name declared
  * twice fails `SparkEntry`'s initialisation instead of one declaration
  * silently shadowing the other. The total equals the ledgered count
  * asserted below (the single source of truth — SURVEY §2.2.1 and README
  * mirror it). A count drift without a matching ledger update fails the
  * suite on purpose.
  */
class InventorySpec extends AnyFunSuite {
  test("387 declared queries") {
    assert(SparkEntry.all.size == 387, s"ledger says 387, found ${SparkEntry.all.size}")
    assert(SparkEntry.queries.size == 387 && SparkEntry.oracleSql.size == 387)
  }

  test("a query name declared twice fails, naming the name") {
    val opMap = SparkEntry.all.find(_.name == "op_map").get
    val e = intercept[IllegalArgumentException](
      SparkEntry.unique(SparkEntry.all :+ opMap.copy(oracle = "SELECT 1")))
    assert(e.getMessage.contains("op_map"), e.getMessage)
  }
}
