package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver contract's registry: every query has its DuckDB twin, and
  * no module's key shadows another's (a collision under `++` would
  * silently drop a query).
  */
class RegistrySpec extends AnyFunSuite {

  test("every registered query has an oracle twin and every oracle a query") {
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
  }

  test("no query or oracle key collides across modules") {
    assert(SparkEntry.queries.size === SparkEntry.modules.map(_._1.size).sum)
    assert(SparkEntry.oracleSql.size === SparkEntry.modules.map(_._2.size).sum)
  }
}
