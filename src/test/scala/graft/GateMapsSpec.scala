package graft

import org.scalatest.funsuite.AnyFunSuite

class GateMapsSpec extends AnyFunSuite {
  test("a gate map refuses a key defined twice") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.uniqueKeys("q_a" -> 1, "q_b" -> 2, "q_a" -> 3))
    assert(e.getMessage.contains("q_a") && !e.getMessage.contains("q_b"))
    assert(SparkEntry.uniqueKeys("q_a" -> 1, "q_b" -> 2) == Map("q_a" -> 1, "q_b" -> 2))
  }

  test("queries and oracleSql build, and every gate has its oracle") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }
}
