package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.gates.Gate

class GateMapsSpec extends AnyFunSuite {
  test("a gate map refuses a key defined twice") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.uniqueKeys("q_a" -> 1, "q_b" -> 2, "q_a" -> 3))
    assert(e.getMessage.contains("q_a") && !e.getMessage.contains("q_b"))
    assert(SparkEntry.uniqueKeys("q_a" -> 1, "q_b" -> 2) == Map("q_a" -> 1, "q_b" -> 2))
  }

  test("the flagship entry query returns rows") {
    assert(SparkEntry.entry(SparkTestSession.spark).count() > 0)
  }

  test("the gate table is built once per JVM") {
    assert(SparkEntry.queries eq SparkEntry.queries)
    assert(SparkEntry.oracleSql eq SparkEntry.oracleSql)
  }

  test("a gate declared in two families throws, naming it") {
    def gate(name: String) = Gate(name, (_, _) => null, "SELECT 1")
    val e = intercept[IllegalArgumentException](
      SparkEntry.table(Seq(gate("q_a"), gate("q_b")), Seq(gate("q_a"))))
    assert(e.getMessage.contains("q_a") && !e.getMessage.contains("q_b"))
  }

  test("Verify and ExplainAudit refuse a subset naming no gate, before any session") {
    val out = Files.createTempDirectory("verify-spec").resolve("dump")
    val e = intercept[IllegalArgumentException](
      Verify.main(Array(SparkTestSession.sf0001, out.toString, "q_mode_int,q_mode_itn")))
    assert(e.getMessage.contains("q_mode_itn") && !e.getMessage.contains("q_mode_int"))
    // Verify creates its output directory right after its session
    assert(!Files.exists(out))
    val e2 = intercept[IllegalArgumentException](
      graft.tools.ExplainAudit.main(Array(SparkTestSession.sf0001, "q_mode_itn")))
    assert(e2.getMessage.contains("q_mode_itn"))
  }
}
