package graft

import graft.tools.PrintKeys
import org.scalatest.funsuite.AnyFunSuite

/** The blank-oracle marker must actually fire — round-8 advice flagged
  * the previous set-difference marker as dead logic (queries/oracleSql
  * share key sets by construction, so only a BLANK SQL string can
  * differ).
  */
class PrintKeysSpec extends AnyFunSuite {

  test("a deliberately blanked oracle entry is marked, a real one is not") {
    val qs = Seq("a_query", "b_query", "c_query")
    val oracle = Map(
      "a_query" -> "SELECT 1",
      "b_query" -> "   ",       // blanked — the weaker rows-only check
      "c_query" -> "SELECT 2")
    assert(PrintKeys.marked(qs, oracle) === Seq("a_query", "b_query*", "c_query"))
  }

  test("a key missing from the oracle map entirely is marked too") {
    assert(PrintKeys.marked(Seq("x"), Map.empty) === Seq("x*"))
  }

  test("Verify's name filter trims names and rejects unknown or empty ones") {
    val keys = Set("a_query", "b_query", "c_query")
    assert(Verify.select(keys, None) === keys)
    assert(Verify.select(keys, Some(" a_query, c_query ,")) === Set("a_query", "c_query"))
    val typo = intercept[IllegalArgumentException](Verify.select(keys, Some("a_query,a_qeury")))
    assert(typo.getMessage.contains("a_qeury"))
    intercept[IllegalArgumentException](Verify.select(keys, Some(" , ")))
  }

  test("the REAL registry has no blank oracles (every query is gated)") {
    assert(PrintKeys.marked(SparkEntry.queries.keys, SparkEntry.oracleSql)
      .forall(!_.endsWith("*")))
  }
}
