package graft

import org.scalatest.funsuite.AnyFunSuite

/** Verify's `oracle_sql.json` — pure logic, no Spark session. */
class VerifySpec extends AnyFunSuite {

  test("oracleJson: SQL with a tab, CR, quote and backslash reads back verbatim") {
    val sql = Map(
      "q1" -> "SELECT\t'a\\b' AS \"x\"\r\nFROM t",
      "q\"2\\" -> "SELECT 1 -- \u0001 control")
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Verify.oracleJson(sql))
    assert(node.size() == sql.size)
    sql.foreach { case (k, v) => assert(node.get(k).asText() == v) }
  }
}
