package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's last-line record — pure logic, no Spark session. */
class BenchSpec extends AnyFunSuite {

  test("compactRecord: fits the driver's 2000-char tail capture and parses") {
    val line = Bench.compactRecord(total = 186.5554, nRuns = 3,
      runTotals = Seq(190.1234, 186.5554, 185.0001),
      errors = Seq("q99_failed"), sfDir = "/root/testdata/sf0.1",
      queriesFile = "/root/repo/BENCH_FULL.json", nQueries = 160)
    // the 2000-char window must hold this line PLUS sbt's trailing
    // "[success] Total time ..." line (~90 chars) with ample slack
    assert(line.length < 1000, s"compact record too long: ${line.length}")
    assert(!line.contains("\n"))
    // shape: the suite-level fields the driver needs, values ms-rounded
    assert(line.startsWith("""{"metric":"total","value":186.555,"""))
    assert(line.contains(""""runs":3"""))
    assert(line.contains(""""run_totals":[190.123,186.555,185.0]"""))
    assert(line.contains(""""errors":["q99_failed"]"""))
    assert(line.contains(""""n_queries":160"""))
    assert(line.contains(""""sf":"/root/testdata/sf0.1""""))
    // no per-query map — that is exactly what overflowed the tail
    assert(!line.contains(""""queries":{"""))
    assert(line.endsWith("}"))
    // paths and error messages are escaped: a quote or backslash in
    // either still leaves a record a JSON parser reads back verbatim
    val sfDir = "C:\\data\\sf \"0.1\""
    val err = "q07 failed: \"bad\" path \\tmp"
    val escaped = Bench.compactRecord(total = 1.0, nRuns = 1,
      runTotals = Seq(1.0), errors = Seq(err), sfDir = sfDir,
      queriesFile = "out\\BENCH \"full\".json", nQueries = 1)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(escaped)
    assert(node.get("sf").asText() == sfDir)
    assert(node.get("errors").get(0).asText() == err)
    assert(node.get("queries_file").asText() == "out\\BENCH \"full\".json")
  }
}
