package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Pins the compact stdout rendering of a bench run (r15 measurement-bug
  * fix): the round driver keeps only the last ~2000 characters of stdout
  * and parses the JSON line out of that tail, and the full-precision line
  * (pass_times, spins, loadavg) has exceeded it since round 10 — every
  * BENCH_r10..r14.json carries `"parsed": null`. The compact line must
  *
  *   - be valid JSON carrying the contract fields
  *     (metric/value/unit/queries/sf) plus errors/skipped/probe_quiet,
  *   - keep every bench query as a key (never drop or rename),
  *   - fit the tail with the sbt epilogue: <= 1900 bytes for the LIVE
  *     bench set — this is the assertion that fails if someone adds
  *     enough queries (or long enough names) to break parseability again.
  */
class BenchCompactSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  private def liveLine(errors: Map[String, String] = Map.empty): String = {
    // worst realistic widths: every query at a >=10 s reading (6 chars)
    val results = SparkEntry.benchNames.map(n => n -> 88.888)
    Bench.compactLine(88.888 * results.size, 2, results, errors,
      "[]", probeQuiet = true, "/root/testdata/sf0.1")
  }

  test("compact line is valid JSON with the contract fields and all bench queries") {
    val line = liveLine()
    val node = mapper.readTree(line)
    assert(node.get("metric").asText() == "total")
    assert(node.get("unit").asText() == "sec")
    assert(node.get("value").isNumber)
    assert(node.get("sf").asText() == "/root/testdata/sf0.1")
    assert(node.get("probe_quiet").isBoolean)
    assert(node.get("measure").asText() == "noop")
    val qs = node.get("queries")
    SparkEntry.benchNames.foreach(n => assert(qs.has(n), s"missing query key $n"))
    assert(qs.size() == SparkEntry.benchNames.size)
  }

  test("compact line for the live bench set fits the driver's 2000-char tail") {
    val line = liveLine()
    // 2000-char tail minus sbt's "[success] Total time: ..." epilogue
    // (~78 chars) and trailing newlines
    assert(line.length <= 1900,
      s"compact bench line is ${line.length} bytes — it will truncate in the " +
        "driver's 2000-char stdout tail and parse as null again; shrink the " +
        "rendering or the bench-set names")
  }

  test("error messages are truncated so one failure cannot blow the budget") {
    val line = liveLine(Map("q01_groupby_sum" -> ("x" * 500)))
    assert(line.length <= 2000)
    val node = mapper.readTree(line)
    assert(node.get("errors").get("q01_groupby_sum").asText().length <= 80)
  }

  test("times render locale-independently at millisecond precision") {
    val line = Bench.compactLine(1.23456, 2, Seq("q" -> 1.23456),
      Map.empty[String, String], "[]", probeQuiet = false, "/d")
    assert(line.contains("\"q\":1.235"))
    assert(line.contains("\"value\":1.235"))
  }
}
