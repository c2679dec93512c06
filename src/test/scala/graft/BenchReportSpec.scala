package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench→driver contract the r17 verdict found broken since r09:
  * the final printed JSON line must ALWAYS fit inside the driver's
  * 2,000-char tail capture, or PERF_rNN.json's per-query comparison,
  * geomean, and scaling block all come back empty. The line builder is a
  * pure function (BenchReport.finalLine) so the worst case is constructible
  * here without running Spark. */
class BenchReportSpec extends AnyFunSuite {

  // The longest declared key name bounds per-entry width in the maps.
  private val longest = SparkEntry.queries.keys.maxBy(_.length)
  // a 500-char corpus path whose directory name is long and holds quotes
  private val longSf = ("/deep" * 58 + "/" + "sf\"0.1_" * 30).take(500)

  private def worstCaseLine(nKeys: Int): String = {
    val keys = (0 until nKeys).map(i => f"${longest}_$i%03d")
    val slowFirst = keys.map(k => k -> 9999.999)
    BenchReport.finalLine(
      total = 999999.999, nQueries = nKeys, reps = 11, cpuTotal = 999999.999,
      stealPctJson = "455.9", contended = true, countChanged = keys,
      failed = keys, excluded = keys, slowOver60s = keys,
      queriesBySlowest = slowFirst,
      cpuByKey = slowFirst.toMap,
      sf = longSf)
  }

  test("a maximally-populated 206-key line stays under the driver's tail capture") {
    val line = worstCaseLine(206)
    info(s"worst-case line length: ${line.length} chars")
    assert(!line.contains("\n"))
    assert(line.length <= BenchReport.MaxLineChars,
      s"final bench line is ${line.length} chars — the driver captures ~2,000 " +
        s"and r09-r17 all shipped unparseable records; keep it <= ${BenchReport.MaxLineChars}")
  }

  test("the line is valid JSON carrying the driver-contract fields") {
    val line = worstCaseLine(206)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(node.get("metric").asText() == "total")
    assert(node.get("unit").asText() == "sec")
    assert(node.get("value").isNumber)
    assert(longSf.length == 500)
    assert(node.get("sf").asText() == Bench.sfName(longSf).take(BenchReport.SfNameCap))
    assert(node.get("sf").asText().contains("\""))
    assert(node.get("queries").size() == BenchReport.LineTopN)
    assert(node.get("queries_cpu").size() == BenchReport.LineTopN)
    // capped lists carry their true sizes alongside
    assert(node.get("n_failed").asInt() == 206)
    assert(node.get("failed").size() == BenchReport.FailedCap)
    assert(node.get("n_count_changed").asInt() == 206)
    assert(node.get("count_changed").size() == BenchReport.CountChangedCap)
    assert(node.get("n_excluded").asInt() == 206)
    assert(node.get("contended").asBoolean())
  }

  test("a typical healthy full-suite line is comfortably small") {
    val keys = SparkEntry.queries.keys.toSeq.sorted
    val slowFirst = keys.map(k => k -> 3.456).sortBy(-_._2)
    val line = BenchReport.finalLine(
      total = 79.561, nQueries = keys.size, reps = 3, cpuTotal = 117.533,
      stealPctJson = "0.5", contended = false, countChanged = Seq.empty,
      failed = Seq.empty, excluded = Seq.empty,
      slowOver60s = Seq.empty, queriesBySlowest = slowFirst,
      cpuByKey = slowFirst.toMap, sf = "/root/testdata/sf0.1")
    info(s"healthy line length: ${line.length} chars")
    assert(line.length <= 1400, s"healthy line is ${line.length} chars")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(node.get("n_queries").asInt() == keys.size)
    assert(node.get("sf").asText() == "sf0.1")
  }
}
