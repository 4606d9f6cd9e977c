package graft

import org.scalatest.funsuite.AnyFunSuite

/** The heavy-set medians line must stay inside a bounded log tail. */
class BenchHeavyMediansSpec extends AnyFunSuite {

  test("heavy_medians: a 40-name heavy set fits in 1536 bytes and parses as JSON") {
    // names of a typical published heavy query's length
    val medians = (1 to 40).map(i =>
      f"q${100 + i}%d_trace_incremental" -> (i * 1.23456789))
    val line = Bench.heavyMediansLine(medians)
    assert(line.getBytes("UTF-8").length <= Bench.HeavyLineBytes, line)
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(json.get("metric").asText == "heavy_medians")
    val printed = json.get("medians")
    assert(printed.size == 40 && json.get("omitted").asInt == 0)
    assert(printed.get("q140_trace_incremental").asDouble == 49.383) // 3 decimals
  }

  test("heavy_medians: past the byte budget entries are counted, not printed") {
    val medians = (1 to 200).map(i => f"q$i%03d_${"x" * 40}" -> i.toDouble)
    val line = Bench.heavyMediansLine(medians)
    assert(line.getBytes("UTF-8").length <= Bench.HeavyLineBytes)
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(json.get("omitted").asInt > 0)
    assert(json.get("medians").size + json.get("omitted").asInt == 200)
    assert(json.get("medians").has(f"q200_${"x" * 40}"))
  }
}
