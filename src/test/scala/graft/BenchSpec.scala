package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("last line: 282 failed entries with the longest names fit 1,500 bytes as one JSON object") {
    val longest = SparkEntry.queries.keys.toSeq.sortBy(n => (-n.length, n))
    val pass = (0 until 282).map { i =>
      Bench.Timing(longest(i % longest.size), 9999.999 - i, 9999.999, ok = false)
    }
    val calib = Seq("st", "mt", "end_st", "end_mt", "mem_st", "mem_mt",
      "mem_end_st", "mem_end_mt").map(_ -> 123.456789)
    val line = Bench.lastLine(pass, pass, calib,
      compilesP1 = 123456, compilesP2 = 123456, indexBuilt = 99, indexReused = 99)
    val bytes = line.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    assert(bytes <= 1500, s"$bytes bytes: $line")
    assert(!line.contains('\n'))
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .enable(com.fasterxml.jackson.databind.DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
      .readTree(line)
    assert(json.get("metric").asText == "total")
    assert(json.get("n_errors").asInt == 282 && json.get("n_errors_2nd").asInt == 282)
    assert(json.get("first_errors").size == 10)
    assert(json.get("top_wall").size == 10 && json.get("top_wall_2nd").size == 10)
    assert(json.get("calib_sec").size == 8)
  }
}
