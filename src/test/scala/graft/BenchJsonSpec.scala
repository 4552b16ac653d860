package graft

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The bench's hand-built JSON: every string goes through [[Json.str]],
  * and the one-line stdout contract stays parseable and inside its
  * byte budget. Parsed back with Jackson, an independent reader. */
class BenchJsonSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  test("Json.str escapes quotes, backslashes and control characters") {
    assert(Json.str("a\"b\\c\nd\te\u0001") === "\"a\\\"b\\\\c\\nd\\te\\u0001\"")
    val s = "x\"y\\z\r\n"
    assert(mapper.readTree(Json.str(s)).asText() === s)
  }

  test("a quote, a backslash and a newline in sf and a failed name survive the compact line") {
    val sf = "/data/sf\"0.1\\x\ny"
    val bad = "q_\"odd\\name\n"
    val line = Bench.compactBenchJson(1.5, 1.0, 0.5,
      Seq("q1_agg" -> 1.0, bad -> 0.5), Seq("stream_stateless" -> 1234567.0),
      Seq(bad), sf, 4, subsetJson = "false")
    assert(!line.contains("\n"))
    val tree = mapper.readTree(line)
    assert(tree.get("sf").asText() === sf)
    assert(tree.get("failed").get(0).asText() === bad)
    assert(tree.get("queries").get(bad).asDouble() === 0.5)
    assert(tree.get("stream_rows_per_sec").get("stream_stateless").asLong() === 1234567L)
  }

  test("the compact line over every registered row stays within 3,500 bytes") {
    assert(StreamBench.RowNames.size === 17)
    assert(StreamBench.RowNames.distinct === StreamBench.RowNames)
    val rows = SparkEntry.queries.keys.toSeq.sorted ++ StreamBench.RowNames
    // worst case: every row at 999.999 s, every stream row at 7-digit rows/s
    val worst = 999.999
    val line = Bench.compactBenchJson(
      total = worst * SparkEntry.queries.size,
      totalCpuBound = worst * SparkEntry.queries.size,
      totalWallBound = worst * Bench.WallBound.size,
      queries = rows.map(_ -> worst),
      streamRps = StreamBench.RowNames.map(_ -> 9999999.0),
      failed = Nil, sf = "/data/testdata/sf0.1", cpus = 128, subsetJson = "false")
    val bytes = line.getBytes(UTF_8).length
    assert(bytes <= 3500, s"compact stdout line is $bytes bytes")
    val tree = mapper.readTree(line)
    assert(tree.fieldNames().asScala.toSeq === Seq("metric", "value", "unit",
      "total_cpu_bound", "total_wall_bound", "cpus", "queries",
      "stream_rows_per_sec", "failed", "sf"))
    assert(tree.get("queries").size() === rows.size)
    assert(tree.get("stream_rows_per_sec").size() === 17)
  }

  test("the standalone wire reading meets the bar exactly when its median rows/s is >= 900000") {
    def reading(rps: Double) = StreamBench.RowOut("stream_market_spread_wire",
      4.2, Seq(4.0, 4.2, 4.4), rps, Seq(rps - 1.0, rps, rps + 1.0), (120L, 300L),
      "fmgws+hdfs", "[]")
    def parsed(rps: Double) = mapper.readTree(Bench.wireStandaloneReading(reading(rps)))
    assert(parsed(900000.0).get("meets_900k_bar").asBoolean())
    assert(!parsed(899999.0).get("meets_900k_bar").asBoolean())
    val p = parsed(1033050.0)
    assert(p.get("rows_per_sec").asLong() === 1033050L)
    assert(p.get("rows_per_sec_best").asLong() === 1033051L)
    assert(p.get("trials_sec").size() === 3)
  }

  test("row seconds keep four significant digits and at most three decimals") {
    assert(Bench.rowSecs(0.5116) === "0.512")
    assert(Bench.rowSecs(3.2299) === "3.230")
    assert(Bench.rowSecs(12.3456) === "12.35")
    assert(Bench.rowSecs(123.456) === "123.5")
    assert(Bench.rowSecs(1234.5678) === "1235")
  }
}
