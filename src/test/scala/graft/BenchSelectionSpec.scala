package graft

import org.scalatest.funsuite.AnyFunSuite

/** The mechanized committed-run selection (VERDICT r13 #1): one rule —
  * among non-failed full runs whose recorded `cpus` equals the host's
  * default, the lowest batch+stream total wins, ties to the earliest
  * run — as pure, pinned functions. A change here changes WHICH run gets
  * committed every round, so every clause has a vector. */
class BenchSelectionSpec extends AnyFunSuite {
  import Bench.{RunCand, jsonField, parseCand, runsMarkdown, selectCommitted}

  /** A run record shaped as Bench logs it to bench_runs.jsonl. */
  private def record(seq: Int, cpus: Option[Int], total: Double,
      failedRows: Int = 0): String =
    s"""{"seq":$seq,"ts":"2026-08-18T06:12:34Z",""" +
      cpus.fold("")(c => s""""cpus":$c,""") +
      s""""total_raw_sec":$total,"batch_total_sec":${total / 2},""" +
      s""""stream_total_sec":${total / 2},"failed_rows":$failedRows,""" +
      s""""repeats":3,"wire_rps":1020996,"wire_standalone_rps":1033050,""" +
      s""""wire_bar_pass":true,"out":"bench_out.json.run$seq"}"""

  /** r18's four closing runs (bench_runs.md), totals as logged. Runs 1-3
    * ran at the host default of 32 cores; run 4 was an 8-core
    * run, which r18's grade-and-calibration rule committed. */
  private val r18 = Seq(
    record(1, Some(32), 201.362107),
    record(2, Some(32), 210.37799030999997),
    record(3, Some(32), 220.859667544),
    record(4, Some(8), 244.236273241))

  private def pick(records: Seq[String], hostCpus: Int = 32): Option[Int] =
    selectCommitted(records.flatMap(parseCand), hostCpus).map(_.seq)

  test("the r18 run records with cpus: run 1 is chosen, the 8-core run 4 never is") {
    assert(pick(r18) === Some(1))
    // run 4 loses on its core count, not on its time: not as the
    // fastest run, and not as the only run
    val fastRun4 = record(4, Some(8), 100.0)
    assert(pick(r18.init :+ fastRun4) === Some(1))
    assert(pick(Seq(fastRun4)) === None)
    // on an 8-core host only run 4 ran at the default
    assert(pick(r18, hostCpus = 8) === Some(4))
  }

  test("a record without cpus is not a candidate") {
    val legacy = record(5, None, 100.0)
    assert(parseCand(legacy).map(_.cpus) === Some(None))
    assert(pick(r18 :+ legacy) === Some(1))
    assert(pick(Seq(legacy)) === None)
  }

  test("a failed run is never preferred over any graded run") {
    val failedFast = record(5, Some(32), 100.0, failedRows = 1)
    assert(pick(r18 :+ failedFast) === Some(1))
    assert(pick(Seq(failedFast)) === None)
  }

  test("ties break to the earliest run (stable as candidates append)") {
    val a = RunCand(1, Some(32), 100.0, failed = false, "a")
    val b = RunCand(2, Some(32), 100.0, failed = false, "b")
    assert(selectCommitted(Seq(b, a), 32).map(_.seq) === Some(1))
  }

  test("empty candidate list selects nothing") {
    assert(selectCommitted(Nil, 32).isEmpty)
  }

  test("the compact stdout line is a parseable '{'-line carrying the contract") {
    val line = Bench.compactBenchJson(
      total = 124.5936, totalCpuBound = 93.2101, totalWallBound = 31.3841,
      queries = Seq("q1_agg" -> 0.5116, "d_cluster" -> 3.2299),
      streamRps = Seq("stream_market_spread_wire" -> 949622.4),
      failed = Seq("x_bad"), sf = "/root/testdata/sf0.1", cpus = 32,
      subsetJson = "false")
    assert(line.startsWith("{") && line.endsWith("}"))
    assert(!line.contains("\n"))
    // the original driver contract fields
    assert(jsonField(line, "metric") === Some("total"))
    assert(jsonField(line, "value") === Some("124.594"))
    assert(jsonField(line, "unit") === Some("sec"))
    assert(jsonField(line, "sf") === Some("/root/testdata/sf0.1"))
    assert(jsonField(line, "cpus") === Some("32"))
    // per-query seconds at 3 decimals; stream rows/s as integers
    assert(line.contains(""""q1_agg":0.512"""))
    assert(line.contains(""""d_cluster":3.230"""))
    assert(line.contains(""""stream_market_spread_wire":949622"""))
    assert(line.contains(""""failed":["x_bad"]"""))
    assert(jsonField(line, "total_cpu_bound") === Some("93.210"))
    assert(jsonField(line, "total_wall_bound") === Some("31.384"))
    // no full-artifact blobs on stdout
    assert(!line.contains("queries_detail") && !line.contains("stream_state"))
    // a subset run marks itself
    val sub = Bench.compactBenchJson(1.0, 1.0, 0.0, Seq("q1_agg" -> 1.0),
      Nil, Nil, "sf", 8, subsetJson = "[\"q1_agg\"]")
    assert(sub.contains(""""subset":["q1_agg"]"""))
  }

  test("candidate records round-trip through the flat-field parser") {
    assert(parseCand(r18.head) === Some(RunCand(1, Some(32), 201.362107,
      failed = false, "bench_out.json.run1")))
    // a record as r18 logged it (no cpus field) still parses
    val logged =
      """{"seq":4,"ts":"2026-08-18T11:37:04.631278205Z","grade":"storm",""" +
        """"metric_version":3,"total_raw_sec":244.236273241,""" +
        """"batch_total_sec":120.675173563,"stream_total_sec":123.561099678,""" +
        """"wall_outliers":0,"failed_rows":0,"repeats":3,"wire_rps":703893,""" +
        """"wire_standalone_rps":580304,"wire_bar_pass":false,""" +
        """"out":"bench_out.json.run4"}"""
    assert(parseCand(logged) === Some(RunCand(4, None, 244.236273241,
      failed = false, "bench_out.json.run4")))
    // field extraction is exact-key (quoted), not substring: "out" must
    // not match inside "wall_outliers"
    assert(jsonField(logged, "out") === Some("bench_out.json.run4"))
    assert(jsonField(logged, "wire_standalone_rps") === Some("580304"))
    assert(jsonField(logged, "no_such_key").isEmpty)
    assert(parseCand("{\"not\":\"a candidate\"}").isEmpty)
  }

  test("the generated run table marks the chosen run and carries every candidate") {
    val md = runsMarkdown(r18, Some(1), hostCpus = 32)
    assert(md.contains("| **1 (committed)** | 32 | 201.4 |"))
    assert(md.contains("| 4 | 8 | 244.2 |"))
    assert(md.contains(Bench.SelectionRule))
    assert(md.linesIterator.count(_.startsWith("|")) === 6) // header+sep+4 rows
    assert(!runsMarkdown(r18, None, hostCpus = 32).contains("(committed)"))
  }
}
