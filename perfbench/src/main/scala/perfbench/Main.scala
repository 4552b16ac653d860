package perfbench

import java.io.{BufferedReader, File, InputStreamReader, PrintWriter}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. `run.py` stages the seeded inputs, starts
  * this program with `--key value` arguments, and reads the JSON file it
  * writes to `--out`. One workload per process:
  *
  *  - `wire_spread`   market-spread frames over TCP, fed by run.py
  *  - `replay_window` parquet replay into sliding windows and a 2PC sink
  *  - `selftest`      the harness's own unit checks
  *
  * Untraced (`--trace 0`) runs register no listener beyond Spark's own
  * progress reports. Traced runs measure the same section twice, first
  * untraced and then with a [[Probe]] attached, and report both. */
object Main {
  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
    def long(k: String): Long = apply(k).toLong
    def traced: Boolean = m.get("trace").contains("1")
  }

  /** What a workload reports back to run.py. */
  final class Result {
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val untraced = mutable.LinkedHashMap.empty[String, Double]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val info = mutable.LinkedHashMap.empty[String, Any]
    val setupS = mutable.ArrayBuffer.empty[Double]
    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]
  }

  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val args = Args(argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    if (args("workload") == "selftest") { SelfTest.run(); return }
    val res = new Result
    val work = new File(args("work")).getAbsoluteFile
    args("workload") match {
      case "wire_spread"   => WireSpread.run(args, work, res)
      case "replay_window" => ReplayWindow.run(args, work, res)
      case other           => throw new IllegalArgumentException(s"unknown workload $other")
    }
    res.metrics("peak_rss_mb") = peakRssMb()
    val out = new PrintWriter(args("out"), "UTF-8")
    try out.print(Json.value(Map(
      "metrics" -> res.metrics, "untraced" -> res.untraced, "layers" -> res.layers,
      "setup_s" -> res.setupS, "info" -> res.info, "attempted" -> res.attempted,
      "failed" -> res.failed, "errors" -> res.errors)))
    finally out.close()
  }

  /** A local session whose every file (checkpoints, shuffle, warehouse)
    * stays under the benchmark's work directory. */
  def session(args: Args, work: File): SparkSession = {
    val cores = args("cores")
    val b = SparkSession.builder().appName("perfbench").master(s"local[$cores]")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.streaming.checkpointLocation", new File(work, "checkpoints").getPath)
    val spark = graft.Sessions.tune(b, cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Set up `SetupReps` times and keep the last: each repetition starts a
    * session and runs the workload's staging; all but the last are torn
    * down again. Returns the last repetition's session and staging. */
  def setUp[S](args: Args, work: File, res: Result)(stage: (SparkSession, Int) => S)(
      teardown: S => Unit): (SparkSession, S) = {
    var last: (SparkSession, S) = null
    for (rep <- 0 until SetupReps) {
      val t0 = System.nanoTime()
      val spark = session(args, work)
      val staged = stage(spark, rep)
      res.setupS += (System.nanoTime() - t0) / 1e9
      if (rep < SetupReps - 1) { teardown(staged); spark.stop() }
      else last = (spark, staged)
    }
    last
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  def percentile(sorted: Seq[Double], p: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else sorted(math.min(sorted.length - 1, math.max(0, math.ceil(p * sorted.length).toInt - 1)))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.length)

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Listener-based layer metrics of a traced section. Stream workloads
    * add the progress-based ones with [[streamLayers]]; run.py reports a
    * layer a workload bypasses as 0. */
  def probeLayers(p: Probe, res: Result, cores: Int): Unit = {
    def c(k: String) = p.count(k)
    val l = res.layers
    l("plan.analysis_ms") = c("plan.analysis_ms")
    l("plan.optimization_ms") = c("plan.optimization_ms")
    l("plan.planning_ms") = c("plan.planning_ms")
    l("plan.codegen_ms") = p.codegenMs
    l("plan.exchanges") = c("plan.exchanges")
    l("sched.jobs") = c("sched.jobs")
    l("sched.stages") = c("sched.stages")
    l("sched.tasks") = c("sched.tasks")
    l("sched.delay_ms") = c("sched.delay_ms")
    l("exec.cpu_s") = c("exec.cpu_ns") / 1e9
    l("exec.run_s") = c("exec.run_ms") / 1e3
    l("exec.gc_ms") = c("exec.gc_ms")
    l("exec.deserialize_ms") = c("exec.deserialize_ms")
    l("exec.busy_share") = c("exec.run_ms") / (p.elapsedMs * cores)
    l("scan.bytes") = c("scan.bytes")
    l("scan.records") = c("scan.records")
    l("shuffle.write_bytes") = c("shuffle.write_bytes")
    l("shuffle.read_bytes") = c("shuffle.read_bytes")
    l("shuffle.fetch_wait_ms") = c("shuffle.fetch_wait_ms")
    l("shuffle.skew") = c("shuffle.skew")
    l("spill.bytes") = c("spill.bytes")
  }

  /** Source, state and micro-batch layer metrics from progress reports. */
  def streamLayers(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      res: Result, backlog: Seq[Double]): Unit = {
    val l = res.layers
    def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
    val trig = dur("triggerExecution").sorted
    val ops = ps.flatMap(_.stateOperators)
    val lastOps = ps.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
    l("source.backlog_events_max") = backlog.maxOption.getOrElse(0.0)
    l("source.latest_offset_ms") = dur("latestOffset").sum
    l("source.input_events") = ps.map(_.numInputRows.toDouble).sum
    l("plan.batch_planning_ms") = dur("queryPlanning").sum
    l("state.rows") = lastOps.map(_.numRowsTotal.toDouble).sum
    l("state.memory_bytes") = lastOps.map(_.memoryUsedBytes.toDouble).sum
    l("state.commit_ms") = ops.map(_.commitTimeMs.toDouble).sum
    l("state.update_ms") = ops.map(_.allUpdatesTimeMs.toDouble).sum
    l("state.removal_ms") = ops.map(_.allRemovalsTimeMs.toDouble).sum
    l("state.dropped_late") = ops.map(_.numRowsDroppedByWatermark.toDouble).sum
    l("batch.count") = ps.length
    l("batch.trigger_ms_p50") = if (trig.isEmpty) 0.0 else median(trig)
    l("batch.trigger_ms_max") = trig.lastOption.getOrElse(0.0)
    l("batch.wal_commit_ms") = dur("walCommit").sum
    l("batch.commit_offsets_ms") = dur("commitOffsets").sum
    l("batch.add_batch_ms") = dur("addBatch").sum
  }

  /** One micro-batch in the run record: id, rows, start, phase times. */
  def batchSummary(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    Map("id" -> p.batchId, "rows" -> p.numInputRows, "start" -> p.timestamp,
      "ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }

  /** Write the traced run's spans and per-layer self time next to the
    * result file. */
  def writeTrace(p: Probe, workload: String, args: Args, res: Result): (Seq[Span], Map[String, Double]) = {
    val (spans, self) = p.finish(workload)
    val out = new PrintWriter(args("out") + ".trace.json", "UTF-8")
    try out.print(s"""{"self_ms":${Json.value(self)},"spans":${Probe.spansJson(spans)}}""")
    finally out.close()
    res.info("self_ms") = self
    res.info("spans") = spans.length
    (spans, self)
  }

  /** Line protocol with run.py on stdin/stdout. */
  object Control {
    private val in = new BufferedReader(new InputStreamReader(System.in, "UTF-8"))
    def say(msg: String): Unit = { System.out.println(msg); System.out.flush() }
    def next(): String = Option(in.readLine()).getOrElse("STOP").trim
  }
}
