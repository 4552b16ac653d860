package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * benchmark spans line up with Spark's own job and stage timestamps. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced interval. `group` ties Spark jobs to the benchmark span that
  * caused them (a micro-batch id); parents are
  * resolved by interval containment within a group when the trace ends. */
final case class Span(id: Long, var parent: Long, name: String, layer: String,
    group: String, startMs: Double, endMs: Double)

/** Collects every micro-batch's progress. Spark reports progress whether
  * or not the benchmark traces, so timed runs use this too. */
final class Progress extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def all: Seq[StreamingQueryProgress] = events.asScala.toSeq
  def withData: Seq[StreamingQueryProgress] = all.filter(_.numInputRows > 0)
  def clear(): Unit = events.clear()
}

/** The traced run's recorder: a SparkListener for jobs, stages and task
  * metrics, a QueryExecutionListener for Catalyst phase times, and the
  * benchmark's own spans around its calls into each layer. Everything is
  * kept in memory and written out once, at the end. */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Probe._

  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Double, String)]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val stageShuffleRead = new java.util.concurrent.ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  val counters = new java.util.concurrent.ConcurrentHashMap[String, Double]()
  private val codegenAtStart = compileNs
  private val startedMs = Clock.nowMs

  def add(key: String, v: Double): Unit = counters.merge(key, v, (a: Double, b: Double) => a + b)
  def count(key: String): Double = counters.getOrDefault(key, 0.0)

  /** Time `body` as a benchmark span; Spark jobs it launches on this
    * thread are tagged with `group` and become its descendants. */
  def span[T](name: String, layer: String, group: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(GroupKey)
    sc.setLocalProperty(GroupKey, group)
    val t0 = Clock.nowMs
    try body
    finally {
      record(name, layer, group, t0, Clock.nowMs)
      sc.setLocalProperty(GroupKey, prev)
    }
  }

  def record(name: String, layer: String, group: String, startMs: Double, endMs: Double): Unit =
    spans.add(Span(nextId.getAndIncrement(), 0L, name, layer, group, startMs, endMs))

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(BatchIdKey))
      .map(b => batchGroup(p.getProperty(QueryIdKey), b.toLong))
      .orElse(Option(p.getProperty(GroupKey)))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    jobStart.put(e.jobId, (e.time.toDouble, g))
    e.stageIds.foreach(s => stageGroup.put(s, g))
    add("sched.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (t0, g) =>
      record(s"job ${e.jobId}", "job", g, t0, e.time.toDouble)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    add("sched.stages", 1)
    for (s <- si.submissionTime; c <- si.completionTime)
      record(s"stage ${si.stageId}", "stage", stageGroup.getOrDefault(si.stageId, ""),
        s.toDouble, c.toDouble)
    Option(stageShuffleRead.remove(si.stageId)).foreach { reads =>
      if (reads.length > 1 && reads.sum > 0) {
        val skew = reads.max.toDouble / (reads.sum.toDouble / reads.length)
        counters.merge("shuffle.skew", skew, (a: Double, b: Double) => math.max(a, b))
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    add("sched.tasks", 1)
    if (m != null) {
      add("exec.cpu_ns", m.executorCpuTime.toDouble)
      add("exec.run_ms", m.executorRunTime.toDouble)
      add("exec.gc_ms", m.jvmGCTime.toDouble)
      add("exec.deserialize_ms", m.executorDeserializeTime.toDouble)
      add("scan.bytes", m.inputMetrics.bytesRead.toDouble)
      add("scan.records", m.inputMetrics.recordsRead.toDouble)
      val read = m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      add("shuffle.read_bytes", read.toDouble)
      add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spill.bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      if (read > 0) stageShuffleRead.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
        .synchronized { stageShuffleRead.get(e.stageId) += read }
      val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime
      add("sched.delay_ms", math.max(0L, delay).toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    add("plan.analysis_ms", ms("analysis"))
    add("plan.optimization_ms", ms("optimization"))
    add("plan.planning_ms", ms("planning"))
    add("plan.exchanges", exchanges(qe.executedPlan).toDouble)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Micro-batch spans and phase spans, from Spark's progress reports.
    * Phases are laid end to end in the order the micro-batch engine runs
    * them; Spark reports their durations, not their start times. */
  def recordBatches(ps: Seq[StreamingQueryProgress]): Unit = ps.foreach { p =>
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
    val g = batchGroup(p.id.toString, p.batchId)
    record(s"batch ${p.batchId}", "microbatch", g, start, start + d.getOrElse("triggerExecution", 0.0))
    var t = start
    for (phase <- Seq("latestOffset", "walCommit", "queryPlanning", "getBatch", "addBatch",
        "commitOffsets"); dur <- d.get(phase)) {
      val layer = phase match {
        case "latestOffset" => "source"
        case "queryPlanning" => "plan"
        case "addBatch" => "exec"
        case _ => "microbatch"
      }
      record(phase, layer, g, t, t + dur)
      t += dur
    }
  }

  def codegenMs: Double = (compileNs - codegenAtStart) / 1e6
  def elapsedMs: Double = Clock.nowMs - startedMs

  /** All spans with parents resolved, and each layer's self time. A
    * span's parent is the shortest span that contains it, ranks above it
    * and shares its group or is a pass or micro-batch span; otherwise the
    * workload root. (Spark stamps jobs and stages in whole milliseconds,
    * hence the 1 ms slack on containment.) */
  def finish(workload: String): (Seq[Span], Map[String, Double]) = {
    val all = spans.asScala.toSeq
    val root = Span(0L, -1L, workload, "workload", "", all.map(_.startMs).minOption.getOrElse(0.0),
      all.map(_.endMs).maxOption.getOrElse(0.0))
    val byGroup = all.groupBy(_.group)
    val rootLevel = all.filter(s => s.layer == "pass" || s.layer == "microbatch" && s.name.startsWith("batch"))
    all.foreach { s =>
      val candidates = byGroup.getOrElse(s.group, Nil) ++ rootLevel
      s.parent = candidates
        .filter(c => c.id != s.id && c.startMs <= s.startMs && s.endMs <= c.endMs + 1.0 &&
          (c.endMs - c.startMs) >= (s.endMs - s.startMs) && rank(c) < rank(s))
        .sortBy(c => c.endMs - c.startMs).headOption.map(_.id).getOrElse(0L)
    }
    val withRoot = root +: all
    val children = withRoot.groupBy(_.parent)
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    withRoot.foreach { s =>
      val covered = union(children.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))))
      self(s.layer) += math.max(0.0, (s.endMs - s.startMs) - covered)
    }
    (withRoot, self.toMap)
  }
}

object Probe {
  val GroupKey = "perfbench.group"
  val BatchIdKey = "streaming.sql.batchId"
  val QueryIdKey = "sql.streaming.queryId"

  def batchGroup(queryId: String, batchId: Long): String = s"$queryId-batch-$batchId"

  /** Nesting order: workload > trial > micro-batch > batch phase > sink
    * write > job > stage. */
  private def rank(s: Span): Int = s.layer match {
    case "workload" => 0
    case "pass" => 1
    case "microbatch" if s.name.startsWith("batch") => 2
    case "sink" => 4
    case "job" => 5
    case "stage" => 6
    case _ => 3
  }

  private def compileNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  /** Total length of the union of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Exchanges in a physical plan, looking through adaptive wrappers. */
  def exchanges(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case p => (p.children ++ p.subqueries).map(exchanges).sum
  }

  def spansJson(spans: Seq[Span]): String =
    spans.sortBy(_.startMs).map(s => Json.value(Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs))).mkString("[\n", ",\n", "\n]")
}
