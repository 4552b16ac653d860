package perfbench

import java.io.File

import org.apache.spark.sql.{Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.operators.PipelineQueries
import graft.pipeline._

/** `replay_window`: drain a staged parquet replay through keyed sliding
  * windows into the two-phase-commit sink, as fast as the engine goes.
  * Every micro-batch updates ~10^5 keys' window state and commits a batch
  * of window results, so state commit, window fire and the sink dominate;
  * there is no socket. */
object ReplayWindow {
  import Main._

  val RangeNs: Long = 120L * 1000000000L
  val SlideNs: Long = 30L * 1000000000L
  /** Must exceed twice the staged disorder (run.py stages 20 s), so that
    * no event falls behind the watermark. */
  val DelayNs: Long = 60L * 1000000000L
  val FilesPerTrigger = 2

  type Ev = (Long, Long, Long) // user_id, cents, ts_ns
  type Out = (String, Long, Long) // key, sum of cents, event count
  private val evEnc: Encoder[Ev] = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
  private val outEnc: Encoder[Out] = Encoders.tuple(Encoders.STRING, Encoders.scalaLong, Encoders.scalaLong)
  val Schema: StructType = StructType(Seq("user_id", "cents", "ts_ns").map(StructField(_, LongType)))

  def pipeline(spark: SparkSession, input: String): Pipeline[Out] = {
    implicit val ss: SparkSession = spark
    implicit val e: Encoder[Ev] = evEnc
    Graft.source("replay", ParquetReplaySource[Ev](input,
        (r: Row) => (r.getLong(0), r.getLong(1), r.getLong(2)), (r: Row) => r.getLong(2),
        maxFilesPerTrigger = FilesPerTrigger, schema = Some(Schema)))
      .keyBy(_._1.toString)
      .to(Graft.rangeWindows(RangeNs).withSlide(SlideNs).withDelay(DelayNs)
        .over(PipelineQueries.WindowCents))(outEnc)
  }

  def run(args: Args, work: File, res: Result): Unit = {
    val input = new File(work, "replay").getPath
    val progress = new Progress
    val (spark, total) = setUp(args, work, res) { (spark, _) =>
      spark.streams.addListener(progress)
      spark.read.schema(Schema).parquet(input).count()
    }(_ => ())
    val trials = new File(work, "trials")
    var trialNo = 0
    var buildMs = 0.0

    /** One drain of `source` (default: the whole replay); returns
      * (seconds, query id, sink dir). */
    def trial(probe: Option[Probe], source: String = input): (Double, String, String) = {
      val dir = new File(trials, s"t$trialNo"); trialNo += 1
      val out = new File(dir, "out").getPath
      val twoPc = TwoPhaseCommitSink[Out](out)
      // The traced run wraps the 2PC write exactly as its writeStream
      // does, with a span around each call.
      val sink: SinkConfig[Out] = probe.fold[SinkConfig[Out]](twoPc) { p =>
        ForeachBatchSink[Out] { (ds: Dataset[(Out, Long)], id: Long) =>
          val g = Probe.batchGroup(ds.sparkSession.sparkContext.getLocalProperty(Probe.QueryIdKey), id)
          p.span(s"2pc write $id", "sink", g)(twoPc.writeMicroBatch(ds, id))
        }
      }
      val t0 = System.nanoTime()
      val t0Ms = Clock.nowMs
      val built = pipeline(spark, source)
      if (probe.isDefined) buildMs += (System.nanoTime() - t0) / 1e6
      val handle = built.toSink(sink, Some(new File(dir, "ckpt").getPath), Trigger.AvailableNow())
      handle.awaitTermination()
      val secs = (System.nanoTime() - t0) / 1e9
      probe.foreach(_.record(s"trial ${trialNo - 1}", "pass", s"trial-${trialNo - 1}", t0Ms, Clock.nowMs))
      (secs, handle.query.get.id.toString, out)
    }

    // warm-up on the first half of the files: JIT, codegen and the state
    // store's first use, without paying for a whole cold drain
    val warm = new File(work, "replay-warmup")
    warm.mkdirs()
    new File(input).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName).take(6)
      .foreach(f => java.nio.file.Files.copy(f.toPath, new File(warm, f.getName).toPath))
    trial(None, warm.getPath)

    def measure(probe: Option[Probe]): (Seq[(Double, String, String)], Map[String, Double]) = {
      val runs = scala.collection.mutable.ArrayBuffer.empty[(Double, String, String)]
      val t0 = System.nanoTime()
      while (runs.isEmpty || (System.nanoTime() - t0) / 1e9 < args.int("seconds")) {
        runs += trial(probe)
        // keep only the latest output; earlier trials' files are garbage
        if (runs.length > 1) deleteRecursively(new File(runs(runs.length - 2)._3).getParentFile)
      }
      // each trial's first batch also starts its query (planning, state
      // store creation); latency covers the steady batches after it. A
      // trial has few of them, so percentiles are taken per trial and
      // their median over trials is reported (with five steady batches,
      // a trial's p99 is its longest batch).
      val ids = runs.map(_._2).toSet
      val batches = progress.withData.filter(p => ids(p.id.toString))
      val perTrial = runs.map(r => batches.filter(_.id.toString == r._2).sortBy(_.batchId)
        .map(_.durationMs.get("triggerExecution").toDouble)).toSeq
      val steady = perTrial.map(_.drop(1).sorted).filter(_.nonEmpty)
      val m = Map(
        "setup_s" -> median(res.setupS.toSeq),
        "latency_p50_ms" -> median(steady.map(percentile(_, 0.50))),
        "latency_p99_ms" -> median(steady.map(percentile(_, 0.99))),
        "throughput_eps" -> median(runs.map(r => total / r._1).toSeq))
      res.info("trials") = runs.length
      res.info("trial_series_s") = runs.map(_._1).toSeq
      res.info("batch_series_ms") = perTrial
      (runs.toSeq, m)
    }

    val (runs, e2e) = if (!args.traced) measure(None) else {
      res.untraced ++= measure(None)._2
      val probe = new Probe(spark)
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(probe)
      val traced = measure(Some(probe))
      spark.sparkContext.removeSparkListener(probe)
      spark.listenerManager.unregister(probe)
      val ids = traced._1.map(_._2).toSet
      val ps = progress.withData.filter(p => ids(p.id.toString))
      probe.recordBatches(ps)
      probeLayers(probe, res, args.int("cores"))
      val backlog = ps.groupBy(_.id).values.flatMap { q =>
        q.sortBy(_.batchId).scanLeft(0.0)(_ + _.numInputRows).init.map(total - _)
      }.toSeq
      streamLayers(ps, res, backlog)
      val (spans, self) = writeTrace(probe, "replay_window", args, res)
      res.layers("sink.write_ms") = spans.filter(_.layer == "sink").map(s => s.endMs - s.startMs).sum
      res.layers("sink.commit_ms") = self.getOrElse("sink", 0.0)
      res.layers("operators.build_ms") = buildMs
      traced
    }
    res.metrics ++= e2e

    // Correctness, outside the timed window, on the last trial's output.
    val lastId = runs.last._2
    val dropped = progress.all.filter(_.id.toString == lastId)
      .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    res.layers("sink.output_rows") = check(spark, input, runs.last._3, dropped, res).toDouble
    res.info("staged_events") = total
    spark.stop()
  }

  /** The committed windows must equal a Spark SQL groupBy over the staged
    * rows of each window's [end - range, end] interval, each key's windows
    * must form one gap-free slide grid that starts at its first event, and
    * no event may be dropped as late. Returns the committed row count. */
  def check(spark: SparkSession, input: String, out: String, dropped: Long, res: Result): Long = {
    val got = TwoPhaseCommitSink.readCommitted(spark, out).select(
      col("_1._1").cast("long").as("user_id"), col("_2").as("end_ns"),
      col("_1._2").as("sum_cents"), col("_1._3").as("n")).cache()
    val ev = spark.read.schema(Schema).parquet(input)
    val values = got.as("o").join(ev.as("e"), col("e.user_id") === col("o.user_id") &&
        col("e.ts_ns") > col("o.end_ns") - lit(RangeNs) && col("e.ts_ns") <= col("o.end_ns"), "left")
      .groupBy(col("o.user_id"), col("o.end_ns"), col("o.sum_cents"), col("o.n"))
      .agg(coalesce(sum(col("e.cents")), lit(0L)).as("want_sum"), count(col("e.cents")).as("want_n"))
      .filter(col("want_sum") =!= col("sum_cents") || col("want_n") =!= col("n"))
      .count()
    val firstEv = ev.groupBy("user_id").agg(min("ts_ns").as("first_ns"))
    val grid = got.groupBy("user_id").agg(count(lit(1)).as("w"), countDistinct("end_ns").as("d"),
        min("end_ns").as("lo"), max("end_ns").as("hi"))
      .join(firstEv, Seq("user_id"), "full_outer")
      .filter(col("w").isNull || col("w") =!= col("d") ||
        col("hi") - col("lo") =!= (col("w") - 1) * lit(SlideNs) ||
        col("first_ns") <= col("lo") - lit(RangeNs) || col("first_ns") > col("lo"))
      .count()
    val rows = got.count()
    val keys = firstEv.count()
    res.attempted += rows + keys + 1
    res.failed += values + grid + (if (dropped == 0) 0 else 1)
    if (values > 0) res.errors += s"$values committed windows differ from the groupBy over staged rows"
    if (grid > 0) res.errors += s"$grid keys have a missing, duplicated or misplaced window"
    if (dropped > 0) res.errors += s"$dropped events dropped as late"
    got.unpersist()
    rows
  }
}
