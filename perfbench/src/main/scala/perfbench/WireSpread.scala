package perfbench

import java.io.File
import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.{Encoder, Encoders, SparkSession}

import graft.operators.PipelineQueries
import graft.pipeline._

/** `wire_spread`: market-spread frames arrive over two framed TCP
  * connections (quotes, orders) from run.py's generator, are merged,
  * keyed by user and checked by `PipelineQueries.MarketCheck`; every
  * order's verdict goes back to the generator through `TcpSink`.
  *
  * This JVM is passive during measurement: run.py schedules the frames
  * and sends `MARK <name>` lines at phase boundaries, `TRACE` before the
  * traced repeat and `STOP` at the end. Latency and drain rate are
  * measured by the generator; this side reports the micro-batches. */
object WireSpread {
  import Main._

  type In = (Long, Long, Long, Long, Long) // kind, created ns, user, cents, event ns
  type Out = (Long, Long, Long, Long, Boolean) // created ns, user, cents, quote, rejected
  private val inEnc: Encoder[In] = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
    Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
  private val outEnc: Encoder[Out] = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
    Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaBoolean)

  /** Frames per leg per micro-batch; bounds a backlog batch's size. */
  val FramesPerTrigger = 65536L

  /** 24-byte big-endian (user, cents, created ns) frames; orders ride
    * 1 ns behind a quote with the same stamp. */
  final case class Decoder(kind: Long) extends FramedDecoder[In] {
    def decode(payload: Array[Byte]): In = decodeAt(payload, 0)
    override def decodeSliceOpt(bytes: Array[Byte], off: Int, len: Int): Option[In] =
      Some(decodeAt(bytes, off))
    private def decodeAt(b: Array[Byte], off: Int): In = {
      val bb = ByteBuffer.wrap(b, off, 24)
      val user = bb.getLong
      val cents = bb.getLong
      val ts = bb.getLong
      (kind, ts, user, cents, ts + kind)
    }
    def eventTimeNs(t: In): Long = t._5
  }

  /** 33-byte result frame: created ns, user, cents, quote, rejected. */
  def encode(o: Out): Array[Byte] = ByteBuffer.allocate(33)
    .putLong(o._1).putLong(o._2).putLong(o._3).putLong(o._4).put(if (o._5) 1.toByte else 0.toByte)
    .array()

  /** Builds the pipeline and starts it; returns the handle and the
    * milliseconds spent building (before the query starts). */
  def start(spark: SparkSession, args: Args, ckpt: File): (SinkHandle, Double) = {
    implicit val ss: SparkSession = spark
    implicit val e: Encoder[In] = inEnc
    val t0 = System.nanoTime()
    def leg(name: String, port: String, kind: Long) = Graft.source(name,
      FramedSocketSource("127.0.0.1", args.int(port), Decoder(kind),
        maxFramesPerTrigger = FramesPerTrigger))
    val pipeline = leg("quotes", "quote-port", 0L).merge(leg("orders", "order-port", 1L))
      .keyBy(_._3.toString)
      .to(PipelineQueries.MarketCheck)(outEnc)
    val buildMs = (System.nanoTime() - t0) / 1e6
    (pipeline.toSink(TcpSink[Out]("127.0.0.1", args.int("result-port"), encode), Some(ckpt.getPath)),
      buildMs)
  }

  def run(args: Args, work: File, res: Result): Unit = {
    val progress = new Progress
    var buildMs, startMs = 0.0
    val (spark, handle) = setUp(args, work, res) { (spark, rep) =>
      spark.streams.addListener(progress)
      val t0 = System.nanoTime()
      val (h, b) = start(spark, args, new File(work, s"ckpt-$rep"))
      startMs = (System.nanoTime() - t0) / 1e6
      buildMs = b
      Control.say(s"STARTED $rep")
      val reply = Control.next()
      require(reply == "CONNECTED", s"generator answered '$reply' instead of CONNECTED")
      h
    }(_.stop())
    Control.say("READY")

    val marks = mutable.ArrayBuffer.empty[(String, Double)]
    var probe: Option[Probe] = None
    var cmd = Control.next()
    while (cmd != "STOP") {
      if (cmd.startsWith("MARK ")) marks += ((cmd.stripPrefix("MARK "), Clock.nowMs))
      else if (cmd == "TRACE") {
        val p = new Probe(spark)
        spark.sparkContext.addSparkListener(p)
        spark.listenerManager.register(p)
        probe = Some(p)
        Control.say("TRACING")
      } else throw new IllegalArgumentException(s"unknown command '$cmd'")
      handle.query.foreach(_.exception.foreach(throw _))
      cmd = Control.next()
    }
    handle.query.foreach(_.exception.foreach(throw _))
    // let the last progress report land before stopping
    handle.query.foreach(q => while (q.status.isTriggerActive) Thread.sleep(5))
    handle.stop()

    /** Micro-batches that started inside the n-th interval between marks
      * named `from` and `to`, less `skipMs` at its start. */
    def between(from: String, to: String, n: Int, skipMs: Double = 0) = {
      val a = marks.filter(_._1 == from).map(_._2)
      val b = marks.filter(_._1 == to).map(_._2)
      if (a.length <= n || b.length <= n) Nil
      else progress.all.filter { p =>
        val t = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        t >= a(n) + skipMs && t <= b(n)
      }
    }
    def backlog(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Double =
      p.sources.map(s => s.latestOffset.toDouble - s.endOffset.toDouble).sum
    def stats(n: Int): Map[String, Double] = {
      val steady = between("steady_start", "steady_end", n, args.long("ramp-ms").toDouble)
        .filter(_.numInputRows > 0)
      Map("steady_batch_geomean_s" -> geomean(steady.map(_.durationMs.get("triggerExecution").toDouble / 1e3)),
        "steady_backlog_max" -> steady.map(backlog).maxOption.getOrElse(0.0),
        "steady_batches" -> steady.length.toDouble)
    }
    res.metrics ++= stats(0)
    res.metrics("setup_s") = median(res.setupS.toSeq)
    probe.foreach { p =>
      res.untraced ++= res.metrics
      res.metrics ++= stats(1)
      spark.sparkContext.removeSparkListener(p)
      spark.listenerManager.unregister(p)
      val ps = between("measure_start", "measure_end", 1).filter(_.numInputRows > 0)
      p.recordBatches(ps)
      probeLayers(p, res, args.int("cores"))
      streamLayers(ps, res, ps.map(backlog))
      // the pipeline is built once, during set-up (the last repetition's)
      res.layers("operators.build_ms") = buildMs
      writeTrace(p, "wire_spread", args, res)
    }
    res.info("pipeline_start_ms") = startMs
    res.info("batches") = progress.all.map(batchSummary)
    spark.stop()
  }
}
