package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.{ColdStart, Pipeline}
import graft.config.PipelineConfig
import graft.sink.{BulkReject, BulkTransport, DeadLetterSink, HttpBulkTransport}
import graft.streaming.StreamingPipeline

/** shard_tail: a backlog drain of a seeded events table through the
  * Kinesis shim (4 shards, batch_size 100, TRIM_HORIZON) and
  * `Pipeline.stream` (AvailableNow) into a stub that accepts everything.
  * Each micro-batch carries at most 400 records, so the fixed per-trigger
  * cost dominates and nothing is dead-lettered: the bypass case for
  * per-record and dead-letter changes. One drain covers the warm-up (its
  * first micro-batches, until they stop getting faster) and the measured
  * window (the rest), so query start and stop stay out of the window. */
object ShardTail {
  val Shards = 4
  val BatchSize = 100
  /** The warm-up spends at most this many micro-batches of a drain. */
  val WarmBatchesMax = 6
  /** Seconds per micro-batch on the 4-core x86 box the benchmark was tuned
    * on: sizes the table so the batches after the warm-up last about the
    * measured window there. */
  val BatchSecondsEstimate = 0.8

  /** Starts a drain's query, given its dead-letter path and envelopes. */
  type Start = (String, DataFrame) => StreamingQuery

  /** One checked drain: its wall time, the wall clock at query start, and
    * its data triggers in order. The leading triggers, until they stop
    * getting faster, are its warm-up; the rest are its measured window. */
  final case class Drain(seconds: Double, startMs: Long, triggers: Seq[Map[String, Long]]) {
    private def end(k: Int): Long = triggers(k)("endMs")
    val warm: Int = math.min(Main.warmCount(triggers.map(_("triggerExecution").toDouble)),
      math.min(WarmBatchesMax, triggers.size - 2))
    val measured: Seq[Map[String, Long]] = triggers.drop(warm)
    def triggerMs: Seq[Double] = measured.map(_("triggerExecution").toDouble)
    /** From query start to the end of the warm-up. */
    def warmS: Double = (end(warm - 1) - startMs) / 1000.0
    def windowS: Double = (end(triggers.size - 1) - end(warm - 1)) / 1000.0
    def recordsPerS: Double = measured.map(_("rows")).sum / windowS
    /** Query start and stop: the drain's time outside its data triggers. */
    def startStopS: Double =
      seconds - (end(triggers.size - 1) - end(0) + triggers.head("triggerExecution")) / 1000.0
  }

  def run(c: Ctx): Setup = {
    val windowS = if (c.trace) c.seconds / 2 else c.seconds
    val events = Shards * BatchSize * (WarmBatchesMax + math.ceil(windowS / BatchSecondsEstimate).toInt)
    val copies = (0 to Main.ColdRepeats).map(i => new File(c.work, s"input-$i"))
    Gen.events(c.spark, c.seed, events, copies.head)
    copies.tail.foreach(Util.copyTree(copies.head, _))
    val stub = new Stub(graft.Sessions.cpus.toInt, throttle = _ => false, reject = _ => false)
    val progress = new ProgressRecorder
    c.spark.streams.addListener(progress)
    try body(c, copies, events, stub, progress) finally stub.stop()
  }

  private def body(c: Ctx, copies: Seq[File], events: Int, stub: Stub,
                   progress: ProgressRecorder): Setup = {
    val cfg = PipelineConfig(sourceShards = Shards, sourceBatchSize = BatchSize,
      startingPosition = "TRIM_HORIZON")
    var n = 0
    def ckpt(): String = { n += 1; new File(c.work, s"ckpt-$n").getPath }
    def noopDrain(dir: File, conf: PipelineConfig): Unit =
      StreamingPipeline.kinesisShimStream(c.spark, dir.getPath, conf).writeStream
        .format("noop").option("checkpointLocation", ckpt())
        .trigger(Trigger.AvailableNow()).start().awaitTermination()

    // Cold caches: ingest re-layout of the events file, then every shard's
    // spill, built by one noop batch that reads all shards at once.
    val cold = copies.init.map { d =>
      Util.seconds(c.tracer.span("shim.spill_build") {
        ColdStart.purge(d.getPath)
        noopDrain(d, cfg.copy(sourceBatchSize = Int.MaxValue))
      })._2
    }
    if (c.trace) c.report.metric("shim.spill_build_s", Util.median(cold), "s")
    val input = copies.last
    val expected = (0 until events).map(_.toString).toSet
    val plain = Pipeline.httpTransport(stub.url)

    /** One full drain, checked: every event acked exactly once, nothing
      * dead-lettered. None when a check failed. */
    def drain(start: Start): Option[Drain] = {
      stub.reset()
      System.gc()
      c.drainEvents(); progress.drainData()
      val dl = new File(c.work, s"deadletter-$n")
      val startMs = System.currentTimeMillis()
      val (q, s) = Util.seconds {
        val q = start(dl.getPath, StreamingPipeline.kinesisShimStream(c.spark, input.getPath, cfg))
        q.awaitTermination()
        q
      }
      c.drainEvents()
      val triggers = progress.drainData()
      val acks = stub.acks.asScala
      val err =
        if (q.exception.isDefined) s"stream failed: ${q.exception.get}"
        else if (acks.keySet != expected) s"acked ${acks.size} distinct ids, expected $events"
        else if (acks.values.exists(_ != 1)) s"${acks.count(_._2 != 1)} ids acked more than once"
        else if (Util.countLines(dl) != 0) "dead-letter lines on an all-good stream"
        else if (triggers.size < 4) s"only ${triggers.size} micro-batches carried data"
        else null
      c.report.check(err == null, err)
      Util.rm(dl)
      if (err == null) Some(Drain(s, startMs, triggers)) else None
    }
    def viaPipeline(transport: () => BulkTransport): Start = (dl, env) =>
      Pipeline.stream(env, cfg.copy(deadLetterPath = dl), transport, ckpt())

    val d = drain(viaPipeline(plain)).getOrElse(return Setup(cold, 0))
    val batchS = Util.median(d.triggerMs) / 1000
    c.report.metric("records_per_s", d.recordsPerS, "records/s")
    c.report.metric("batch_p50_ms", batchS * 1000, "ms")
    c.report.metric("ops_total_s", batchS, "s")
    c.report.metric("ops_geomean_s", batchS, "s")
    c.report.extra("batches") = d.measured.size.toString
    c.report.extra("records_per_s_per_shard") = (d.recordsPerS / Shards).toString
    c.report.extra("drain") = Util.json(f"${d.seconds}%.2f s for $events events: " +
      f"${d.warm} warm-up micro-batches, ${d.measured.size} measured over ${d.windowS}%.2f s, " +
      f"query start and stop ${d.startStopS}%.2f s")
    System.err.println("batch ms: " + d.triggers.map(_("triggerExecution")).mkString(","))
    if (c.trace) traced(c, cfg, stub, d, drain, ckpt _, noopDrain, input, progress)
    Setup(cold, d.warmS)
  }

  private def traced(c: Ctx, cfg: PipelineConfig, stub: Stub, plain: Drain,
                     drain: Start => Option[Drain],
                     ckpt: () => String, noopDrain: (File, PipelineConfig) => Unit, input: File,
                     progress: ProgressRecorder): Unit = {
    val r = c.report
    val tr = c.tracer
    def p50(key: String) = Util.median(plain.measured.map(_.getOrElse(key, 0L).toDouble))
    r.metric("stream.latest_offset_ms_p50", p50("latestOffset"), "ms")
    r.metric("stream.planning_ms_p50", p50("queryPlanning"), "ms")
    r.metric("stream.add_batch_ms_p50", p50("addBatch"), "ms")
    r.metric("stream.commit_ms_p50", p50("commitOffsets") + p50("walCommit"), "ms")

    // The same drain with a span around each runBatch, the timed transport
    // and the engine recorder: the bench's own foreachBatch, identical to
    // Pipeline.stream's apart from the span.
    c.engine
    TransportStats.reset(); TransportStats.tracer = tr
    val url = stub.url
    val timed: () => BulkTransport = () => new TimedTransport(new HttpBulkTransport(url))
    var runBatch = Vector.empty[Double]
    var runId = ""
    val traced = drain { (dl, env) =>
      val q = env.writeStream.option("checkpointLocation", ckpt())
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          tr.span("pipeline.runBatch") {
            TransportStats.parent = tr.current
            runBatch :+= Util.seconds(
              Pipeline.runBatch(batch, cfg.copy(deadLetterPath = dl), timed))._2
          }; ()
        }.start()
      runId = q.runId.toString
      q
    }
    val stubBusy = stub.busyNs.sum
    val engine = c.engine.take(runId)
    TransportStats.tracer = null
    val k = runBatch.size.toDouble
    val busy = TransportStats.busyNs.sum / 1e9
    traced.foreach(t => r.metric("trace.overhead_share", plain.recordsPerS / t.recordsPerS - 1, "ratio"))
    r.metric("pipeline.runbatch_s", runBatch.sum / k, "s")
    r.metric("pipeline.runbatch_self_s", tr.selfSeconds("pipeline.runBatch") / k, "s")
    r.metric("pipeline.jobs_per_batch", engine.jobs / k, "count")
    r.metric("pipeline.tasks_per_batch", engine.tasks / k, "count")
    Engine.report(r, engine, k)
    r.metric("transport.busy_s", busy / k, "s")
    r.metric("transport.posts", TransportStats.posts.sum / k, "count")
    r.metric("transport.bytes", TransportStats.bytes.sum / k, "bytes")
    r.metric("transport.rejects", TransportStats.rejects.sum / k, "count")
    r.metric("stub.busy_s", stubBusy / 1e9 / k, "s")
    r.metric("stub.busy_share", stubBusy / 1e9 / math.max(busy, 1e-9), "ratio")

    // The engine + source floor: the same source drained into `noop`.
    r.metric("shim.noop_batch_ms_p50", tr.span("shim.noop_drain") {
      noopDrain(input, cfg)
      c.drainEvents()
      Util.median(progress.drainData().map(_("triggerExecution").toDouble))
    }, "ms")

    // What runBatch's dead-letter step costs here: an empty write of each channel.
    val dl = new File(c.work, "deadletter-empty").getPath
    val empty = Pipeline.transform(c.spark.createDataFrame(
      c.spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], graft.model.Schemas.envelope), cfg)
    r.metric("deadletter.s", Util.seconds(tr.span("deadletter") {
      DeadLetterSink.writeFailed(graft.route.Router.failed(empty), cfg.copy(deadLetterPath = dl), "failed_validation")
      import c.spark.implicits._
      DeadLetterSink.writeRejected(c.spark.emptyDataset[BulkReject].toDF(), cfg.copy(deadLetterPath = dl))
    })._2, "s")
  }
}
