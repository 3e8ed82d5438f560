package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{ColdStart, Pipeline}
import graft.config.PipelineConfig
import graft.decode.Decode
import graft.enrich.Enrich
import graft.model.Schemas
import graft.route.Router
import graft.sink.{BulkReject, BulkSink, BulkTransport, DeadLetterSink, HttpBulkTransport}

/** backfill_mixed: closed loop of `Pipeline.runBatch` calls over one seeded
  * batch of envelopes in the FIXTURES.md §B mix ([[Gen.Mix]]), read the way
  * `graft.Main --mode batch` reads them, pushed over HTTP into the stub.
  * The stub rejects ~2% of actions and throttles two chunks per batch
  * once, so both dead-letter channels and the transport's retry path run.
  * The batch is sized so one runBatch takes about two seconds on 4 cores;
  * the two throttled chunks' backoff sleeps are then ~5% of its task time.
  * The dead-letter write, a shuffle and a partitioned write per channel,
  * is a per-batch cost the program pays on every batch. */
object Backfill {
  val Envelopes = 40000
  val Files = 8

  def run(c: Ctx): Setup = {
    val copies = (0 to Main.ColdRepeats).map(i => new File(c.work, s"input-$i"))
    val truth = Gen.backfill(c.seed, Envelopes, Files, copies.head)
    copies.tail.foreach(Util.copyTree(copies.head, _))
    val stub = new Stub(graft.Sessions.cpus.toInt, Gen.throttles, Gen.rejects)
    try body(c, copies, truth, stub) finally stub.stop()
  }

  def envelopes(c: Ctx, dir: File): DataFrame =
    c.spark.read.schema(Schemas.envelopeJson).json(dir.getPath)
      .withColumn("data", unbase64(col("data")))

  private def body(c: Ctx, copies: Seq[File], truth: Truth, stub: Stub): Setup = {
    val cold = copies.init.map { d =>
      Util.seconds { ColdStart.purge(d.getPath); envelopes(c, d).count() }._2
    }
    val input = copies.last
    val cfg0 = PipelineConfig(logTypeWhitelist = Some(Gen.Allowed.toSet))
    val plain = Pipeline.httpTransport(stub.url)
    var n = 0

    /** One runBatch and its accounting gate: (seconds, error or null). */
    def op(transport: () => BulkTransport): (Double, String) = {
      n += 1
      stub.reset()
      System.gc()
      val dl = new File(c.work, s"deadletter-$n")
      val cfg = cfg0.copy(deadLetterPath = dl.getPath)
      val (res, s) = Util.seconds(Pipeline.runBatch(envelopes(c, input), cfg, transport))
      val want = Pipeline.BatchResult(truth.pushed, truth.failed, truth.rejected, truth.dropped)
      val acks = stub.acks.asScala.map { case (k, v) => k -> v.intValue }.toMap
      val dlFailed = Util.countLines(new File(dl, "failed_validation"))
      val dlRejected = Util.countLines(new File(dl, "es_rejected"))
      val err =
        if (res != want) s"BatchResult $res != $want"
        else if (acks != truth.acks) s"stub acked ${acks.size} ids, expected ${truth.acks.size}"
        else if (dlFailed != truth.failed || dlRejected != truth.rejected)
          s"dead-letter lines $dlFailed/$dlRejected != ${truth.failed}/${truth.rejected}"
        else null
      Util.rm(dl)
      (s, err)
    }
    def timedOp(transport: () => BulkTransport): Double = {
      val (s, err) = op(transport)
      c.report.check(err == null, err)
      s
    }

    if (c.baseline) {
      val warm = Main.warmUp(0)(op(plain)._1)
      val ops = Main.measure(0, 2)(timedOp(plain))
      c.report.metric("baseline.local1_records_per_s", truth.records / Util.median(ops), "records/s")
      return Setup(cold, warm)
    }

    val warm = Main.warmUp(15)(op(plain)._1)
    val window = if (c.trace) c.seconds / 2 else c.seconds
    val ops = Main.measure(window, 3)(timedOp(plain))
    val opS = Util.median(ops)
    c.report.metric("records_per_s", truth.records / opS, "records/s")
    c.report.metric("batch_p50_ms", opS * 1000, "ms")
    c.report.metric("ops_total_s", opS, "s")
    c.report.metric("ops_geomean_s", opS, "s")
    c.report.extra("batches") = ops.size.toString
    c.report.extra("input_mix") = Util.json(
      f"${truth.records} records from $Envelopes envelopes (fan-out ${truth.records.toDouble / Envelopes}%.3f); " +
      f"dead-lettered ${100.0 * (truth.failed + truth.rejected) / truth.records}%.2f%% " +
      f"(failed ${truth.failed}, rejected ${truth.rejected}), dropped ${100.0 * truth.dropped / truth.records}%.2f%%")
    if (c.trace) traced(c, input, cfg0, truth, stub, ops, timedOp)
    Setup(cold, warm)
  }

  private def traced(c: Ctx, input: File, cfg0: PipelineConfig, truth: Truth, stub: Stub,
                     plainOps: Seq[Double], timedOp: (() => BulkTransport) => Double): Unit = {
    val r = c.report
    val tr = c.tracer
    val url = stub.url
    val timed: () => BulkTransport = () => new TimedTransport(new HttpBulkTransport(url))
    c.engine
    TransportStats.reset(); TransportStats.tracer = tr
    var stubBusy, retries = 0L
    var engine = EngineCounts.Zero
    val ops = Main.measure(c.seconds / 2, 3) {
      tr.span("pipeline.runBatch") {
        TransportStats.parent = tr.current
        c.spark.sparkContext.setJobGroup("op", "timed runBatch")
        val s = timedOp(timed)
        c.spark.sparkContext.clearJobGroup()
        stubBusy += stub.busyNs.sum; retries += stub.throttled.sum
        c.drainEvents()
        engine = engine + c.engine.take("op")
        s
      }
    }
    TransportStats.tracer = null
    val k = ops.size.toDouble
    val busy = TransportStats.busyNs.sum / 1e9
    r.metric("trace.overhead_share", Util.median(ops) / Util.median(plainOps) - 1, "ratio")
    r.metric("pipeline.runbatch_s", ops.sum / k, "s")
    r.metric("pipeline.runbatch_self_s", tr.selfSeconds("pipeline.runBatch") / k, "s")
    r.metric("pipeline.jobs_per_batch", engine.jobs / k, "count")
    r.metric("pipeline.tasks_per_batch", engine.tasks / k, "count")
    Engine.report(r, engine, k)
    r.metric("transport.busy_s", busy / k, "s")
    r.metric("transport.posts", TransportStats.posts.sum / k, "count")
    r.metric("transport.bytes", TransportStats.bytes.sum / k, "bytes")
    r.metric("transport.retries", retries / k, "count")
    r.metric("transport.rejects", TransportStats.rejects.sum / k, "count")
    r.metric("stub.busy_s", stubBusy / 1e9 / k, "s")
    r.metric("stub.busy_share", stubBusy / 1e9 / math.max(busy, 1e-9), "ratio")

    // Each layer alone, on its own cached input, timed with a full-result
    // `noop` write so no column or row can be pruned away.
    val cfg = cfg0.copy(deadLetterPath = new File(c.work, "deadletter-layers").getPath)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def layer(name: String)(body: => Unit): Double = Util.seconds(tr.span(name)(body))._2
    val env = envelopes(c, input)
    r.metric("decode.s", layer("decode")(noop(Decode.normalize(env))), "s")
    val decoded = Decode.normalize(env).persist()
    r.metric("decode.fanout", decoded.count().toDouble / Envelopes, "ratio")
    r.metric("route.s", layer("route")(noop(Router.route(decoded, cfg))), "s")
    val routed = Router.route(decoded, cfg).persist()
    val byRoute = routed.groupBy(col("route").substr(1, 4)).count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    r.metric("route.good", byRoute.getOrElse("good", 0L).toDouble, "count")
    r.metric("route.failed", byRoute.getOrElse("fail", 0L).toDouble, "count")
    r.metric("route.dropped", byRoute.getOrElse("drop", 0L).toDouble, "count")
    r.metric("enrich.s", layer("enrich")(noop(Enrich.withIndexName(routed, cfg))), "s")
    val enriched = Enrich.withIndexName(routed, cfg).persist()
    enriched.count()
    DiscardTransport.chunks.reset()
    r.metric("bulk.serialize_s", layer("bulk.serialize") {
      BulkSink.push(Router.good(enriched), cfg, () => new DiscardTransport).count(); ()
    }, "s")
    r.metric("bulk.chunks", DiscardTransport.chunks.sum.toDouble, "count")
    val isRejected = udf((id: String) => Gen.rejects(id))
    val rejects = {
      import c.spark.implicits._
      Router.good(enriched).filter(isRejected(col("log_id")))
        .select(col("index_name").as("indexName"), col("log_id").as("id"),
          col("payload").as("source"), lit("rejected by stub").as("error"), lit(400).as("status"))
        .as[BulkReject].persist()
    }
    rejects.count()
    val failedRows = Router.failed(enriched).persist()
    failedRows.count()
    r.metric("deadletter.s", layer("deadletter") {
      DeadLetterSink.writeFailed(failedRows, cfg, reason = "failed_validation")
      DeadLetterSink.writeRejected(rejects.toDF(), cfg)
    }, "s")
    val dlFiles = Util.dataFiles(new File(cfg.deadLetterPath))
    r.metric("deadletter.files", dlFiles.size.toDouble, "count")
    r.metric("deadletter.bytes", dlFiles.map(_.length).sum.toDouble, "bytes")
    val dlLines = Util.countLines(new File(cfg.deadLetterPath))
    r.metric("deadletter.share", dlLines.toDouble / truth.records, "ratio")
    r.check(dlLines == truth.failed + truth.rejected, "isolated dead-letter write lost lines")
    Seq(decoded, routed, enriched, failedRows).foreach(_.unpersist())
    rejects.unpersist()
    r.metric("pipeline.persist_s", layer("pipeline.persist") {
      val p = Pipeline.transform(envelopes(c, input), cfg).persist()
      p.groupBy("route").count().collect()
      p.unpersist()
    }, "s")
  }
}

/** Reports engine counters per timed operation. */
object Engine {
  def report(r: Report, e: EngineCounts, ops: Double): Unit = {
    r.metric("spark.jobs", e.jobs / ops, "count")
    r.metric("spark.stages", e.stages / ops, "count")
    r.metric("spark.tasks", e.tasks / ops, "count")
    r.metric("spark.shuffle_write_bytes", e.shuffleWriteBytes / ops, "bytes")
    r.metric("spark.spill_bytes", e.spillBytes / ops, "bytes")
    r.metric("spark.gc_ms", e.gcMs / ops, "ms")
    r.metric("spark.executor_cpu_s", e.cpuNs / 1e9 / ops, "s")
  }
}
