package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.sink.{BulkAction, BulkReject, BulkTransport}

/** Engine counters for one timed operation or one operator row. */
final case class EngineCounts(jobs: Long, stages: Long, tasks: Long, shuffleWriteBytes: Long,
                              spillBytes: Long, gcMs: Long, cpuNs: Long) {
  def +(o: EngineCounts): EngineCounts = EngineCounts(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
    gcMs + o.gcMs, cpuNs + o.cpuNs)
}

object EngineCounts { val Zero: EngineCounts = EngineCounts(0, 0, 0, 0, 0, 0, 0) }

/** Counts jobs, stages, tasks, shuffle, spill, GC and executor CPU, keyed
  * by the job group the bench sets around each timed operation. */
final class EngineRecorder extends SparkListener {
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val byGroup = mutable.HashMap.empty[String, EngineCounts]

  private def add(group: String, c: EngineCounts): Unit = synchronized {
    byGroup(group) = byGroup.getOrElse(group, EngineCounts.Zero) + c
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(s => stageGroup.put(s, g))
    add(g, EngineCounts.Zero.copy(jobs = 1))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add(stageGroup.getOrDefault(e.stageInfo.stageId, ""), EngineCounts.Zero.copy(stages = 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val g = stageGroup.getOrDefault(e.stageId, "")
    if (m == null) add(g, EngineCounts.Zero.copy(tasks = 1))
    else add(g, EngineCounts(0, 0, 1, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime, m.executorCpuTime))
  }

  def take(group: String): EngineCounts = synchronized {
    byGroup.remove(group).getOrElse(EngineCounts.Zero)
  }
}

/** Per-trigger `durationMs` split of every streaming progress event, plus
  * the trigger's input rows (`rows`) and its wall-clock end (`endMs`). */
final class ProgressRecorder extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[(Long, Map[String, Long])]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val end = java.time.Instant.parse(e.progress.timestamp).toEpochMilli + d.getOrElse("triggerExecution", 0L)
    progress.add(e.progress.numInputRows -> (d + ("rows" -> e.progress.numInputRows) + ("endMs" -> end)))
  }

  /** The triggers that carried data, in order, drained. */
  def drainData(): Vector[Map[String, Long]] = {
    val out = Vector.newBuilder[Map[String, Long]]
    var p = progress.poll()
    while (p != null) { if (p._1 > 0) out += p._2; p = progress.poll() }
    out.result()
  }
}

/** One traced interval. Spans of one run share `run`; `parent` is the
  * span that caused this one (0 at the root). */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long, run: String)

/** In-memory span store, written out when the benchmark ends. */
final class Tracer(val run: String) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  def current: Long = stack.get.headOption.getOrElse(0L)

  def span[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = current
    stack.set(id :: stack.get)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, name, t0, System.nanoTime(), run))
      stack.set(stack.get.tail)
    }
  }

  def record(name: String, parent: Long, startNs: Long, endNs: Long): Unit =
    spans.add(Span(ids.incrementAndGet(), parent, name, startNs, endNs, run))

  /** Self time per span name: duration minus the union of child spans. */
  def selfSeconds: Map[String, Double] = {
    val all = spans.asScala.toVector
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val iv = kids.getOrElse(s.id, Vector.empty)
          .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered, from, until = 0L
        var open = false
        iv.foreach { case (a, b) =>
          if (open && a <= until) until = math.max(until, b)
          else {
            if (open) covered += until - from
            from = a; until = b; open = true
          }
        }
        if (open) covered += until - from
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  def write(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.asScala.toVector.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"run":"${s.run}","id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

/** Counters the traced transport reports into, in this JVM. Spark runs the
  * tasks in this JVM (local mode), so plain static counters suffice. */
object TransportStats {
  val busyNs, posts, bytes, rejects = new LongAdder
  @volatile var tracer: Tracer = _
  @volatile var parent: Long = 0L
  def reset(): Unit = Seq(busyNs, posts, bytes, rejects).foreach(_.reset())
}

/** Times each `sendChunk` of the wrapped transport and records it as a
  * span under the pipeline call that caused it. */
final class TimedTransport(inner: BulkTransport) extends BulkTransport {
  override def sendChunk(body: String, actions: Seq[BulkAction]): Seq[BulkReject] = {
    val t0 = System.nanoTime()
    try {
      val r = inner.sendChunk(body, actions)
      TransportStats.rejects.add(r.size.toLong)
      r
    } finally {
      val t1 = System.nanoTime()
      TransportStats.busyNs.add(t1 - t0)
      TransportStats.posts.increment()
      TransportStats.bytes.add(body.length.toLong)
      val tr = TransportStats.tracer
      if (tr != null) tr.record("transport.send_chunk", TransportStats.parent, t0, t1)
    }
  }
  override def close(): Unit = inner.close()
}

/** Serialises chunks and throws them away: isolates `BulkSink.push`. */
final class DiscardTransport extends BulkTransport {
  override def sendChunk(body: String, actions: Seq[BulkAction]): Seq[BulkReject] = {
    DiscardTransport.chunks.increment(); Nil
  }
}

object DiscardTransport { val chunks = new LongAdder }
