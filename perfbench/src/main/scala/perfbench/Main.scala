package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, trace: Boolean,
                     baseline: Boolean, work: File, report: Report, tracer: Tracer) {
  lazy val engine: EngineRecorder = {
    val r = new EngineRecorder
    spark.sparkContext.addSparkListener(r)
    r
  }
  def drainEvents(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)
}

/** Set-up cost of a run: cold-cache builds (repeated on identical input
  * copies, so the median is steady) and the warm-up that follows them. */
final case class Setup(coldSeconds: Seq[Double], warmupSeconds: Double)

/** Entry point: `--workload W --seed N --seconds S --trace 0|1 --work DIR
  * --result FILE [--baseline 1]`. Writes the run's metrics to FILE. */
object Main {
  /** Cold-cache builds per run; the median goes into `setup_s`. */
  val ColdRepeats = 3

  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(opt("work"))
    val report = new Report
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.Sessions.local()
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val c = Ctx(spark, opt("seed").toLong, opt("seconds").toDouble, opt("trace") == "1",
      opt.get("baseline").contains("1"), work, report,
      new Tracer(s"${opt("workload")}-seed${opt("seed")}"))
    try {
      val setup = opt("workload") match {
        case "backfill_mixed" => Backfill.run(c)
        case "shard_tail" => ShardTail.run(c)
        case "operator_mix" => OperatorMix.run(c)
        case other => sys.error(s"unknown workload $other")
      }
      report.metric("setup_s", sessionS + Util.median(setup.coldSeconds) + setup.warmupSeconds, "s")
      val split = f"session $sessionS%.2f s, cold-cache builds ${setup.coldSeconds.map(s => f"$s%.2f").mkString(", ")} s, " +
        f"warm-up ${setup.warmupSeconds}%.2f s"
      report.extra("setup") = Util.json(split)
      System.err.println(s"setup: $split; run ${(System.currentTimeMillis() - jvmStart) / 1000.0}s")
      report.metric("peak_rss_mb", Util.peakRssMb, "MB")
      if (c.trace) {
        c.tracer.write(new File(work, "spans.jsonl"))
        report.extra("self_s") = c.tracer.selfSeconds
          .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      }
    } catch {
      case e: Throwable =>
        report.check(ok = false, s"run aborted: $e")
        e.printStackTrace()
    } finally {
      report.write(new File(opt("result")))
      spark.stop()
      // the program keeps spills and re-layouts outside the work dir
      Option(work.listFiles).getOrElse(Array.empty[File])
        .filter(_.getName.startsWith("input-")).foreach(d => graft.ColdStart.purge(d.getPath))
    }
    System.exit(0)
  }

  /** Whether timings have flattened: the last three lie within 5% of
    * their median. */
  def flat(xs: Seq[Double]): Boolean = xs.size >= 3 && {
    val last = xs.takeRight(3)
    val m = Util.median(last)
    last.forall(x => math.abs(x - m) <= 0.05 * m)
  }

  /** Repeats `op` (returning its seconds) until its timings are [[flat]]
    * or `maxS` has passed. Returns the warm-up's wall time. */
  def warmUp(maxS: Double)(op: => Double): Double = {
    val t0 = System.nanoTime()
    var times = Vector.empty[Double]
    do {
      val s = op
      System.err.println(f"warm-up op: $s%.4f s")
      times :+= s
    } while (!flat(times) && (System.nanoTime() - t0) / 1e9 < maxS)
    (System.nanoTime() - t0) / 1e9
  }

  /** How many leading samples of `xs` the rule of [[warmUp]] spends. */
  def warmCount(xs: Seq[Double]): Int =
    (1 to xs.size).find(k => flat(xs.take(k))).getOrElse(xs.size)

  /** Runs `op` until `seconds` of wall time have passed (at least
    * `minOps` times); returns each op's own timing. */
  def measure(seconds: Double, minOps: Int)(op: => Double): Vector[Double] = {
    val t0 = System.nanoTime()
    val out = Vector.newBuilder[Double]
    var n = 0
    while (n < minOps || (System.nanoTime() - t0) / 1e9 < seconds) {
      val s = op
      System.err.println(f"timed op $n: $s%.4f s")
      out += s; n += 1
    }
    out.result()
  }
}
