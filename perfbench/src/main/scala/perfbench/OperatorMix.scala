package perfbench

import java.io.File

import graft.{ColdStart, SparkEntry, Tables}

/** operator_mix: a fixed list of `SparkEntry.queries` rows on seeded
  * tables, each timed with a full-result `noop` write, interleaved
  * round-robin. The product layers are idle here. The rows are a plain
  * aggregate, a window and an iterative graph job over a session-cached
  * intermediate, so the mix carries the cache registries, iteration fences
  * and small-input gates the operator suite is built from, in a pass of a
  * few seconds. The stateful streaming rows (`pipe_stream_*`) are left
  * out: their per-trigger floor is closed (ROADMAP.md) and shard_tail
  * measures the streaming trigger.
  * Outputs are dumped once after timing and checked against each row's
  * DuckDB oracle SQL by the runner script. */
object OperatorMix {
  /** Table sizes as a share of the sf0.01 fixture's: the rows are bound
    * by per-job overhead, so larger tables add run time, not signal. */
  val Scale = 0.1

  /** Each row and the tables it reads: their row count is the "records"
    * a row processes. */
  val Rows: Seq[(String, Seq[String])] = Seq(
    "q1_pricing_summary" -> Seq("lineitem"),
    "q_window_running" -> Seq("orders"),
    "q_components" -> Seq("lineitem"))

  val TableNames: Seq[String] = Rows.flatMap(_._2).distinct

  def run(c: Ctx): Setup = {
    val spark = c.spark
    val copies = (0 to Main.ColdRepeats).map(i => new File(c.work, s"input-$i"))
    val genS = Util.seconds(Gen.operatorTables(spark, c.seed, Scale, copies.head))._2
    System.err.println(f"inputs generated in $genS%.2f s")
    copies.tail.foreach(Util.copyTree(copies.head, _))
    val rowsOf = TableNames.map(t => t -> spark.read.parquet(new File(copies.head, s"$t.parquet").getPath).count()).toMap

    // Cold caches: the ingest re-layout of every table.
    val cold = copies.init.map { d =>
      Util.seconds {
        ColdStart.purge(d.getPath)
        TableNames.foreach(t => Tables.table(spark, d.getPath, t).count())
      }._2
    }
    val dir = copies.last.getPath
    val timedRuns = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)

    /** One full-result execution; a timed one that throws is a failure. */
    def exec(row: String, timed: Boolean, traced: Boolean = false): Double = {
      System.gc()
      val t0 = System.nanoTime()
      def write(): Unit = SparkEntry.queries(row)(spark, dir).write.format("noop").mode("overwrite").save()
      val err =
        try { if (traced) c.tracer.span(s"ops.$row")(write()) else write(); null }
        catch { case e: Throwable => s"$row threw $e" }
      val s = (System.nanoTime() - t0) / 1e9
      if (timed) { c.report.check(err == null, err); timedRuns(row) += 1 }
      s
    }
    def pass(samples: scala.collection.mutable.Map[String, Vector[Double]], timed: Boolean): Double =
      Rows.map { case (row, _) =>
        val s = exec(row, timed)
        System.err.println(f"row $row: $s%.4f s")
        samples(row) = samples.getOrElse(row, Vector.empty) :+ s
        s
      }.sum

    val warm = Main.warmUp(15)(pass(scala.collection.mutable.Map.empty, timed = false))
    val window = if (c.trace) c.seconds / 2 else c.seconds
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
    val passes = Main.measure(window, 2)(pass(samples, timed = true))
    val records = Rows.map { case (row, ts) => ts.map(rowsOf).sum * samples(row).size }.sum
    val rowS = Rows.map { case (row, _) => Util.median(samples(row)) }
    c.report.metric("records_per_s", records / passes.sum, "records/s")
    c.report.metric("batch_p50_ms", Util.median(passes) * 1000, "ms")
    c.report.metric("ops_total_s", rowS.sum, "s")
    c.report.metric("ops_geomean_s", math.exp(rowS.map(math.log).sum / rowS.size), "s")
    if (c.trace) traced(c, Util.median(passes), exec(_, timed = true, traced = true))

    // The runner script adds each row's oracle verdict to its timed runs.
    val dumpT0 = System.nanoTime()
    val dump = new File(c.work, "dump")
    Rows.foreach { case (row, _) =>
      try SparkEntry.queries(row)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(new File(dump, row).getPath)
      catch { case e: Throwable => c.report.errors += s"$row dump threw $e" }
    }
    val q = Util.json _
    System.err.println(f"outputs dumped in ${(System.nanoTime() - dumpT0) / 1e9}%.2f s")
    c.report.extra("oracle") = Rows.map { case (row, _) =>
      s"${q(row)}:{${q("sql")}:${q(SparkEntry.oracleSql(row))},${q("runs")}:${timedRuns(row)}}"
    }.mkString("{", ",", "}")
    c.report.extra("tables_dir") = q(dir)
    Setup(cold, warm)
  }

  private def traced(c: Ctx, plainPass: Double, exec: String => Double): Unit = {
    val r = c.report
    c.engine
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
    var engine = Map.empty[String, EngineCounts].withDefaultValue(EngineCounts.Zero)
    val passes = Main.measure(c.seconds / 2, 1) {
      Rows.map { case (row, _) =>
        c.spark.sparkContext.setJobGroup(row, row)
        val s = exec(row)
        c.spark.sparkContext.clearJobGroup()
        samples(row) = samples.getOrElse(row, Vector.empty) :+ s
        s
      }.sum
    }
    c.drainEvents()
    Rows.foreach { case (row, _) => engine += row -> c.engine.take(row) }
    r.metric("trace.overhead_share", Util.median(passes) / plainPass - 1, "ratio")
    Engine.report(r, engine.values.reduce(_ + _), passes.size.toDouble)
    Rows.foreach { case (row, _) =>
      val k = samples(row).size.toDouble
      val e = engine(row)
      r.metric(s"ops.$row.s", Util.median(samples(row)), "s")
      r.metric(s"ops.$row.jobs", e.jobs / k, "count")
      r.metric(s"ops.$row.tasks", e.tasks / k, "count")
      r.metric(s"ops.$row.shuffle_write_bytes", e.shuffleWriteBytes / k, "bytes")
      r.metric(s"ops.$row.spill_bytes", e.spillBytes / k, "bytes")
      r.metric(s"ops.$row.gc_ms", e.gcMs / k, "ms")
    }
  }
}
