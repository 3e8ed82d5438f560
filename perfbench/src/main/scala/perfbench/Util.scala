package perfbench

import java.io.File

import scala.collection.mutable

object Util {
  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
    f.delete(); ()
  }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  /** The data files under `dir`: no hidden or `_SUCCESS`-style markers. */
  def dataFiles(dir: File): Seq[File] =
    if (!dir.exists) Nil
    else if (dir.isDirectory) dir.listFiles.toSeq.flatMap(dataFiles)
    else if (dir.getName.startsWith(".") || dir.getName.startsWith("_")) Nil
    else Seq(dir)

  /** Lines in the data files under `dir`, gzip decoded. */
  def countLines(dir: File): Long = dataFiles(dir).map { f =>
    val raw = new java.io.BufferedInputStream(new java.io.FileInputStream(f), 1 << 16)
    val in = if (f.getName.endsWith(".gz")) new java.util.zip.GZIPInputStream(raw, 1 << 16) else raw
    try {
      val buf = new Array[Byte](1 << 16)
      var n = 0L
      var r = in.read(buf)
      while (r > 0) {
        var i = 0
        while (i < r) { if (buf(i) == '\n') n += 1; i += 1 }
        r = in.read(buf)
      }
      n
    } finally in.close()
  }.sum

  /** `s` as a JSON string literal. */
  def json(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
    case '\t' => "\\t"; case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
  } + "\""

  def copyTree(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs(); from.listFiles.foreach(f => copyTree(f, new File(to, f.getName)))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)
}

/** Metrics and the attempted/failed tally of one run. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val extra = mutable.LinkedHashMap.empty[String, String]

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (errors.size < 20) errors += what }
  }

  def write(f: File): Unit = {
    import Util.json
    val m = metrics.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
      s"""${json(k)}:{"value":$num,"unit":${json(u)}}"""
    }.mkString(",")
    val ex = extra.map { case (k, v) => s"${json(k)}:$v" }.mkString(",")
    val out = s"""{"attempted":$attempted,"failed":$failed,"errors":[${errors.map(json).mkString(",")}],"metrics":{$m},"extra":{$ex}}"""
    java.nio.file.Files.write(f.toPath, out.getBytes("UTF-8"))
  }
}
