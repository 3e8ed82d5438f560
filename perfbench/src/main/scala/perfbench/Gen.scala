package perfbench

import java.io.{ByteArrayOutputStream, File}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.{Base64, Locale, SplittableRandom}
import java.util.zip.GZIPOutputStream

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a correct pipeline must do with one generated input batch. Every
  * count is derived from how the generator built each record, never from
  * running the program. `acks` maps each `_id` the `_bulk` stub must
  * acknowledge to the number of actions carrying it. */
final case class Truth(records: Long, pushed: Long, failed: Long, rejected: Long,
                       dropped: Long, acks: Map[String, Int])

/** Seeded input generators. The same seed always yields the same bytes. */
object Gen {

  /** Log types the backfill config whitelists, and two it does not. */
  val Allowed: Seq[String] = Seq("nginx", "app", "auth", "billing")
  val Blocked: Seq[String] = Seq("debug", "trace")

  /** The stub rejects an action when this holds: a pure function of the
    * `_id`, so the expected reject set is known before the run. */
  def rejects(id: String): Boolean = (id.hashCode & 0x7fffffff) % 50 == 0

  /** The stub answers 429 to the first attempt of a chunk holding one of
    * these ids. The generator plants exactly [[Throttled]] of them, each
    * at the head of its own input file, so every batch retries the same
    * number of chunks whatever the seed. */
  def throttles(id: String): Boolean = id.endsWith("-throttle")
  val Throttled = 2

  private val Epoch2020 = 1577836800L

  /** Arrival time, in epoch ms, of envelope `i`: the stream arrives at
    * BASELINE.md's ingest ceiling, 1000 records/s on one shard, starting
    * 20 s before a UTC midnight, so index-day routing splits the batch. */
  def arrivalMs(i: Int): Long = (Epoch2020 + 30L * 86400 - 20) * 1000 + i

  /** Assumed shares, in percent, of the FIXTURES.md §B variants, in the
    * order `backfill` draws them. No source gives real proportions
    * (BASELINE.md: the reference publishes no traffic figures); these
    * keep indexed records the large majority and still put every
    * failure and drop path in each batch. Every run prints the
    * resulting fan-out and dead-letter share. */
  val Mix: Seq[(String, Int)] = Seq(
    "plain_good" -> 38, "gzip_good" -> 14, "kpl_agg" -> 10, "cwl_data" -> 10,
    "cwl_control" -> 3, "not_json" -> 5, "missing_type" -> 4, "missing_ts" -> 4,
    "bad_ts" -> 4, "not_whitelisted" -> 6, "dup_id" -> 2)

  /** Assumed producer-to-stream lag: event time trails arrival by up to
    * this many seconds. */
  val MaxLagS = 60
  private val Rfc1123 = DateTimeFormatter.RFC_1123_DATE_TIME.withLocale(Locale.ENGLISH)
  private val Clf = DateTimeFormatter.ofPattern("dd/MMM/yyyy:HH:mm:ss Z", Locale.ENGLISH)
  private val IsoMicros = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")

  private def esc(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 16)
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c => sb.append(c)
    }
    sb.toString
  }

  private def gzip(b: Array[Byte]): Array[Byte] = {
    val bo = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bo)
    gz.write(b); gz.close()
    bo.toByteArray
  }

  private def varint(o: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) { o.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    o.write(v.toInt)
  }

  /** KPL aggregate: magic, protobuf AggregatedRecord, MD5 of the body. */
  private def kpl(payloads: Seq[Array[Byte]]): Array[Byte] = {
    val body = new ByteArrayOutputStream()
    body.write(0x0a); varint(body, 1); body.write('k') // partition_key_table
    payloads.foreach { p =>
      val rec = new ByteArrayOutputStream()
      rec.write(0x08); varint(rec, 0) // partition_key_index
      rec.write(0x1a); varint(rec, p.length.toLong); rec.write(p)
      body.write(0x1a); varint(body, rec.size.toLong); rec.writeTo(body)
    }
    val b = body.toByteArray
    val out = new ByteArrayOutputStream()
    out.write(Array(0xF3, 0x89, 0x9A, 0xC2).map(_.toByte))
    out.write(b)
    out.write(java.security.MessageDigest.getInstance("MD5").digest(b))
    out.toByteArray
  }

  /** Seeded backfill batch in the [[Mix]] of FIXTURES.md §B, as JSON-lines
    * envelopes with base64 `data`, split over `files` files in `dir`. */
  def backfill(seed: Long, envelopes: Int, files: Int, dir: File): Truth = {
    val rng = new SplittableRandom(seed)
    var next = 0L
    def newId(): String = { next += 1; f"s$seed%d-$next%09d" }
    val per = (envelopes + files - 1) / files
    val marked = (0 until Throttled).map(k => k * files / Throttled * per).toSet
    var records, pushed, failed, rejected, dropped = 0L
    val acks = mutable.HashMap.empty[String, Int]
    var lastGood: String = null

    def tsText(sec: Long): String = {
      val z = Instant.ofEpochSecond(sec, rng.nextInt(1000000) * 1000L).atZone(ZoneOffset.UTC)
      rng.nextInt(5) match {
        case 0 => IsoMicros.format(z.withZoneSameInstant(ZoneOffset.ofHours(rng.nextInt(19) - 9)))
        case 1 => Rfc1123.format(z)
        case 2 => Clf.format(z)
        case 3 => sec.toString
        case _ => (sec * 1000 + rng.nextInt(1000)).toString
      }
    }
    def eventSec(i: Int): Long = arrivalMs(i) / 1000 - rng.nextInt(MaxLagS)
    def good(i: Int, marker: Boolean = false): String = {
      val id = if (marker) newId() + "-throttle" else newId()
      val t = Allowed(rng.nextInt(Allowed.size))
      val sec = eventSec(i)
      records += 1
      if (rejects(id)) rejected += 1
      else { pushed += 1; acks(id) = acks.getOrElse(id, 0) + 1 }
      val s = s"""{"log_type":"$t","time":"${tsText(sec)}","log_id":"$id","status":${200 + rng.nextInt(4) * 100},"uri":"/api/v${rng.nextInt(3)}/item/${rng.nextInt(100000)}","took_ms":${rng.nextInt(100000) / 100.0},"nested":{"a":[${rng.nextInt(9)},${rng.nextInt(9)}]}}"""
      lastGood = s
      s
    }
    def failedRec(body: String): String = { records += 1; failed += 1; body }
    def cwl(i: Int, kind: String, messages: Seq[String]): Array[Byte] = {
      val evs = messages.zipWithIndex.map { case (m, k) =>
        s"""{"id":"$k","timestamp":${arrivalMs(i)},"message":"${esc(m)}"}"""
      }.mkString(",")
      gzip(s"""{"messageType":"$kind","owner":"0123","logGroup":"g","logStream":"s","subscriptionFilters":["f"],"logEvents":[$evs]}""".getBytes(UTF_8))
    }

    val bounds = Mix.map(_._2).scanLeft(0)(_ + _).tail
    require(bounds.last == 100, "Mix shares must add up to 100")
    val lines = Array.tabulate(envelopes) { i =>
      val roll = rng.nextInt(100)
      val variant = if (marked(i)) "marker" else Mix(bounds.indexWhere(roll < _))._1
      val data: Array[Byte] = variant match {
        case "marker" => good(i, marker = true).getBytes(UTF_8)
        case "plain_good" => good(i).getBytes(UTF_8)
        case "gzip_good" => gzip(good(i).getBytes(UTF_8))
        case "kpl_agg" => kpl(Seq.fill(2 + rng.nextInt(4))(good(i).getBytes(UTF_8)))
        case "cwl_data" => cwl(i, "DATA_MESSAGE", Seq.fill(1 + rng.nextInt(4))(good(i)))
        case "cwl_control" => cwl(i, "CONTROL_MESSAGE", Seq("CWL CONTROL MESSAGE: Checking health"))
        case "not_json" => failedRec(s"plaintext, not json ${rng.nextInt()}").getBytes(UTF_8)
        case "missing_type" =>
          failedRec(s"""{"time":"${tsText(eventSec(i))}","log_id":"${newId()}"}""").getBytes(UTF_8)
        case "missing_ts" => failedRec(s"""{"log_type":"app","log_id":"${newId()}"}""").getBytes(UTF_8)
        case "bad_ts" =>
          failedRec(s"""{"log_type":"app","time":"not a time","log_id":"${newId()}"}""").getBytes(UTF_8)
        case "not_whitelisted" =>
          records += 1; dropped += 1
          s"""{"log_type":"${Blocked(rng.nextInt(2))}","time":"${eventSec(i)}","log_id":"${newId()}"}""".getBytes(UTF_8)
        case "dup_id" if lastGood != null =>
          // redelivery of the previous good record: same _id, one more action
          records += 1
          val id = lastGood.split("\"log_id\":\"")(1).takeWhile(_ != '"')
          if (rejects(id)) rejected += 1
          else { pushed += 1; acks(id) = acks(id) + 1 }
          lastGood.getBytes(UTF_8)
        case _ => good(i).getBytes(UTF_8)
      }
      val arrival = Instant.ofEpochMilli(arrivalMs(i)).toString
      s"""{"partitionKey":"pk-${i % 97}","sequenceNumber":"${49590000000000L + i}","approximateArrival":"$arrival","data":"${Base64.getEncoder.encodeToString(data)}"}"""
    }
    dir.mkdirs()
    lines.grouped(per).zipWithIndex.foreach { case (chunk, f) =>
      java.nio.file.Files.write(new File(dir, f"part-$f%03d.json").toPath,
        (chunk.mkString("\n") + "\n").getBytes(UTF_8))
    }
    Truth(records, pushed, failed, rejected, dropped, acks.toMap)
  }

  /** Writes `df` as ONE parquet file named `dir/name.parquet`, the shape
    * the program's table readers and ingest re-layout expect. */
  private def writeSingle(df: DataFrame, dir: File, name: String): Unit = {
    val tmp = new File(dir, s".$name.tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    dir.mkdirs()
    java.nio.file.Files.move(part.toPath, new File(dir, s"$name.parquet").toPath)
    Util.rm(tmp)
  }

  val EventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  /** The `events` table: ids 0..n-1 in time order, as in the fixture. */
  def events(spark: SparkSession, seed: Long, n: Int, dir: File): Unit = {
    import spark.implicits._
    val rng = new SplittableRandom(seed ^ 0x5eed)
    val t0 = 1704067200000000L // 2024-01-01 UTC, in micros
    var ts = t0
    val rows = (0 until n).map { i =>
      ts += 1 + rng.nextInt(2 * 259200000) // mean gap 4.3 min
      (i.toLong, new java.sql.Timestamp(ts / 1000), rng.nextInt(150).toLong,
        EventTypes(rng.nextInt(EventTypes.size)), rng.nextInt(49002) / 100.0 + 0.01,
        s"""{"k": ${rng.nextInt(100)}}""")
    }
    writeSingle(rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"), dir, "events")
  }

  /** The tables the operator rows read (orders, lineitem), with
    * the fixture's schemas and a size near its sf0.01 one (`scale` = 1).
    * Foreign keys stay in range of the sf0.01 key spaces. */
  def operatorTables(spark: SparkSession, seed: Long, scale: Double, dir: File): Unit = {
    import spark.implicits._
    val rng = new SplittableRandom(seed ^ 0x0b5)
    def n(base: Int) = math.max(10, (base * scale).toInt)
    val (nCust, nSupp, nPart, nOrd, nLine) = (n(1500), n(100), n(2000), n(15000), n(60000))
    def day(from: String, days: Int) =
      java.sql.Timestamp.valueOf(java.time.LocalDate.parse(from).plusDays(rng.nextInt(days).toLong).atStartOfDay())
    def money(lo: Double, hi: Double) = math.round((lo + rng.nextDouble() * (hi - lo)) * 100) / 100.0

    val prio = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    writeSingle((0 until nOrd).map(i => (i.toLong, rng.nextInt(nCust).toLong,
      Seq("F", "O", "P")(rng.nextInt(3)), money(1000, 500000), day("1995-01-01", 2400),
      prio(rng.nextInt(5))))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        "o_orderpriority"), dir, "orders")
    writeSingle((0 until nLine).map { _ =>
      val q = (1 + rng.nextInt(50)).toDouble
      (rng.nextInt(nOrd).toLong, rng.nextInt(nPart).toLong, rng.nextInt(nSupp).toLong,
        1 + rng.nextInt(7), q, money(900, 105000), rng.nextInt(11) / 100.0,
        rng.nextInt(9) / 100.0, Seq("A", "N", "R")(rng.nextInt(3)), Seq("F", "O")(rng.nextInt(2)),
        day("1995-01-02", 2500))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"),
      dir, "lineitem")
  }
}
