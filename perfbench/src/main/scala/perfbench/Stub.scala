package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.LongAdder

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process Elasticsearch `_bulk` endpoint for the benchmark.
  *
  * Replies are pure functions of the request: an action is rejected when
  * `reject` holds for its `_id`, and a chunk holding an `_id` for which
  * `throttle` holds gets HTTP 429 on its first attempt only. The attempt
  * number is the number of times this exact body has been seen since the
  * last [[reset]]. Bodies are parsed, never retained: only the per-`_id`
  * ack count is kept, for the accounting gate.
  *
  * Sockets use TCP_NODELAY: with Nagle's algorithm on, every POST waits
  * out a delayed ACK and the stub, not the program, sets the pace.
  */
final class Stub(threads: Int, throttle: String => Boolean, reject: String => Boolean) {
  System.setProperty("sun.net.httpserver.nodelay", "true")

  val acks = new ConcurrentHashMap[String, Integer]()
  private val attempts = new ConcurrentHashMap[Integer, Integer]()
  val posts, throttled, rejected, bytes, busyNs = new LongAdder

  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.setExecutor(pool)
  server.createContext("/_bulk", (ex: HttpExchange) => handle(ex))
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def reset(): Unit = {
    acks.clear(); attempts.clear()
    Seq(posts, throttled, rejected, bytes, busyNs).foreach(_.reset())
  }

  def stop(): Unit = { server.stop(0); pool.shutdownNow(); () }

  private def reply(ex: HttpExchange, code: Int, body: String): Unit = {
    val b = body.getBytes(UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(code, b.length.toLong)
    val os = ex.getResponseBody
    os.write(b); os.close()
  }

  /** The `_id` of each action in an NDJSON `_bulk` body (meta line, then
    * source line, per action). */
  private def ids(text: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var at = 0
    while (at < text.length) {
      val idAt = text.indexOf("\"_id\":\"", at) + 7
      out += text.substring(idAt, text.indexOf('"', idAt))
      val metaEnd = text.indexOf('\n', idAt)
      val sourceEnd = text.indexOf('\n', metaEnd + 1)
      at = if (sourceEnd < 0) text.length else sourceEnd + 1
    }
    out.result()
  }

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    try {
      val body = ex.getRequestBody.readAllBytes()
      posts.increment(); bytes.add(body.length.toLong)
      val attempt: Int = attempts.merge(java.util.Arrays.hashCode(body), 1, (a: Integer, b: Integer) => a + b)
      val actions = ids(new String(body, UTF_8))
      if (attempt == 1 && actions.exists(throttle)) {
        throttled.increment()
        reply(ex, 429, """{"error":"es_rejected_execution_exception","status":429}""")
      } else {
        val items = actions.map { id =>
          if (reject(id)) {
            rejected.increment()
            """{"index":{"status":400,"error":{"type":"mapper_parsing_exception","reason":"rejected by stub"}}}"""
          } else {
            acks.merge(id, 1, (a: Integer, b: Integer) => a + b)
            """{"index":{"status":201}}"""
          }
        }
        reply(ex, 200,
          if (actions.exists(reject)) s"""{"took":0,"errors":true,"items":[${items.mkString(",")}]}"""
          else """{"took":0,"errors":false,"items":[]}""")
      }
    } finally {
      ex.close()
      busyNs.add(System.nanoTime() - t0)
    }
  }
}
