package ctbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-JVM RFC 6962 log serving `get-sth` and `get-entries` from
  * pre-encoded entry JSON on the JDK HttpServer, one handler thread per
  * log. The tree head is `head(nowNanos)`: a constant for a fixed
  * backlog, or a function of elapsed time for an open-loop tail. The log
  * counts its own busy time and bytes out, so a run can show the harness
  * is not the bottleneck. */
final class FakeLog(val name: String, entries: Vector[Corpus.Entry],
    @volatile var head: Long => Long) {
  private val encoded: Array[Array[Byte]] = entries.map(e =>
    s"""{"leaf_input":"${e.leafB64}","extra_data":""}""".getBytes(UTF_8)).toArray
  val busyNanos = new AtomicLong
  val bytesOut = new AtomicLong

  def size: Int = encoded.length
  def treeSize(): Long = math.min(head(System.nanoTime()), encoded.length.toLong)

  private val pool = java.util.concurrent.Executors.newSingleThreadExecutor(r => {
    val t = new Thread(r, s"fakelog-$name"); t.setDaemon(true); t
  })
  private val http = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  http.createContext("/", (ex: HttpExchange) => {
    val t0 = System.nanoTime()
    val path = ex.getRequestURI.getPath
    val (code, body) =
      if (path.endsWith("/ct/v1/get-sth")) {
        200 -> s"""{"tree_size":${treeSize()},"timestamp":${System.currentTimeMillis()}}""".getBytes(UTF_8)
      } else if (path.endsWith("/ct/v1/get-entries")) {
        val q = Option(ex.getRequestURI.getQuery).getOrElse("").split("&")
          .flatMap(kv => kv.split("=", 2) match { case Array(k, v) => Some(k -> v); case _ => None }).toMap
        val start = q.get("start").flatMap(_.toLongOption)
        val end = q.get("end").flatMap(_.toLongOption)
        val size = treeSize()
        (start, end) match {
          case (Some(s), Some(e)) if s >= 0 && s <= e && s < size =>
            val out = new java.io.ByteArrayOutputStream()
            out.write("""{"entries":[""".getBytes(UTF_8))
            var i = s
            while (i <= math.min(e, size - 1)) {
              if (i > s) out.write(',')
              out.write(encoded(i.toInt))
              i += 1
            }
            out.write("]}".getBytes(UTF_8))
            200 -> out.toByteArray
          case _ => 400 -> """{"error":"bad range"}""".getBytes(UTF_8)
        }
      } else 404 -> Array.emptyByteArray
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length)
    if (body.nonEmpty) ex.getResponseBody.write(body)
    ex.close()
    bytesOut.addAndGet(body.length)
    busyNanos.addAndGet(System.nanoTime() - t0)
  })
  http.setExecutor(pool)
  http.start()

  val url: String = s"http://127.0.0.1:${http.getAddress.getPort}"

  def stop(): Unit = { http.stop(0); pool.shutdownNow(); () }
}

object FakeLog {
  /** Log-list JSON admitting every log as usable (RFC 3339 interval open). */
  def logList(logs: Seq[FakeLog]): String =
    logs.map(l => s"""{"description":"${l.name}","url":"${l.url}/","state":{"usable":{}}}""")
      .mkString("""{"operators":[{"logs":[""", ",", "]}]}")
}
