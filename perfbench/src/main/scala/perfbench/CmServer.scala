package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicLong

/** Loopback stand-in for Cloudera Manager's `impalaQueries` endpoint.
  *
  * Serves pre-rendered query documents from memory on 127.0.0.1 with one
  * handler thread, behind basic auth, with the endpoint's contract as
  * the program's REST source reads it:
  *  - `from`/`to` select documents with from ≤ startTime < to;
  *  - `filter` must be `queryType = QUERY and executing = false and
  *    pool = P` (the benchmark always sizes one pool), applied here;
  *  - when a window matches more than `truncateAt` documents, only the
  *    newest ones (startTime ≥ X, about `truncateAt` of them) are served,
  *    and the last, short page carries the warning "... Last end time
  *    considered is X", which moves the client's window end to X;
  *  - pages are `limit` rows at `offset`.
  *
  * Counts requests, distinct request URLs and handler time for the
  * `sources.*` layer metrics.
  */
final class CmServer(rows: Seq[QueryRow], user: String, password: String,
    truncateAt: Int) {

  private val byPool: Map[String, (Array[Long], Array[String])] =
    rows.groupBy(_.pool).map { case (p, qs) =>
      val sorted = qs.sortBy(q => (q.startMs, q.id))
      p -> (sorted.map(_.startMs).toArray, sorted.map(Gen.cmDocument).toArray)
    }

  private val expectedAuth = "Basic " + java.util.Base64.getEncoder
    .encodeToString(s"$user:$password".getBytes(UTF_8))

  val requests = new AtomicLong
  val truncations = new AtomicLong
  val handlerNanos = new AtomicLong
  private val seen = ConcurrentHashMap.newKeySet[String]()
  def distinctPages: Long = seen.size.toLong

  def resetCounters(): Unit = {
    requests.set(0); truncations.set(0); handlerNanos.set(0)
    seen.clear()
  }

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = Executors.newSingleThreadExecutor()
  server.setExecutor(pool)
  server.createContext("/api/v19/clusters/bench/services/impala/impalaQueries",
    (ex: HttpExchange) => handle(ex))
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}" +
    "/api/v19/clusters/bench/services/impala/impalaQueries"

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }

  private def lowerBound(a: Array[Long], v: Long): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m) < v) lo = m + 1 else hi = m }
    lo
  }

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    try {
      requests.incrementAndGet()
      val raw = ex.getRequestURI.getRawQuery
      seen.add(raw)
      if (ex.getRequestHeaders.getFirst("Authorization") != expectedAuth)
        reply(ex, 401, """{"message":"unauthorized"}""")
      else page(raw) match {
        case Right(body) => reply(ex, 200, body)
        case Left(msg) => reply(ex, 400, s"""{"message":"$msg"}""")
      }
    } finally handlerNanos.addAndGet(System.nanoTime() - t0)
  }

  private def page(rawQuery: String): Either[String, String] = {
    val q = rawQuery.split('&').map { kv =>
      val i = kv.indexOf('=')
      kv.take(i) -> URLDecoder.decode(kv.drop(i + 1), UTF_8)
    }.toMap
    val prefix = "queryType = QUERY and executing = false and pool = "
    val filter = q.getOrElse("filter", "")
    val poolSel =
      if (filter.startsWith(prefix))
        Some(byPool.getOrElse(filter.stripPrefix(prefix),
          (Array.empty[Long], Array.empty[String])))
      else None
    poolSel match {
      case None => Left("unsupported filter")
      case Some((starts, docs)) =>
        val from = Instant.parse(q("from")).toEpochMilli
        val to = Instant.parse(q("to")).toEpochMilli
        val limit = q("limit").toInt
        val offset = q("offset").toInt
        val lo = lowerBound(starts, from)
        val hi = lowerBound(starts, to)
        // Truncation: serve only the newest ~truncateAt documents, cut at
        // an instant so that no start instant straddles the cut.
        val (first, cutMs) =
          if (hi - lo > truncateAt) {
            val x = starts(hi - truncateAt)
            (lowerBound(starts, x), Some(x))
          } else (lo, None)
        val pageLo = math.min(hi, first + offset)
        val pageHi = math.min(hi, pageLo + limit)
        val warn = cutMs.filter(_ => pageHi - pageLo < limit).map { x =>
          truncations.incrementAndGet()
          s""","warnings":["Impala query scan limit reached. """ +
            s"""Last end time considered is ${Gen.iso(x)}"]"""
        }.getOrElse("")
        val sb = new StringBuilder("""{"queries":[""")
        var i = pageLo
        while (i < pageHi) {
          if (i > pageLo) sb += ','
          sb ++= docs(i); i += 1
        }
        sb ++= "]" ++= warn ++= "}"
        Right(sb.result())
    }
  }

  private def reply(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }
}
