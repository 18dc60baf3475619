package graft.ops

import graft.CkptLocalOps
import graft.{QueryModule, Tables, ParityGate}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q97: the DSv2 REST query-log source under the correctness gate
  * (SURVEY §2.1 S4/S5 + §2.3 F2, impala_query_sizing.py:134–165).
  *
  * The one §2.1 source previously verified only by unit specs. Here the
  * REAL ingest path runs end-to-end: a loopback HTTP server (the test
  * double for the remote Cloudera Manager endpoint) serves deterministic
  * API-shaped pages derived from the `events` table, and the library
  * reads them through `spark.read.format(RestQuerylogSource)` with the
  * production `jvm` fetcher — real sockets, real basic auth, real JSON
  * decode, two parallel time slices, offset pagination, AND the adaptive
  * truncation-window cursor (the server truncates any window wider than
  * [[TruncAt]] rows, exactly the py:152–158 protocol). The parity bit
  * asserts the REST-ingested querylog — every document, the
  * missing-metric skip rows included — is SET-EQUAL to the same API
  * frame adapted without the HTTP hop, which is transitive to the
  * oracle-checked sizing surface (q17–q20 run the same adapter shapes).
  * EP2's full run is covered by composition: `Pipeline.runRest` = this
  * gated adapter feeding the same `finish()` that q101 gates end-to-end
  * on the CSV path.
  *
  * Harness note: the driver-side collect builds the SERVER's fixture
  * store (a test double needs its data in memory, like the streaming
  * harnesses' memory sinks); the library-side data path is the
  * distributed DSv2 scan. The eager localCheckpoint pins the fetched
  * pages so the parity subtrees don't re-paginate a stopped server.
  */
object RestGate extends QueryModule {

  private val Cap = 2000 // fixture rows served over HTTP
  private val PageLimit = 128 // rows per page → several pages per slice
  private val TruncAt = 300 // server truncates windows wider than this

  private val User = "sizer"
  private val Pass = "s3cret-fixture"

  /** Responses that carried a truncation warning — observability for the
    * spec: the gate is only meaningful if the adaptive-cursor path
    * genuinely executed (a fixture too small to truncate would pass
    * parity while exercising nothing).
    */
  private[ops] val truncationsServed =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Deterministic API-shaped documents from `events` (same arithmetic
    * style as [[graft.sizing.QuerylogAdapter]]): ISO-instant start/end,
    * the nested string-attributes map the sizing metrics live in, and a
    * ~3% slice of rows MISSING `memory_aggregate_peak` to exercise the
    * skip flow (py:197–200) through the wire.
    *
    * `date_format` renders in the SESSION time zone, and these strings
    * carry a literal 'Z' — they are true UTC instants only when the
    * session is pinned UTC (every battery main does; q101's harness
    * shares the assumption). Asserted here rather than silently
    * mislabeling absolute times under a drifted session.
    */
  private def apiDocs(s: SparkSession, dir: String): DataFrame = {
    require(s.conf.get("spark.sql.session.timeZone") == "UTC",
      "apiDocs renders ISO instants with a literal 'Z'; the session time " +
        "zone must be UTC (battery mains pin it)")
    val GiB = 1073741824L
    def iso(usCol: org.apache.spark.sql.Column) =
      date_format(timestamp_micros(usCol), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
    val full = map(
      lit("pool"), col("event_type"),
      lit("hdfs_bytes_read"), (col("event_id") * 1234567L % 1099511627776L)
        .cast("string"),
      lit("memory_aggregate_peak"), ((col("event_id") % 500 + 1) * GiB / 3)
        .cast("string"),
      lit("memory_spilled"), (col("event_id") % 100 * GiB / 7).cast("string"),
      lit("thread_cpu_time"), ((floor(col("value") * 1000) + 1)
        * (col("user_id") % 5 + 1)).cast("string"),
      lit("admission_wait"), (col("user_id") % 1000).cast("string"),
      lit("num_backends"), (col("user_id") % 7 + 1).cast("string"))
    val noMem = map_filter(full, (k, _) => k =!= "memory_aggregate_peak")
    Tables.load(s, dir, "events")
      .filter(col("event_id") < Cap)
      .select(
        concat(lit("q"), col("event_id")).as("queryId"),
        iso(expr("ts div 1000")).as("startTime"),
        iso(expr("ts div 1000") +
          (floor(col("value") * 1000).cast("long") + 1) * 1000L).as("endTime"),
        (floor(col("value") * 1000).cast("long") + 1).as("durationMillis"),
        lit("FINISHED").as("queryState"),
        concat(lit("u"), (col("user_id") % 7).cast("string")).as("user"),
        lit("QUERY").as("queryType"),
        col("event_type").as("pool"),
        when(col("event_id") % 29 =!= 0, full).otherwise(noMem)
          .as("attributes"))
  }

  private case class Doc(start: java.time.Instant, id: String, json: String)

  /** Loopback CM test double. Per request [from, to, offset, limit]:
    * rows with `from <= startTime < to` sorted by (startTime, queryId);
    * windows wider than [[TruncAt]] rows serve only the NEWEST suffix
    * cut at a distinct-timestamp boundary and carry a truncation warning
    * whose last token is the cut instant (the py:152–158 contract: the
    * client re-reads [from, cut) — suffix and complement partition the
    * window exactly, so the union over the narrowing cascade is complete
    * and duplicate-free). Requires the basic-auth header the source
    * builds from user/passwordFile (S2 under the gate too).
    */
  private def serve(docs: Seq[Doc]): com.sun.net.httpserver.HttpServer = {
    val sorted = docs.sortBy(d => (d.start, d.id)).toIndexedSeq
    val expectAuth = "Basic " + java.util.Base64.getEncoder.encodeToString(
      s"$User:$Pass".getBytes("UTF-8"))
    val srv = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    srv.createContext("/api", { exchange: com.sun.net.httpserver.HttpExchange =>
      def send(code: Int, body: String): Unit = {
        val bytes = body.getBytes("UTF-8")
        exchange.sendResponseHeaders(code, bytes.length)
        val os = exchange.getResponseBody
        try os.write(bytes) finally os.close()
      }
      try {
        val auth = Option(
          exchange.getRequestHeaders.getFirst("Authorization"))
        if (!auth.contains(expectAuth)) send(401, """{"message":"no"}""")
        else {
          val p = Option(exchange.getRequestURI.getRawQuery).getOrElse("")
            .split('&').filter(_.contains('='))
            .map { kv =>
              val i = kv.indexOf('=')
              kv.take(i) -> java.net.URLDecoder.decode(kv.drop(i + 1), "UTF-8")
            }.toMap
          val from = java.time.Instant.parse(p("from"))
          val to = java.time.Instant.parse(p("to"))
          val offset = p("offset").toInt
          val limit = p("limit").toInt
          val window = sorted.filter(d =>
            !d.start.isBefore(from) && d.start.isBefore(to))
          val cutIdx =
            if (window.size <= TruncAt) 0
            else {
              // smallest suffix ≤ TruncAt that starts at a fresh timestamp
              var i = window.size - TruncAt
              while (i < window.size && window(i).start == window(i - 1).start)
                i += 1
              if (i == window.size) 0 else i // one giant tie: serve all
            }
          val visible = window.drop(cutIdx)
          val pageRows = visible.slice(offset, offset + limit)
          val warn =
            if (cutIdx == 0) ""
            else {
              truncationsServed.incrementAndGet()
              s""", "warnings": ["Impala query scan limit reached. Last end time considered is ${window(cutIdx).start}"]"""
            }
          send(200,
            s"""{"queries": [${pageRows.map(_.json).mkString(",")}]$warn}""")
        }
      } catch {
        case e: Throwable => send(500, s"""{"message":"${e.getMessage}"}""")
      } finally exchange.close()
    })
    srv.start()
    srv
  }

  private def q97(s: SparkSession, dir: String): DataFrame = {
    val local = apiDocs(s, dir)
    // ONE collect: (sort keys, rendered JSON doc) per row — the server's
    // backing store. to_json renders the same fields RestJson parses.
    val fixture = local.select(col("startTime"), col("queryId"),
        to_json(struct(local.columns.map(col): _*)).as("doc"))
      .collect()
      .map(r => Doc(java.time.Instant.parse(r.getString(0)),
        r.getString(1), r.getString(2)))
    require(fixture.nonEmpty, "q97: empty events fixture")
    truncationsServed.set(0)
    val from = fixture.map(_.start).min
    val to = fixture.map(_.start).max.plusSeconds(1) // window is [from, to)
    val pw = java.nio.file.Files.createTempFile("q97pw", ".b64")
    val srv = serve(fixture.toSeq)
    val api = try {
      java.nio.file.Files.writeString(pw,
        java.util.Base64.getEncoder.encodeToString(Pass.getBytes("UTF-8")))
      val port = srv.getAddress.getPort
      s.read.format("graft.sources.RestQuerylogSource")
        .option("url", s"http://127.0.0.1:$port/api/impalaQueries")
        .option("from", from.toString).option("to", to.toString)
        .option("limit", PageLimit.toString).option("slices", "2")
        .option("user", User).option("passwordFile", pw.toString)
        .load()
        // eager: pull every page while the server is up; the parity
        // subtrees below then scan the pinned partitions, not the wire
        .ckptLocal()
    } finally {
      srv.stop(0)
      java.nio.file.Files.deleteIfExists(pw)
    }

    // Parity: REST-ingested rows vs the same API frame without the HTTP
    // hop, through the adapter (skip rows included). Set equality via
    // symmetric exceptAll counts — all in-plan, no driver hop.
    val restQ = graft.sources.RestAdapter.toQuerylog(api)
    val twinQ = graft.sources.RestAdapter.toQuerylog(local)
    def diff(a: DataFrame, b: DataFrame, n: String) =
      a.exceptAll(b).agg(count(lit(1)).as(n))
    val bit = diff(restQ, twinQ, "n1")
      .crossJoin(broadcast(diff(twinQ, restQ, "n2")))
      .select((col("n1") === 0 && col("n2") === 0).as("matches_batch"))
    // Reported summary: aggregated from the REST-ingested frame in
    // INTEGER-EXACT units (ms, floored bytes) so the row is
    // hash-stable and the oracle can replay it as pure arithmetic over
    // `events` — double sums of the reference's rounded-GB conversions
    // would be partition-order- and engine-dependent at the ulp level
    // (the q207 drift class), so those stay under the parity bit
    // (rest ≡ twin runs toQuerylog on BOTH sides, same engine), while
    // the hashed surface sticks to integers. Per-row floor(double) IS
    // bit-stable cross-engine: the mem attribute is n·2³⁰/3 computed in
    // IEEE double from exact-in-double operands, and Spark's
    // double→string→double wire round-trip is exact (shortest repr).
    val summary = api
      .filter(map_contains_key(col("attributes"), "memory_aggregate_peak"))
      .groupBy(col("pool"))
      .agg(
        count(lit(1)).as("n_queries"),
        sum(col("durationMillis")).as("sum_duration_ms"),
        sum(expr("CAST(floor(CAST(element_at(attributes, " +
          "'memory_aggregate_peak') AS DOUBLE)) AS BIGINT)"))
          .as("sum_mem_bytes"),
        sum(expr("CAST(element_at(attributes, 'thread_cpu_time') " +
          "AS BIGINT)")).as("sum_cpu_ms"))
    ParityGate(summary.crossJoin(broadcast(bit)), "q97_rest_ingest",
      "matches_batch")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("q97_rest_ingest" -> q97 _)

  // Round-14 conversion (the last one — the battery is now 214/214
  // hard-oracle): the oracle cannot speak HTTP, but q97's expected
  // summary is pure arithmetic over `events` — apiDocs' fixture
  // formulas re-applied, restricted to the survivors (the %29 rows
  // missing memory_aggregate_peak route to the skip flow, gated by the
  // parity bit). The driver hash now proves the DSv2 REST source —
  // real sockets, auth, pagination, adaptive truncation cascade —
  // delivered exactly the arithmetic-predicted rows: any lost page,
  // duplicated window, or corrupted attribute moves a sum.
  private val q97Sql =
    """WITH api AS (
      |  SELECT event_type AS pool,
      |    CAST(floor(value * 1000) AS BIGINT) + 1 AS duration_ms,
      |    CAST((event_id % 500 + 1) * 1073741824 AS DOUBLE) / 3 AS mem_raw,
      |    (CAST(floor(value * 1000) AS BIGINT) + 1) * (user_id % 5 + 1)
      |      AS cpu_ms
      |  FROM events
      |  WHERE event_id < 2000 AND event_id % 29 != 0
      |)
      |SELECT pool, COUNT(*) AS n_queries,
      |  CAST(SUM(duration_ms) AS BIGINT) AS sum_duration_ms,
      |  CAST(SUM(CAST(FLOOR(mem_raw) AS BIGINT)) AS BIGINT)
      |    AS sum_mem_bytes,
      |  CAST(SUM(cpu_ms) AS BIGINT) AS sum_cpu_ms,
      |  TRUE AS matches_batch
      |FROM api GROUP BY pool""".stripMargin

  val oracleSql: Map[String, String] = Map("q97_rest_ingest" -> q97Sql)
}
