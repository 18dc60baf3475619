package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** DSv2 REST source: pagination, termination, the adaptive time-window
  * cursor, slice parallelism, filter pushdown, and the API→querylog
  * adapter — all against deterministic in-memory "servers".
  */
class RestQuerylogSourceSpec extends SparkTestBase {

  private def doc(id: Int, start: String, mem: Boolean = true): String = {
    val attrs =
      if (mem)
        s""""attributes": {"pool": "etl", "hdfs_bytes_read": "1073741824",
           |"memory_aggregate_peak": "2147483648", "memory_spilled": "0",
           |"thread_cpu_time": "1500", "admission_wait": "10",
           |"num_backends": "2"}""".stripMargin
      else """"attributes": {"pool": "etl"}"""
    s"""{"queryId": "q$id", "startTime": "$start",
       |"endTime": "2021-07-12T01:00:00.000Z", "durationMillis": 1000,
       |"queryState": "FINISHED", "user": "u", "queryType": "QUERY",
       |$attrs}""".stripMargin
  }

  private def page(docs: Seq[String], warning: Option[String] = None) = {
    val w = warning.map(t => s""", "warnings": ["$t"]""").getOrElse("")
    s"""{"queries": [${docs.mkString(",")}]$w}"""
  }

  private def params(url: String): Map[String, String] =
    url.dropWhile(_ != '?').drop(1).split('&')
      .map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }
      .toMap

  private def read(fetcherKey: String, opts: Map[String, String] = Map.empty) = {
    var df = spark.read.format("graft.sources.RestQuerylogSource")
      .option("url", "http://cm.example/api/impalaQueries")
      .option("from", "2021-07-12T00:00:00Z")
      .option("to", "2021-07-12T04:00:00Z")
      .option("fetcher", fetcherKey)
    opts.foreach { case (k, v) => df = df.option(k, v) }
    df.load()
  }

  test("paginates with offset until a short warning-free page (py:338)") {
    PageFetcher.register("paged", { url =>
      val off = params(url)("offset").toInt
      off match {
        case 0 => page((1 to 3).map(i => doc(i, "2021-07-12T00:00:01.000Z")))
        case 3 => page(Seq(doc(4, "2021-07-12T00:00:02.000Z")))
        case o => sys.error(s"unexpected offset $o")
      }
    })
    val got = read("paged", Map("limit" -> "3"))
    assert(got.count() == 4)
    assert(got.select("queryId").collect().map(_.getString(0)).sorted.toSeq
      == Seq("q1", "q2", "q3", "q4"))
  }

  test("truncation warning shifts the window end and resets offset (py:152)") {
    // A SHORT page (py: query_count < limit) carrying a warning whose last
    // token is the new `to`; the reader must re-query with
    // to=...T02:00:00Z and offset=0.
    PageFetcher.register("warned", { url =>
      val p = params(url)
      (p("to"), p("offset").toInt) match {
        case ("2021-07-12T04:00:00Z", 0) =>
          page(Seq(doc(1, "2021-07-12T00:00:01.000Z")),
            warning = Some("window truncated to 2021-07-12T02:00:00Z"))
        case ("2021-07-12T02:00:00Z", 0) =>
          page(Seq(doc(3, "2021-07-12T00:00:03.000Z")))
        case other => sys.error(s"unexpected request $other")
      }
    })
    val ids = read("warned", Map("limit" -> "2"))
      .select("queryId").collect().map(_.getString(0)).sorted.toSeq
    assert(ids == Seq("q1", "q3"))
  }

  test("full page with a warning paginates normally (no window re-read)") {
    // py:150–161 shift only fires when query_count < limit; a full page
    // with a warning must advance the offset, NOT reset to offset=0 in a
    // narrowed window (which would re-emit already-returned rows).
    PageFetcher.register("full-warned", { url =>
      val p = params(url)
      (p("to"), p("offset").toInt) match {
        case ("2021-07-12T04:00:00Z", 0) =>
          page((1 to 2).map(i => doc(i, "2021-07-12T00:00:01.000Z")),
            warning = Some("window truncated to 2021-07-12T02:00:00Z"))
        case ("2021-07-12T04:00:00Z", 2) =>
          page(Seq(doc(3, "2021-07-12T00:00:03.000Z")))
        case other => sys.error(s"unexpected request $other")
      }
    })
    val ids = read("full-warned", Map("limit" -> "2"))
      .select("queryId").collect().map(_.getString(0)).sorted.toSeq
    assert(ids == Seq("q1", "q2", "q3"))
  }

  test("non-timestamp warning token does not poison the window cursor") {
    // A short page with an unrelated warning ("disk spill detected on
    // host17"): the last token is not a date, so the reader must keep the
    // configured `to` and terminate/paginate normally instead of sending
    // to=host17 forever after.
    PageFetcher.register("odd-warning", { url =>
      val p = params(url)
      assert(p("to") == "2021-07-12T04:00:00Z", s"poisoned to=${p("to")}")
      p("offset").toInt match {
        // offset advances by the 1 row received, not the limit (2):
        // skipping ahead would drop any row the server still holds
        case 0 => page(Seq(doc(1, "2021-07-12T00:00:01.000Z")),
          warning = Some("disk spill detected on host17"))
        case 1 => page(Seq.empty,
          warning = Some("disk spill detected on host17"))
        case o => sys.error(s"unexpected offset $o")
      }
    })
    val ids = read("odd-warning", Map("limit" -> "2"))
      .select("queryId").collect().map(_.getString(0)).toSeq
    assert(ids == Seq("q1"))
  }

  test("slices fan out into parallel partitions over the window") {
    PageFetcher.register("sliced", { url =>
      val from = params(url)("from")
      page(Seq(doc(from.hashCode.abs % 1000, from)))
    })
    val df = read("sliced", Map("slices" -> "4"))
    assert(df.rdd.getNumPartitions == 4)
    assert(df.select("startTime").distinct().count() == 4)
  }

  test("pool filter and startTime bounds push into the request URL") {
    PageFetcher.register("pushdown", { url =>
      val p = params(url)
      val filter = java.net.URLDecoder.decode(p("filter"), "UTF-8")
      assert(filter == "queryType = QUERY and executing = false and pool = etl")
      assert(p("from") == "2021-07-12T01:00:00Z")
      page(Seq(doc(1, "2021-07-12T01:30:00.000Z")))
    })
    val df = read("pushdown")
      .filter(col("pool") === "etl" &&
        col("startTime") >= "2021-07-12T01:00:00Z")
    assert(df.count() == 1)
    // The scan description carries the effective (pushed) window + pool
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("pool=etl"), scan)
    assert(scan.contains("[2021-07-12T01:00:00Z,"), scan)
  }

  test("non-instant startTime literal stays a residual filter, not a crash") {
    PageFetcher.register("residual", { url =>
      // the pushed window must remain the option-configured one
      assert(params(url)("from") == "2021-07-12T00:00:00Z")
      page(Seq(doc(1, "2021-07-12T00:30:00.000Z"),
        doc(2, "2021-07-13T00:30:00.000Z")))
    })
    // date-only literal: Instant.parse would throw; the source must leave
    // it to Spark instead of claiming the pushdown
    val df = read("residual").filter(col("startTime") >= "2021-07-13")
    assert(df.select("queryId").collect().map(_.getString(0)).toSeq
      == Seq("q2"))
  }

  test("EP2: full REST-mode pipeline run (sinks + report)") {
    PageFetcher.register("ep2", _ =>
      page(Seq(
        doc(2, "2021-07-12T00:00:01.000Z"),
        doc(4, "2021-07-12T00:00:02.000Z"),
        doc(5, "2021-07-12T00:00:03.000Z", mem = false)))) // skipped
    val outDir = tempDir("graft-ep2").toFile.getAbsolutePath
    val report = graft.sizing.Pipeline.runRest(spark,
      graft.sizing.SizingConfig(),
      Map("url" -> "http://cm.example/api/impalaQueries",
        "from" -> "2021-07-12T00:00:00Z", "to" -> "2021-07-12T04:00:00Z",
        "fetcher" -> "ep2"),
      outDir)
    assert(report.totalQueries == 2)
    assert(report.pools == Seq("etl"))
    assert(report.maxConcurrentQueries == 2) // both live until 01:00:00
    val main = spark.read.option("header", "true")
      .csv(s"$outDir/sizing_output.csv")
    assert(main.count() == 2)
    val skip = spark.read.text(s"$outDir/skipped_queries.txt")
      .collect().map(_.getString(0))
    assert(skip.toSeq == Seq(
      "q5|1000|2021-07-12T00:00:03.000Z|2021-07-12T01:00:00.000Z|FINISHED"))
  }

  test("Pipeline.run and runRest release every cache they take") {
    PageFetcher.register("hygiene", _ =>
      page(Seq(doc(1, "2021-07-12T00:00:01.000Z"),
        doc(2, "2021-07-12T00:00:02.000Z", mem = false))))
    val dir = tempDir("graft-hygiene")
    val csv = dir.resolve("querylog.csv")
    java.nio.file.Files.writeString(csv,
      """query_id,pool,start_time,end_time,duration_millis,reqd_cache_gb,reqd_agg_mem,memory_spilled_gb,cpu_time_sec,query_type,admission_wait,num_backends
        |q1,etl,2021-07-12T00:00:00.000Z,2021-07-12T00:00:10.000Z,10000,3000,500,1500,40,QUERY,0,2
        |q2,etl,2021-07-12T00:02:00.000Z,2021-07-12T00:02:10.000Z,10000,1,,0,1,QUERY,0,1
        |""".stripMargin)
    // compare ids, not counts: the context cleaner may drop RDDs that
    // earlier suites left persisted while this test runs
    def cachedIds = spark.sparkContext.getPersistentRDDs.keySet
    val before = cachedIds
    graft.sizing.Pipeline.run(spark,
      graft.sizing.SizingConfig(inputFile = Some(csv.toString)),
      dir.resolve("csv-out").toString)
    assert((cachedIds -- before).isEmpty,
      "Pipeline.run left a persisted RDD behind")
    graft.sizing.Pipeline.runRest(spark, graft.sizing.SizingConfig(),
      Map("url" -> "http://cm.example/api/impalaQueries",
        "from" -> "2021-07-12T00:00:00Z", "to" -> "2021-07-12T04:00:00Z",
        "fetcher" -> "hygiene"),
      dir.resolve("rest-out").toString)
    assert((cachedIds -- before).isEmpty,
      "Pipeline.runRest left a persisted RDD behind")
  }

  test("adapter: unit conversions + missing-metric skip routing (py:189–208)") {
    PageFetcher.register("adapter", _ =>
      page(Seq(doc(1, "2021-07-12T00:00:01.000Z"),
        doc(2, "2021-07-12T00:00:02.000Z", mem = false))))
    val api = read("adapter")
    val q = RestAdapter.toQuerylog(api).head()
    assert(q.getAs[String]("query_id") == "q1")
    assert(q.getAs[Double]("reqd_cache_gb") == 1.0) // 2^30 bytes
    assert(q.getAs[Double]("reqd_agg_mem") == 2.0)
    assert(q.getAs[Double]("cpu_time_sec") == 1.5) // 1500 ms
    assert(q.getAs[Long]("admission_wait") == 10L)
    assert(q.getAs[Int]("num_backends") == 2)
    val sk = RestAdapter.toQuerylog(api)
      .filter(col("reqd_agg_mem").isNull).collect()
    assert(sk.map(_.getAs[String]("query_id")).toSeq == Seq("q2"))
  }
}
