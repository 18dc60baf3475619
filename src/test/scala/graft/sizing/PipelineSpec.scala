package graft.sizing

import graft.SparkTestBase
import java.nio.file.Files
import org.apache.spark.sql.functions.{col, lit}

/** End-to-end EP1 golden test (SURVEY §5.3): CSV fixture → sinks + report,
  * every number hand-computed from the reference formulas.
  *
  * Fixture (defaults: cache/scratch 1000 GB, mem 200 GB, 16 vcores,
  * cpu_adj 80 → parallel_factor 16, pod_limit 100):
  *  - q1: ratios data 3.0, mem 2.5, cpu 0.2, spill 1.5 → pod 3, kept
  *  - q2: ratios 0.5/0.5/0.05/0 → pod 1, kept; overlaps q1 on [5s,10s)
  *  - q3: cache 150000 GB → ratio 150 > 100 → pruned
  *  - q4: missing reqd_agg_mem → skipped
  */
class PipelineSpec extends SparkTestBase {

  private val csv =
    """query_id,pool,start_time,end_time,duration_millis,reqd_cache_gb,reqd_agg_mem,memory_spilled_gb,cpu_time_sec,query_type,admission_wait,num_backends
      |q1,etl,2021-07-12T00:00:00.000Z,2021-07-12T00:00:10.000Z,10000,3000,500,1500,40,QUERY,0,2
      |q2,bi,2021-07-12T00:00:05.000Z,2021-07-12T00:00:15.000Z,10000,500,100,0,10,QUERY,0,1
      |q3,etl,2021-07-12T00:01:00.000Z,2021-07-12T00:01:10.000Z,10000,150000,1,0,1,QUERY,0,1
      |q4,etl,2021-07-12T00:02:00.000Z,2021-07-12T00:02:10.000Z,10000,1,,0,1,QUERY,0,1
      |""".stripMargin

  /** `Pipeline.run` with default settings over `text` as the querylog CSV,
    * in a fresh directory; returns the report and the directory.
    */
  private def runCsv(text: String): (SizingReport, java.io.File) = {
    val dir = tempDir("graft-pipeline").toFile
    val in = new java.io.File(dir, "querylog.csv")
    Files.writeString(in.toPath, text)
    val cfg = SizingConfig(inputFile = Some(in.getAbsolutePath))
    (Pipeline.run(spark, cfg, dir.getAbsolutePath), dir)
  }

  private lazy val (report, outDir) = runCsv(csv)

  test("individual query analysis numbers") {
    assert(report.totalQueries == 3) // kept 2 + pruned 1, skip excluded (Q10)
    assert(report.totalQueryTimeSec == 20.0) // kept only
    assert(report.maxPodsQueryId == "q1")
    assert(report.maxBackends == 2)
    assert(report.maxVcores == 2.0)
    assert(report.maxMem == 250.0)
    assert(report.maxData == 1500.0)
    assert(report.maxDataRate == 150.0)
    assert(report.maxSpill == 750.0)
    assert(report.pools == Seq("bi", "etl"))
    assert(report.pruneCount == 1)
  }

  test("concurrency analysis: q1/q2 overlap window") {
    assert(report.maxConcurrentQueries == 2)
    assert(report.maxPodsWorkload == 3.5) // 3.0 + 0.5 un-ceiled ratios
    assert(report.maxConcurrentMemory == 350.0) // 250 + 100
    assert(report.maxConcurrentCache == 2000.0) // 1500 + 500
    assert(report.maxConcurrentCores == 3.0) // 2 + 1
    assert(report.maxConcurrentDataRate == 200.0) // 150 + 50
    assert(report.maxConcurrentSpill == 750.0)
    val q2start = java.time.Instant.parse("2021-07-12T00:00:05Z")
    assert(report.maxPodsWorkloadStartUs == q2start.toEpochMilli * 1000)
  }

  test("cluster sizing + matrix + constrained-by") {
    assert(report.minExecutorPodWorkload == 3)
    assert(report.tsizeWorkload == "SMALL")
    assert(report.constrainedBy == Seq("cache", "mem")) // fixed order (Q13)
    assert(report.matrix("SMALL") ==
      Map("count" -> 1L, "cache" -> 1L, "mem" -> 1L, "cpu" -> 0L, "spill" -> 0L))
    assert(report.matrix("XSMALL") ==
      Map("count" -> 1L, "cache" -> 1L, "mem" -> 1L, "cpu" -> 2L, "spill" -> 2L))
  }

  test("utilization percentages (A7)") {
    assert(report.utilizationPct("mem") == 50.0) // 6000/(3*200*20)
    assert(report.utilizationPct("cache") == 100.0 * 35000 / (3 * 1000 * 20))
    assert(report.utilizationPct("cpu") == 100.0 * 50 / (3 * 16 * 20))
    assert(report.utilizationPct("spill") == 25.0)
  }

  test("sinks: main/prune/skip files with reference-compatible headers") {
    val main = spark.read.option("header", "true")
      .csv(s"$outDir/sizing_output.csv")
    assert(main.count() == 2)
    assert(main.columns.toSeq == Seq("query_id", "pool", "start_time",
      "end_time", "duration_millis", "reqd_cache_gb", "min_exec_pod_cache",
      "tsize_cache", "reqd_agg_mem", "min_exec_pod_mem", "tsize_mem",
      "cpu_time_sec", "query_sla_sec", "reqd_parallelism_cpu",
      "min_exec_pod_cpu", "tsize_cpu", "memory_spilled_gb",
      "in_executor_pod_spill", "tsize_spill", "min_executor_pod",
      "recommended_tsize", "query_type", "admission_wait", "num_backends"))
    val q1 = main.filter(main("query_id") === "q1").head()
    assert(q1.getAs[String]("min_executor_pod") == "3")
    assert(q1.getAs[String]("recommended_tsize") == "SMALL")
    assert(q1.getAs[String]("tsize_cpu") == "XSMALL")

    val prune = spark.read.option("header", "true")
      .csv(s"$outDir/sizing_pruned.csv")
    assert(prune.select("query_id").collect().map(_.getString(0)).toSeq
      == Seq("q3"))

    val skip = spark.read.text(s"$outDir/skipped_queries.txt")
      .collect().map(_.getString(0))
    assert(skip.toSeq ==
      Seq("q4|10000|2021-07-12T00:02:00.000Z|2021-07-12T00:02:10.000Z"))
  }

  test("a row with missing end_time cannot corrupt the sweep-line") {
    // q2's end event would otherwise sort at the null instant (before
    // every start) and push the running sums negative
    val dir = tempDir("graft-nullend").toFile
    val in = new java.io.File(dir, "querylog.csv")
    Files.writeString(in.toPath,
      """query_id,pool,start_time,end_time,duration_millis,reqd_cache_gb,reqd_agg_mem,memory_spilled_gb,cpu_time_sec,query_type,admission_wait,num_backends
        |q1,etl,2021-07-12T00:00:00.000Z,2021-07-12T00:00:10.000Z,10000,3000,500,0,40,QUERY,0,2
        |q2,etl,2021-07-12T00:00:05.000Z,,10000,500,100,0,10,QUERY,0,1
        |""".stripMargin)
    val cfg = SizingConfig(inputFile = Some(in.getAbsolutePath))
    val r = Pipeline.run(spark, cfg, dir.getAbsolutePath)
    // q2 still reaches the main CSV and the aggregates...
    assert(r.totalQueries == 2)
    val main = spark.read.option("header", "true")
      .csv(s"${dir.getAbsolutePath}/sizing_output.csv")
    assert(main.count() == 2)
    // ...but only q1 contributes a well-formed interval to the sweep
    assert(r.maxConcurrentQueries == 1)
    assert(r.maxPodsWorkload == 3.0)
  }

  test("kept rows without a cache or spill value sweep as 0") {
    // REST documents without hdfs_bytes_read / memory_spilled give these
    // NULLs, and a log where no query spilled has no spill delta at all
    val (r, _) = runCsv(csv
      .replace("10000,3000,500,1500,", "10000,,500,,")
      .replace("10000,500,100,0,", "10000,,100,,"))
    assert(r.totalQueries == 3)
    assert(r.maxConcurrentQueries == 2)
    assert(r.maxConcurrentMemory == 350.0)
    assert(r.maxConcurrentCache == 0.0)
    assert(r.maxConcurrentSpill == 0.0)
  }

  test("a kept row with num_backends = 0 shares 0 GB in the sweep") {
    // the reference raises ZeroDivisionError here (SURVEY §2.10 Q9b); one
    // such row must not abort the report: q2's cache/mem/spill shares are 0
    val text = csv.replace("10,QUERY,0,1\n", "10,QUERY,0,0\n")
    assert(text != csv)
    val (r, _) = runCsv(text)
    assert(r.totalQueries == 3)
    assert(r.maxConcurrentQueries == 2)
    assert(r.maxConcurrentMemory == 250.0) // q1's 500 / 2 + q2's 0
    assert(r.maxConcurrentCache == 1500.0) // q1's 3000 / 2 + q2's 0
    assert(r.maxConcurrentSpill == 750.0)
  }

  test("report renders all five sections") {
    val r = report.render
    Seq("Individual Query Analysis", "Concurrent Query Analysis",
      "Cluster Sizing", "Query Counts", "Average Cluster Utilization")
      .foreach(s => assert(r.contains(s), s))
    assert(r.contains("Max Memory Per Node: 250.0 GB")) // Q7 fixed label
  }

  test("a pool name with a comma is one pool") {
    val (r, _) = runCsv(csv.replace("q2,bi,", "q2,\"etl,adhoc\","))
    assert(r.pools == Seq("etl", "etl,adhoc"))
    assert(r.render.linesIterator.filter(_.contains("adhoc")).toSeq ==
      Seq("   etl,adhoc"))
  }

  test("q18's and q19's forms over the kept rows equal the report's") {
    val cfg = SizingConfig()
    val kept = Routing.route(Pipeline.withEventInstants(
      Pipeline.readQuerylogCsv(spark, s"$outDir/querylog.csv")), cfg)
      .filter(col("flow") === "kept")
    val q18 = Aggregates.sizeMatrix(kept)
    assert(q18.dtypes.toSeq == ("tsize" -> "StringType") +:
      Seq("count", "cache", "mem", "cpu", "spill").map(_ -> "LongType"))
    assert(q18.collect().map(r => r.getString(0) ->
      q18.columns.tail.map(d => d -> r.getAs[Long](d)).toMap).toMap ==
      report.matrix)

    val q19 = Aggregates.global(kept).head()
    assert(q19.getAs[Int]("max_backends") == report.maxBackends)
    assert(q19.getAs[String]("max_pods_query_id") == report.maxPodsQueryId)
    assert(q19.getAs[Long]("min_executor_pod_workload") ==
      report.minExecutorPodWorkload)
    assert(q19.getAs[Double]("total_query_time_sec") ==
      report.totalQueryTimeSec)
    assert(Aggregates.utilizationPct(q19, cfg) == report.utilizationPct)
    // the report reads the maxima of the 2dp-rounded averages
    def r2(v: Double) =
      BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq("vcores" -> report.maxVcores, "mem" -> report.maxMem,
      "data" -> report.maxData, "data_rate" -> report.maxDataRate,
      "spill" -> report.maxSpill).foreach { case (s, v) =>
      assert(r2(q19.getAs[Double](s"max_$s")) == v, s)
    }

    assert(Aggregates.sizeMatrix(kept.filter(lit(false))).count() == 0)
  }

  test("a report over the fixture runs five Spark actions") {
    // ONE aggregate pass over the routed log, the three sink writes and
    // the sweep's maxima; the CSV header is read on the driver
    assert(sqlExecutions(runCsv(csv)) == 5)
  }

  /** Every sink's lines by file name ("-" for a missing sink): one copy
    * of the CSV header however many part files carry it, then the rows
    * sorted.
    */
  private def sinkLines(dir: java.io.File): Map[String, Seq[String]] =
    Seq("sizing_output.csv", "sizing_pruned.csv", "skipped_queries.txt")
      .map { f =>
        val p = new java.io.File(dir, f)
        f -> (if (!p.exists()) Seq("-") else {
          val (header, rows) = spark.read.text(p.getPath).collect()
            .map(_.getString(0)).toSeq.partition(_.startsWith("query_id,"))
          header.distinct ++ rows.sorted
        })
      }.toMap

  /** `Pipeline.run` over `write(dir)`'s input path, in a fresh directory. */
  private def runAt(write: java.io.File => String)
      : (SizingReport, java.io.File) = {
    val dir = tempDir("graft-header").toFile
    val cfg = SizingConfig(inputFile = Some(write(dir)))
    (Pipeline.run(spark, cfg, dir.getAbsolutePath), dir)
  }

  private def assertSameAsFixture(run: (SizingReport, java.io.File)) = {
    assert(run._1 == report)
    assert(run._1.render == report.render)
    assert(sinkLines(run._2) == sinkLines(outDir))
  }

  /** The fixture with its columns reordered by `cols` (names may repeat
    * or be new: a new one gets the value "x").
    */
  private def reshaped(cols: Seq[String], quote: Boolean = false): String = {
    val lines = csv.linesIterator.toSeq
    val names = lines.head.split(",").toSeq
    def q(s: String) = if (quote) "\"" + s + "\"" else s
    (cols.map(q).mkString(",") +: lines.tail.map { l =>
      val v = names.zip(l.split(",", -1)).toMap
      cols.map(c => v.getOrElse(c, "x")).mkString(",")
    }).mkString("", "\n", "\n")
  }

  private val fixtureCols = csv.linesIterator.next().split(",").toSeq

  test("header read on the driver: a superset of columns, in any order") {
    val text = reshaped("extra_a" +: fixtureCols.reverse :+ "extra_b")
    assertSameAsFixture(runAt { d =>
      val in = new java.io.File(d, "querylog.csv")
      Files.writeString(in.toPath, text)
      in.getAbsolutePath
    })
  }

  test("header read on the driver: a missing column fails, naming it") {
    val text = reshaped(fixtureCols.filterNot(_ == "reqd_agg_mem"))
    val e = intercept[org.apache.spark.sql.AnalysisException](runAt { d =>
      val in = new java.io.File(d, "querylog.csv")
      Files.writeString(in.toPath, text)
      in.getAbsolutePath
    })
    assert(e.getMessage.contains("reqd_agg_mem"), e.getMessage)
  }

  test("header read on the driver: quoted header names") {
    val text = reshaped(fixtureCols, quote = true)
    assert(text.startsWith("\"query_id\",\"pool\","))
    assertSameAsFixture(runAt { d =>
      val in = new java.io.File(d, "querylog.csv")
      Files.writeString(in.toPath, text)
      in.getAbsolutePath
    })
  }

  test("header read on the driver: a header-only file is a 0-row log") {
    val (r, dir) = runCsv(csv.linesIterator.next() + "\n")
    assert(r == emptyKept(0, Nil, 0))
    assert(sinkLines(dir) == Map(
      "sizing_output.csv" -> Seq(sinkLines(outDir)("sizing_output.csv").head),
      "sizing_pruned.csv" -> Seq("-"), "skipped_queries.txt" -> Seq("-")))
  }

  test("header read on the driver: a directory of part files, each with " +
      "its header") {
    val lines = csv.linesIterator.toSeq
    assertSameAsFixture(runAt { d =>
      val in = new java.io.File(d, "querylog_csv")
      in.mkdir()
      Files.writeString(new java.io.File(in, "_SUCCESS").toPath, "")
      lines.tail.grouped(2).zipWithIndex.foreach { case (rows, i) =>
        Files.writeString(new java.io.File(in, f"part-$i%05d.csv").toPath,
          (lines.head +: rows).mkString("", "\n", "\n"))
      }
      in.getAbsolutePath
    })
  }

  /** The report of a run whose routed log has no kept row: NULL
    * aggregates read as 0, no matrix row, no event to sweep.
    */
  private def emptyKept(n: Long, pools: Seq[String], pruned: Long) =
    SizingReport(totalQueries = n, totalQueryTimeSec = 0.0,
      maxPodsQueryId = null, maxBackends = 0, maxVcores = 0.0, maxData = 0.0,
      maxSpill = 0.0, maxMem = 0.0, maxDataRate = 0.0, pools = pools,
      pruneCount = pruned, podLimit = 100, maxConcurrentQueries = 0,
      maxPodsWorkloadStartUs = 0, maxConcurrentCores = 0.0,
      maxConcurrentCache = 0.0, maxConcurrentSpill = 0.0,
      maxConcurrentMemory = 0.0, maxConcurrentDataRate = 0.0,
      minExecutorPodWorkload = 0, maxPodsWorkload = 0.0,
      tsizeWorkload = "XSMALL", constrainedBy = Nil, matrix = Map.empty,
      utilizationPct = Map("cache" -> 0.0, "mem" -> 0.0, "cpu" -> 0.0,
        "spill" -> 0.0))

  test("every row skipped: an empty report and an empty main sink") {
    val lines = csv.linesIterator.toSeq
    val (r, dir) = runCsv((lines.head +: lines.tail.map(_.split(",", -1)
      .updated(6, "").mkString(","))).mkString("\n"))
    assert(r == emptyKept(0, Nil, 0))
    assert(r.render.contains(
      " Max Concurrent Resources Time: 1970-01-01T00:00:00Z\n"))
    assert(r.render.contains("XSMALL\t\t0\t\t0\t\t\n"))
    val main = spark.read.option("header", "true")
      .csv(s"$dir/sizing_output.csv")
    assert(main.count() == 0)
    assert(!new java.io.File(dir, "sizing_pruned.csv").exists())
    assert(spark.read.text(s"$dir/skipped_queries.txt").count() == 4)
  }

  test("every row pruned: counts and pools only, no sweep") {
    val lines = csv.linesIterator.toSeq
    val (r, dir) = runCsv((lines.head +: lines.tail.map(_.split(",", -1)
      .updated(5, "150000").updated(6, "1").mkString(","))).mkString("\n"))
    assert(r == emptyKept(4, Seq("bi", "etl"), 4))
    assert(r.render.contains(" Queries Over Pod Limit ( 100 ): 4\n"))
    assert(spark.read.option("header", "true")
      .csv(s"$dir/sizing_output.csv").count() == 0)
    assert(spark.read.option("header", "true")
      .csv(s"$dir/sizing_pruned.csv").count() == 4)
    assert(!new java.io.File(dir, "skipped_queries.txt").exists())
  }
}
