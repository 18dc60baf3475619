package graft.ops

import graft.CkptLocalOps
import graft.QueryModule
import graft.sizing._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-facing battery for the sizing engine core (SURVEY §2.2–2.6):
  * derivation formulas + bucketing (q17), the size matrix (q18), the
  * global workload aggregates (q19), and the sweep-line concurrency
  * operator (q20) — all over the deterministic events→querylog adapter so
  * DuckDB can oracle-check the full surface. q18 and q19 are
  * [[Aggregates]]' definitions over the kept rows — the same columns the
  * sizing report aggregates — so the oracle checks the report's numbers.
  *
  * q20 is the bucketed [[Concurrency.maxima]]: the oracle's single global
  * window proves it equals the sequential semantics.
  */
object Sizing extends QueryModule {

  private val cfg = SizingConfig() // reference defaults (sizing.conf)
  private val keptLimit = 40 // prune threshold used by q18–q20 (F4 routing)

  private def derived(s: SparkSession, dir: String): DataFrame =
    QuerylogAdapter.derived(s, dir, cfg)

  private def kept(s: SparkSession, dir: String): DataFrame =
    derived(s, dir).filter(col("min_executor_pod") <= keptLimit)

  // --- q17: per-query sizing derivation + t-shirt bucketing --------------
  private def q17(s: SparkSession, dir: String): DataFrame =
    derived(s, dir).select(
      col("query_id"), col("pool"), col("duration_sec"),
      col("min_parallelism"), col("avg_cache_per_node"),
      col("avg_data_rate_per_node"),
      col("min_executor_pod_data"), col("min_executor_pod_mem"),
      col("min_executor_pod_cpu"), col("min_executor_pod_spill"),
      col("min_executor_pod"),
      Bucketing.tsize(col("min_executor_pod")).as("recommended_tsize"))

  private def q17Sql = s"""${QuerylogAdapter.sqlCte(cfg)}
    |SELECT query_id, pool, duration_sec, min_parallelism,
    |       avg_cache_per_node, avg_data_rate_per_node,
    |       min_executor_pod_data, min_executor_pod_mem,
    |       min_executor_pod_cpu, min_executor_pod_spill, min_executor_pod,
    |       ${Bucketing.tsizeSql("min_executor_pod")} AS recommended_tsize
    |FROM sized""".stripMargin

  // --- q18: the (tsize × dimension) count matrix (A5) --------------------
  private def q18(s: SparkSession, dir: String): DataFrame =
    Aggregates.sizeMatrix(kept(s, dir))

  private def q18Sql = s"""${QuerylogAdapter.sqlCte(cfg)}
    |, kept AS (SELECT * FROM sized WHERE min_executor_pod <= $keptLimit)
    |, unpiv AS (
    |  SELECT 'count' AS dimension, ${Bucketing.tsizeSql("min_executor_pod")} AS tsize FROM kept
    |  UNION ALL
    |  SELECT 'cache', ${Bucketing.tsizeSql("min_executor_pod_data")} FROM kept
    |  UNION ALL
    |  SELECT 'mem', ${Bucketing.tsizeSql("min_executor_pod_mem")} FROM kept
    |  UNION ALL
    |  SELECT 'cpu', ${Bucketing.tsizeSql("min_executor_pod_cpu")} FROM kept
    |  UNION ALL
    |  SELECT 'spill', ${Bucketing.tsizeSql("min_executor_pod_spill")} FROM kept
    |)
    |SELECT tsize,
    |  COUNT(*) FILTER (WHERE dimension = 'count') AS "count",
    |  COUNT(*) FILTER (WHERE dimension = 'cache') AS cache,
    |  COUNT(*) FILTER (WHERE dimension = 'mem') AS mem,
    |  COUNT(*) FILTER (WHERE dimension = 'cpu') AS cpu,
    |  COUNT(*) FILTER (WHERE dimension = 'spill') AS spill
    |FROM unpiv GROUP BY tsize""".stripMargin

  // --- q19: global workload aggregates (A1–A4, A6) -----------------------
  private def q19(s: SparkSession, dir: String): DataFrame =
    Aggregates.global(kept(s, dir))

  private def q19Sql = s"""${QuerylogAdapter.sqlCte(cfg)}
    |, kept AS (SELECT * FROM sized WHERE min_executor_pod <= $keptLimit)
    |SELECT
    |  COUNT(*) AS total_queries,
    |  COUNT(DISTINCT pool) AS n_pools,
    |  STRING_AGG(DISTINCT pool, ',' ORDER BY pool) AS pools,
    |  MAX(num_backends) AS max_backends,
    |  MAX(min_parallelism / num_backends) AS max_vcores,
    |  MAX(reqd_agg_mem / num_backends) AS max_mem,
    |  MAX(reqd_cache_gb / num_backends) AS max_data,
    |  MAX((reqd_cache_gb / num_backends) / duration_sec) AS max_data_rate,
    |  MAX(memory_spilled_gb / num_backends) AS max_spill,
    |  (SELECT query_id FROM kept
    |   ORDER BY min_executor_pod DESC, query_id DESC LIMIT 1) AS max_pods_query_id,
    |  MAX(min_executor_pod) AS min_executor_pod_workload,
    |  CAST(SUM(CAST((duration_millis - admission_wait) / 1000.0 AS DECIMAL(38,6))) AS DOUBLE) AS total_query_time_sec,
    |  CAST(SUM(CAST(reqd_agg_mem * duration_sec AS DECIMAL(38,6))) AS DOUBLE) AS util_mem_gb_sec,
    |  CAST(SUM(CAST(cpu_time_sec AS DECIMAL(38,6))) AS DOUBLE) AS util_cpu_sec,
    |  CAST(SUM(CAST(reqd_cache_gb * duration_sec AS DECIMAL(38,6))) AS DOUBLE) AS util_cache_gb_sec,
    |  CAST(SUM(CAST(memory_spilled_gb * duration_sec AS DECIMAL(38,6))) AS DOUBLE) AS util_spill_gb_sec
    |FROM kept""".stripMargin

  // --- q20: sweep-line concurrency maxima (E1–E6) ------------------------
  private def q20(s: SparkSession, dir: String): DataFrame = {
    val r = Concurrency.maxima(kept(s, dir), Concurrency.integerDeltas)
    s.createDataFrame(java.util.List.of(r), r.schema)
  }

  // private[ops]: q73's oracle wraps this (stream maxima ≡ batch maxima)
  private[ops] def q20Sql = s"""${QuerylogAdapter.sqlCte(cfg)}
    |, kept AS (SELECT * FROM sized WHERE min_executor_pod <= $keptLimit)
    |, ev AS (
    |  SELECT query_id, admitted_us AS ts_us, 1 AS kind,
    |         CAST(1 AS BIGINT) AS d_count, min_executor_pod AS d_pods,
    |         cache_b_per_backend AS d_cache_b, mem_b_per_backend AS d_mem_b,
    |         cpu_mv_per_backend AS d_cpu_mv, spill_b_per_backend AS d_spill_b
    |  FROM kept
    |  UNION ALL
    |  SELECT query_id, end_us, 0, CAST(-1 AS BIGINT), -min_executor_pod,
    |         -cache_b_per_backend, -mem_b_per_backend,
    |         -cpu_mv_per_backend, -spill_b_per_backend
    |  FROM kept
    |), scanned AS (
    |  SELECT *,
    |    SUM(d_count) OVER w AS run_count,
    |    SUM(d_pods) OVER w AS run_pods,
    |    SUM(d_cache_b) OVER w AS run_cache_b,
    |    SUM(d_mem_b) OVER w AS run_mem_b,
    |    SUM(d_cpu_mv) OVER w AS run_cpu_mv,
    |    SUM(d_spill_b) OVER w AS run_spill_b
    |  FROM ev
    |  WINDOW w AS (ORDER BY ts_us, kind, query_id
    |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    |)
    |SELECT
    |  CAST(MAX(run_count) AS BIGINT) AS max_concurrent_queries,
    |  CAST(MAX(run_pods) AS BIGINT) AS max_concurrent_pods,
    |  CAST(MAX(run_cache_b) AS BIGINT) AS max_concurrent_cache_b,
    |  CAST(MAX(run_mem_b) AS BIGINT) AS max_concurrent_mem_b,
    |  CAST(MAX(run_cpu_mv) AS BIGINT) AS max_concurrent_cpu_mv,
    |  CAST(MAX(run_spill_b) AS BIGINT) AS max_concurrent_spill_b,
    |  (SELECT ts_us FROM scanned WHERE d_count > 0
    |   ORDER BY run_pods DESC, ts_us DESC LIMIT 1) AS max_pods_at_us
    |FROM scanned WHERE d_count > 0""".stripMargin

  // --- q101: the FULL CSV pipeline (EP1/EP3) under the oracle --------------
  // The end-to-end run a reference user performs: a querylog CSV in,
  // `Pipeline.run` (S3 read → P derivation → F2 skip + F4 prune routing →
  // K1–K3 sinks → K4 report), every number READ BACK FROM THE WRITTEN
  // SINKS or taken from the assembled report — so the CSV write+read
  // round trip, the routing, and the report aggregates (A1/A6/A7/A9,
  // previously spec-only) are all hash-checked against DuckDB
  // recomputing the same workload from `events` directly. The input CSV
  // is generated from the deterministic events→querylog adapter with
  // timestamps rendered as strings (the reference's pass-through
  // contract) and every 31st row missing `reqd_agg_mem` to drive the F2
  // skip flow through the sink.
  //
  // Oracle-excluded by design: the decimal sweep maxima
  // (max_concurrent_cache/mem/…) — their DECIMAL(38,9) quantization of
  // doubles is engine-specific rounding at the 9th digit; they stay
  // covered by PipelineSpec's golden run. max_concurrent_queries IS
  // included: pure integer deltas, tiebreak-invariant.
  private val e2eLimit = 40 // podLimit: prunes the 40 < pods <= 48 tail

  private def q101(s: SparkSession, dir: String): DataFrame = {
    val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    def ts(usCol: String) =
      date_format(expr(s"timestamp_micros($usCol)"), fmt)
    val tmp = java.nio.file.Files.createTempDirectory("graft-q101-")
    val result = try {
      val base = QuerylogAdapter.withUnits(
        QuerylogAdapter.fromEvents(s, dir))
      val csvIn = base.select(
        col("query_id").cast("string").as("query_id"),
        col("pool"),
        ts("start_us").as("start_time"),
        ts("end_us").as("end_time"),
        col("duration_millis"),
        col("reqd_cache_gb"),
        when(col("query_id") % 31 === 0, lit(null).cast("double"))
          .otherwise(col("reqd_agg_mem")).as("reqd_agg_mem"),
        col("memory_spilled_gb"),
        col("cpu_time_sec"),
        lit("QUERY").as("query_type"),
        col("admission_wait"),
        col("num_backends"))
      val inPath = s"$tmp/querylog_csv"
      csvIn.write.option("header", "true").mode("overwrite").csv(inPath)

      val e2eCfg = SizingConfig(podLimit = e2eLimit,
        inputFile = Some(inPath))
      val outDir = s"$tmp/out"
      val report = Pipeline.run(s, e2eCfg, outDir)

      // Every count/sum below reads the WRITTEN sinks, not the in-memory
      // frames — the round trip is the thing under test. Absent prune
      // sink = zero rows (the reference's lazy-creation contract).
      def linesIn(path: String, read: String => DataFrame): Long =
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
          read(path).count()
        else 0L
      val main = s.read.option("header", "true")
        .csv(s"$outDir/${e2eCfg.outputFile}")
      val prunedN = linesIn(s"$outDir/${e2eCfg.pruneOutputFile}",
        p => s.read.option("header", "true").csv(p))
      val skippedN = linesIn(s"$outDir/${e2eCfg.skipQueryFile}",
        p => s.read.text(p))

      val u = report.utilizationPct
      val aggs =
        Seq(
          count(lit(1)).as("n_kept"),
          sum(col("duration_millis").cast("long")).as("kept_duration_ms"),
          sum(col("min_executor_pod").cast("long")).as("kept_pods")) ++
        Seq("XSMALL", "SMALL", "MEDIUM", "LARGE", "CUSTOM").map(t =>
          sum(when(col("recommended_tsize") === t, 1L).otherwise(0L))
            .as(s"n_${t.toLowerCase}"))
      main.agg(aggs.head, aggs.tail: _*)
        .withColumn("n_pruned", lit(prunedN))
        .withColumn("n_skipped", lit(skippedN))
        .withColumn("total_queries", lit(report.totalQueries))
        .withColumn("pools", lit(report.pools.mkString(",")))
        .withColumn("max_pods_query_id", lit(report.maxPodsQueryId))
        .withColumn("min_executor_pod_workload",
          lit(report.minExecutorPodWorkload))
        .withColumn("tsize_workload", lit(report.tsizeWorkload))
        .withColumn("constrained_by",
          lit(report.constrainedBy.mkString(" ")))
        .withColumn("total_query_time_sec", lit(report.totalQueryTimeSec))
        .withColumn("max_concurrent_queries",
          lit(report.maxConcurrentQueries))
        .withColumn("util_cache_pct", lit(u("cache")))
        .withColumn("util_mem_pct", lit(u("mem")))
        .withColumn("util_cpu_pct", lit(u("cpu")))
        .withColumn("util_spill_pct", lit(u("spill")))
        // eager: pin the 1-row result before the sinks are deleted
        .ckptLocal()
    } finally graft.Fs.deleteRecursively(tmp)
    result
  }

  private def q101Sql: String = {
    val cfg40 = SizingConfig(podLimit = e2eLimit)
    val skipMod = 31
    s"""${QuerylogAdapter.sqlCte(cfg40, s"WHERE event_id % $skipMod <> 0")}
      |, kept AS (SELECT * FROM sized WHERE min_executor_pod <= $e2eLimit)
      |, pruned AS (SELECT * FROM sized WHERE min_executor_pod > $e2eLimit)
      |, matrix AS (
      |  SELECT
      |    COUNT(*) FILTER (WHERE ${Bucketing.tsizeSql("min_executor_pod_data")}
      |      = (SELECT ${Bucketing.tsizeSql("MAX(min_executor_pod)")} FROM kept)) AS c_cache,
      |    COUNT(*) FILTER (WHERE ${Bucketing.tsizeSql("min_executor_pod_mem")}
      |      = (SELECT ${Bucketing.tsizeSql("MAX(min_executor_pod)")} FROM kept)) AS c_mem,
      |    COUNT(*) FILTER (WHERE ${Bucketing.tsizeSql("min_executor_pod_cpu")}
      |      = (SELECT ${Bucketing.tsizeSql("MAX(min_executor_pod)")} FROM kept)) AS c_cpu,
      |    COUNT(*) FILTER (WHERE ${Bucketing.tsizeSql("min_executor_pod_spill")}
      |      = (SELECT ${Bucketing.tsizeSql("MAX(min_executor_pod)")} FROM kept)) AS c_spill
      |  FROM kept
      |), agg AS (
      |  SELECT
      |    CAST(MAX(min_executor_pod) AS BIGINT) AS pod_wl,
      |    CAST(SUM(CAST((duration_millis - admission_wait) / 1000.0
      |      AS DECIMAL(38,6))) AS DOUBLE) AS tqt,
      |    CAST(SUM(CAST(reqd_agg_mem * duration_sec AS DECIMAL(38,6)))
      |      AS DOUBLE) AS u_mem,
      |    CAST(SUM(CAST(cpu_time_sec AS DECIMAL(38,6))) AS DOUBLE) AS u_cpu,
      |    CAST(SUM(CAST(reqd_cache_gb * duration_sec AS DECIMAL(38,6)))
      |      AS DOUBLE) AS u_cache,
      |    CAST(SUM(CAST(memory_spilled_gb * duration_sec AS DECIMAL(38,6)))
      |      AS DOUBLE) AS u_spill
      |  FROM kept
      |), conc AS (
      |  SELECT CAST(MAX(run_count) AS BIGINT) AS max_conc FROM (
      |    SELECT d_count, SUM(d_count) OVER (
      |      ORDER BY ts_us, kind, CAST(query_id AS VARCHAR)
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_count
      |    FROM (
      |      SELECT CAST(query_id AS VARCHAR) AS query_id,
      |             admitted_us AS ts_us, 1 AS kind, 1 AS d_count FROM kept
      |      UNION ALL
      |      SELECT CAST(query_id AS VARCHAR), end_us, 0, -1 FROM kept
      |    )
      |  ) WHERE d_count > 0
      |)
      |SELECT
      |  (SELECT COUNT(*) FROM kept) AS n_kept,
      |  (SELECT CAST(SUM(duration_millis) AS BIGINT) FROM kept)
      |    AS kept_duration_ms,
      |  (SELECT CAST(SUM(min_executor_pod) AS BIGINT) FROM kept)
      |    AS kept_pods,
      |  (SELECT COUNT(*) FROM kept
      |   WHERE ${Bucketing.tsizeSql("min_executor_pod")} = 'XSMALL')
      |    AS n_xsmall,
      |  (SELECT COUNT(*) FROM kept
      |   WHERE ${Bucketing.tsizeSql("min_executor_pod")} = 'SMALL')
      |    AS n_small,
      |  (SELECT COUNT(*) FROM kept
      |   WHERE ${Bucketing.tsizeSql("min_executor_pod")} = 'MEDIUM')
      |    AS n_medium,
      |  (SELECT COUNT(*) FROM kept
      |   WHERE ${Bucketing.tsizeSql("min_executor_pod")} = 'LARGE')
      |    AS n_large,
      |  (SELECT COUNT(*) FROM kept
      |   WHERE ${Bucketing.tsizeSql("min_executor_pod")} = 'CUSTOM')
      |    AS n_custom,
      |  (SELECT COUNT(*) FROM pruned) AS n_pruned,
      |  (SELECT COUNT(*) FROM events WHERE event_id % $skipMod = 0)
      |    AS n_skipped,
      |  (SELECT COUNT(*) FROM sized) AS total_queries,
      |  (SELECT STRING_AGG(DISTINCT pool, ',' ORDER BY pool) FROM sized)
      |    AS pools,
      |  (SELECT CAST(query_id AS VARCHAR) FROM kept
      |   ORDER BY min_executor_pod DESC, CAST(query_id AS VARCHAR) DESC
      |   LIMIT 1) AS max_pods_query_id,
      |  (SELECT pod_wl FROM agg) AS min_executor_pod_workload,
      |  (SELECT ${Bucketing.tsizeSql("pod_wl")} FROM agg) AS tsize_workload,
      |  (SELECT RTRIM(
      |     CASE WHEN c_cache > 0 THEN 'cache ' ELSE '' END ||
      |     CASE WHEN c_mem > 0 THEN 'mem ' ELSE '' END ||
      |     CASE WHEN c_cpu > 0 THEN 'cpu ' ELSE '' END ||
      |     CASE WHEN c_spill > 0 THEN 'spill ' ELSE '' END)
      |   FROM matrix) AS constrained_by,
      |  (SELECT tqt FROM agg) AS total_query_time_sec,
      |  (SELECT max_conc FROM conc) AS max_concurrent_queries,
      |  (SELECT 100.0 * u_cache / (pod_wl * ${cfg40.cacheGbPerNode} * tqt)
      |   FROM agg) AS util_cache_pct,
      |  (SELECT 100.0 * u_mem / (pod_wl * ${cfg40.queryMemPerNode} * tqt)
      |   FROM agg) AS util_mem_pct,
      |  (SELECT 100.0 * u_cpu / (pod_wl * ${cfg40.vcoresPerNode}.0 * tqt)
      |   FROM agg) AS util_cpu_pct,
      |  (SELECT 100.0 * u_spill / (pod_wl * ${cfg40.scratchGbPerNode} * tqt)
      |   FROM agg) AS util_spill_pct""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q101_pipeline_e2e" -> q101 _,
    "q17_sizing_derive" -> q17 _,
    "q18_sizing_matrix" -> q18 _,
    "q19_sizing_agg" -> q19 _,
    "q20_sweepline" -> q20 _)

  val oracleSql: Map[String, String] = Map(
    "q101_pipeline_e2e" -> q101Sql,
    "q17_sizing_derive" -> q17Sql,
    "q18_sizing_matrix" -> q18Sql,
    "q19_sizing_agg" -> q19Sql,
    "q20_sweepline" -> q20Sql)
}
