package graft.sizing

import com.univocity.parsers.csv.CsvParser
import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** End-to-end sizing pipeline (SURVEY §3 EP1/EP3): querylog CSV → derive →
  * route → CSV sinks → aggregates + sweep-line → report.
  *
  * This is the engine's equivalent of `python impala_query_sizing.py
  * sizing.conf` — same inputs, same output files, same report numbers,
  * expressed as one declarative Spark plan per output instead of a
  * row-at-a-time loop.
  */
object Pipeline {

  /** CSV-mode querylog source (SURVEY §2.1 S3, py:128–131 + 172–187).
    *
    * The reference's DictReader selects columns BY NAME, so the input may
    * carry any superset of the 12 required columns (its own example input
    * is a previous run's 24-column output). We mirror that: the header is
    * read on the driver ([[csvHeader]]) and passed as an all-string
    * schema, which costs no Spark execution; then the columns of
    * [[Model.querylogSchema]] are selected and cast by name — extra
    * columns are dropped, missing ones fail analysis (same as a KeyError).
    * The instants stay strings; [[withEventInstants]] parses them.
    */
  def readQuerylogCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("mode", "PERMISSIVE")
      .schema(StructType(csvHeader(spark, path).map(StructField(_, StringType))))
      .csv(path)
      .select(Model.querylogSchema.map(f =>
        col(f.name).cast(f.dataType).as(f.name)) :+
        // the skip line's API-mode state field (RestAdapter.toQuerylog)
        lit(null).cast("string").as("query_state"): _*)

  /** The column names in the first line of `path`'s first data file (a
    * file, a directory of part files or a glob; names starting `_` or `.`
    * are not data, as in Spark's file listing), parsed with Spark's own
    * CSV settings through the Hadoop FS; empty when there is no line.
    */
  private def csvHeader(spark: SparkSession, path: String)
      : Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val glob = new Path(path)
    val fs = glob.getFileSystem(conf)
    val files = Option(fs.globStatus(glob)).toSeq.flatten
      .flatMap(s => if (s.isDirectory) fs.listStatus(s.getPath).toSeq else Seq(s))
      .filter(s => s.isFile && s.getLen > 0 &&
        !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      .map(_.getPath).sortBy(_.toString)
    files.headOption.toSeq.flatMap { f =>
      val codec = new CompressionCodecFactory(conf).getCodec(f)
      val raw = fs.open(f)
      val in = new BufferedReader(new InputStreamReader(
        if (codec == null) raw else codec.createInputStream(raw),
        StandardCharsets.UTF_8))
      try Iterator.continually(in.readLine()).takeWhile(_ != null)
        .find(_.trim.nonEmpty).toSeq.flatMap { line =>
          val opts = new CSVOptions(Map("header" -> "true"),
            columnPruning = false, spark.conf.get("spark.sql.session.timeZone"))
          new CsvParser(opts.asParserSettings).parseLine(line).toSeq
        }
      finally in.close()
    }
  }

  /** Admitted/end instants in µs since epoch (SURVEY §2.6 E2, py:307–310).
    *
    * Q5 stance: true timestamp arithmetic — `admitted = start + wait_ms`,
    * sub-second precision kept — instead of the reference's
    * floor-to-second shift and mixed-format string sort keys.
    */
  def withEventInstants(df: DataFrame): DataFrame = {
    def us(c: Column): Column =
      unix_micros(to_timestamp(regexp_replace(c, "Z$", "")))
    df.withColumn("admitted_us",
        us(col("start_time")) + col("admission_wait") * 1000)
      .withColumn("end_us", us(col("end_time")))
  }

  /** The reference's 24 output columns in order (py:120), including the
    * `in_executor_pod_spill` header typo — byte-compatible headers so a
    * reference user's downstream tooling reads our CSV unchanged.
    */
  def outputRow(derived: DataFrame): DataFrame =
    derived.select(
      col("query_id"),
      col("pool"),
      col("start_time"),
      col("end_time"),
      col("duration_millis"),
      col("reqd_cache_gb"),
      col("min_executor_pod_data").as("min_exec_pod_cache"),
      Bucketing.tsize(col("min_executor_pod_data")).as("tsize_cache"),
      col("reqd_agg_mem"),
      col("min_executor_pod_mem").as("min_exec_pod_mem"),
      Bucketing.tsize(col("min_executor_pod_mem")).as("tsize_mem"),
      col("cpu_time_sec"),
      round(col("duration_sec"), 2).as("query_sla_sec"),
      col("min_parallelism").as("reqd_parallelism_cpu"),
      col("min_executor_pod_cpu").as("min_exec_pod_cpu"),
      Bucketing.tsize(col("min_executor_pod_cpu")).as("tsize_cpu"),
      col("memory_spilled_gb"),
      col("min_executor_pod_spill").as("in_executor_pod_spill"),
      Bucketing.tsize(col("min_executor_pod_spill")).as("tsize_spill"),
      col("min_executor_pod"),
      Bucketing.tsize(col("min_executor_pod")).as("recommended_tsize"),
      col("query_type"),
      col("admission_wait"),
      col("num_backends"))

  /** The report's sweep payload (py:311–333): UN-ceiled pods, per-backend
    * GB shares, avg vcores, data rate. Doubles are carried as
    * DECIMAL(38,9) so distributed partial sums are exact and
    * order-independent; rendered values round to 2dp, far below the 1e-9
    * quantization. A row with `num_backends` = 0 shares 0 GB (Q9's
    * [[Formulas.safeDiv]] guard, as its per-node averages), where the
    * reference raises ZeroDivisionError (py:223–227).
    */
  private[sizing] val reportDeltas: Seq[(String, Column)] = {
    def dec(c: Column): Column = c.cast("decimal(38,9)")
    Seq(
      "pods" -> dec(greatest(col("ratio_data"), col("ratio_mem"),
        col("ratio_cpu"), col("ratio_spill"))),
      "cache" -> dec(Formulas.safeDiv(col("reqd_cache_gb"),
        col("num_backends"))),
      "mem" -> dec(Formulas.safeDiv(col("reqd_agg_mem"), col("num_backends"))),
      "cpu" -> dec(col("avg_vcores_per_node")),
      "data_rate" -> dec(col("avg_data_rate_per_node")),
      "spill" -> dec(Formulas.safeDiv(col("memory_spilled_gb"),
        col("num_backends"))))
  }

  /** Full run: reads `cfg.inputFile`, writes the three sinks under
    * `outDir` (SURVEY §2.7 K1–K3), computes the report (K4).
    *
    * Sink deviations (doc'd): distributed CSV writes are directories of
    * part files with minimal quoting (vs the reference's single
    * QUOTE_NONNUMERIC file); the skip file is one id|duration|start|end
    * line per row, |state appended in API mode (the reference abuses a
    * csv writer into a single newline-delimited cell, py:341–344).
    */
  def run(spark: SparkSession, cfg: SizingConfig, outDir: String)
      : SizingReport = {
    val path = cfg.inputFile.getOrElse(
      sys.error("input_file is required for CSV mode; use runRest for API mode"))
    finish(cfg, readQuerylogCsv(spark, path), outDir)
  }

  /** EP2 (API mode, py:134–165 + 189–208): the DSv2 REST source feeds the
    * same downstream as CSV mode. `restOptions` are the source options
    * (url, from, to, slices, fetcher, user/passwordFile). The adapter
    * keeps the documents missing `memory_aggregate_peak` (F2) with their
    * `query_state`, so the one skip sink writes the reference's
    * id|duration|start|end|state rows; [[finish]]'s single cache is what
    * makes the HTTP pagination run once per report.
    */
  def runRest(spark: SparkSession, cfg: SizingConfig,
      restOptions: Map[String, String], outDir: String): SizingReport = {
    var reader = spark.read
      .format("graft.sources.RestQuerylogSource")
    restOptions.foreach { case (k, v) => reader = reader.option(k, v) }
    cfg.pool.foreach(p => reader = reader.option("pool", p))
    finish(cfg, graft.sources.RestAdapter.toQuerylog(reader.load()), outDir)
  }

  /** Routes the adapted querylog (either source) into the sinks and the
    * report. The routed frame ([[Routing.route]]: derived columns + `flow`)
    * is the ONLY cache: the source (CSV scan or REST pages) is read and
    * derived a single time, every sink and report action is a filter over
    * it and sees identical data, and it is released before returning.
    *
    * Spark actions after the source's own: ONE aggregate pass
    * ([[Report.aggregate]] — every report number but the sweep's, the
    * sinks' row counts and the sweep's event range; it also fills the
    * cache), one write per non-empty sink, and the sweep's maxima. The
    * CSV source adds none ([[readQuerylogCsv]]), so a report with all
    * three sinks runs 5 SQL executions.
    */
  private def finish(cfg: SizingConfig, querylog: DataFrame, outDir: String)
      : SizingReport = {
    val routed = Routing.route(withEventInstants(querylog), cfg).persist()
    try {
      def flow(name: String) = routed.filter(col("flow") === name)
      val kept = flow("kept")
      val agg = Report.aggregate(routed)

      outputRow(kept).write.mode("overwrite").option("header", "true")
        .csv(s"$outDir/${cfg.outputFile}")
      // K2 lazy creation quirk: the reference only creates the prune file on
      // the first over-limit row; an empty write is the distributed analog —
      // but we match observable behavior (no file when no pruned rows).
      if (agg.getAs[Long]("n_pruned") > 0)
        outputRow(flow("pruned")).write.mode("overwrite")
          .option("header", "true").csv(s"$outDir/${cfg.pruneOutputFile}")
      // concat_ws drops the NULL query_state of CSV mode
      if (agg.getAs[Long]("n_skipped") > 0)
        flow("skipped").select(concat_ws("|", col("query_id"),
            col("duration_millis"), col("start_time"), col("end_time"),
            col("query_state")).as("value"))
          .write.mode("overwrite").text(s"$outDir/${cfg.skipQueryFile}")

      Report.build(cfg, agg, Concurrency.maxima(kept, reportDeltas,
        eventRange = Some(Report.eventRange(agg))))
    } finally routed.unpersist()
  }
}
