package graft.sizing

import org.apache.spark.sql.types._

/** Canonical schemas for the sizing pipeline (SURVEY §1).
  *
  * The reference consumes two input shapes — CSV mode (py:172–187) and
  * API mode with a nested `attributes` map (py:189–208) — and emits a
  * 24-column output row (py:120). The engine's canonical input is the
  * CSV-mode shape with real numeric types instead of the reference's
  * strings-everywhere; the instants stay strings, which the sinks echo
  * verbatim as the reference does.
  */
object Model {

  /** CSV-mode input (py:172–187), one row per executed query: what
    * [[Pipeline.readQuerylogCsv]] and [[graft.sources.RestAdapter]] deliver.
    */
  val querylogSchema: StructType = StructType(Seq(
    StructField("query_id", StringType, nullable = false),
    StructField("pool", StringType, nullable = true),
    StructField("start_time", StringType, nullable = false),
    StructField("end_time", StringType, nullable = true),
    StructField("duration_millis", LongType, nullable = false),
    StructField("reqd_cache_gb", DoubleType, nullable = true), // hdfs_bytes_read / 1024³
    StructField("reqd_agg_mem", DoubleType, nullable = true), // memory_aggregate_peak GB
    StructField("memory_spilled_gb", DoubleType, nullable = true),
    StructField("cpu_time_sec", DoubleType, nullable = true),
    StructField("query_type", StringType, nullable = true),
    StructField("admission_wait", LongType, nullable = false), // ms
    StructField("num_backends", IntegerType, nullable = false)
  ))
}
