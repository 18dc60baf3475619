package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** API-mode document → canonical querylog adapter (SURVEY §2.1 S5 +
  * §2.3 F2, py:189–208): pulls the six sizing metrics out of the nested
  * `attributes` map with the reference's unit conversions.
  */
object RestAdapter {

  /** Canonical querylog columns from every document — matches the CSV
    * mode shape ([[graft.sizing.Pipeline.readQuerylogCsv]]) so everything
    * downstream (derive/route/report) is source-agnostic. A document
    * missing `memory_aggregate_peak` gets a NULL `reqd_agg_mem`, which
    * [[graft.sizing.Routing.route]] sends to the skip flow (py:197–200);
    * `query_state` is the extra field the reference's skip line carries.
    */
  def toQuerylog(api: DataFrame): DataFrame = {
    def attr(k: String) = element_at(col("attributes"), k)
    def gb(k: String) = // bytes → GB, 2dp (py:203–205)
      round(attr(k).cast("double") / 1024 / 1024 / 1024, 2)
    api.select(
      col("queryId").as("query_id"),
      attr("pool").as("pool"),
      col("startTime").as("start_time"),
      col("endTime").as("end_time"),
      col("durationMillis").as("duration_millis"),
      gb("hdfs_bytes_read").as("reqd_cache_gb"),
      gb("memory_aggregate_peak").as("reqd_agg_mem"),
      gb("memory_spilled").as("memory_spilled_gb"),
      round(attr("thread_cpu_time").cast("double") / 1000, 2)
        .as("cpu_time_sec"), // ms → sec (py:206)
      col("queryType").as("query_type"),
      coalesce(attr("admission_wait").cast("long"), lit(0L))
        .as("admission_wait"),
      coalesce(attr("num_backends").cast("int"), lit(1))
        .as("num_backends"),
      col("queryState").as("query_state"))
  }
}
