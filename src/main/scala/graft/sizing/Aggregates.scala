package graft.sizing

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Global workload aggregates (SURVEY §2.5, A1–A7) — the reference keeps
  * these as running variables in its single loop (py:272–305); in Spark
  * they collapse into ONE hash aggregate (partial + final, map-side
  * combine free) plus one tiny groupBy for the size matrix. These are the
  * battery's forms (q18, q19); the sizing report folds the same
  * aggregates into its one pass over the routed log ([[Report.aggregate]]).
  */
object Aggregates {

  /** A1–A4 + A6: one row of workload-level aggregates over the KEPT rows.
    *
    * Weighted sums use decimal accumulation: `mem_gb × duration_ms`
    * summed over millions of rows overflows a long and loses precision in
    * a double; decimal(38) is exact and deterministic under any partition
    * order (Spark 4 runs ANSI mode, so a long overflow would throw).
    */
  def global(derived: DataFrame): DataFrame =
    derived.agg(
      count(lit(1)).as("total_queries"), // A1
      count_distinct(col("pool")).as("n_pools"), // A2
      array_join(sort_array(collect_set(col("pool"))), ",").as("pools"),
      max(col("num_backends")).as("max_backends"), // A3 ×6
      max(col("avg_vcores_per_node")).as("max_vcores"),
      max(col("avg_mem_per_node")).as("max_mem"),
      max(col("avg_cache_per_node")).as("max_data"),
      max(col("avg_data_rate_per_node")).as("max_data_rate"),
      max(col("avg_spill_per_node")).as("max_spill"),
      // A4 argmax with deterministic tiebreak: highest pods, then highest
      // query_id (the reference's `>` keeps the first-seen row, py:272–274,
      // which is input-order-dependent — not reproducible distributed; we
      // document the fixed tiebreak instead).
      max_by(col("query_id"), struct(col("min_executor_pod"), col("query_id")))
        .as("max_pods_query_id"),
      max(col("min_executor_pod")).as("min_executor_pod_workload"),
      // A6 weighted sums (py:300–305)
      sum(((col("duration_millis") - col("admission_wait")) / 1000.0)
        .cast("decimal(38,6)")).cast("double").as("total_query_time_sec"),
      sum((col("reqd_agg_mem") * col("duration_sec")).cast("decimal(38,6)"))
        .cast("double").as("util_mem_gb_sec"),
      sum(col("cpu_time_sec").cast("decimal(38,6)"))
        .cast("double").as("util_cpu_sec"),
      sum((col("reqd_cache_gb") * col("duration_sec")).cast("decimal(38,6)"))
        .cast("double").as("util_cache_gb_sec"),
      sum((col("memory_spilled_gb") * col("duration_sec"))
        .cast("decimal(38,6)")).cast("double").as("util_spill_gb_sec"))

  /** The size matrix's dimensions (A5, py:294–298) and the pod count each
    * one buckets, in the rendered column order.
    */
  private[sizing] val MatrixDims: Seq[(String, String)] = Seq(
    "count" -> "min_executor_pod",
    "cache" -> "min_executor_pod_data",
    "mem" -> "min_executor_pod_mem",
    "cpu" -> "min_executor_pod_cpu",
    "spill" -> "min_executor_pod_spill")

  /** A5: the (tsize × dimension) count matrix. The reference maintains five
    * independent histograms (py:294–298); we unpivot the five bucketed
    * columns with `stack` and pivot back — one shuffle on a ≤25-key space.
    */
  def sizeMatrix(derived: DataFrame): DataFrame = {
    val bucketed = derived.select(MatrixDims.map { case (d, c) =>
      Bucketing.tsize(col(c)).as(s"t_$d") }: _*)
    val stacked = MatrixDims.map { case (d, _) => s"'$d', t_$d" }
      .mkString(s"stack(${MatrixDims.size}, ", ", ", ") AS (dimension, tsize)")
    bucketed
      .select(expr(stacked))
      .groupBy("tsize")
      .pivot("dimension", MatrixDims.map(_._1))
      .count()
      .na.fill(0L)
  }

  /** A7: average utilization percentages — scalar math on the collected
    * global row (driver-side, py:449–453).
    */
  def utilizationPct(globalRow: org.apache.spark.sql.Row,
      cfg: SizingConfig): Map[String, Double] = {
    val pods = globalRow.getAs[Long]("min_executor_pod_workload").toDouble
    val t = globalRow.getAs[Double]("total_query_time_sec")
    def pct(util: Double, perNode: Double): Double =
      if (pods == 0 || t == 0 || perNode == 0) 0.0
      else 100.0 * util / (pods * perNode * t)
    Map(
      "cache" -> pct(globalRow.getAs[Double]("util_cache_gb_sec"), cfg.cacheGbPerNode),
      "mem" -> pct(globalRow.getAs[Double]("util_mem_gb_sec"), cfg.queryMemPerNode),
      "cpu" -> pct(globalRow.getAs[Double]("util_cpu_sec"), cfg.vcoresPerNode.toDouble),
      "spill" -> pct(globalRow.getAs[Double]("util_spill_gb_sec"), cfg.scratchGbPerNode))
  }
}
