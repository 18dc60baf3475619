package graft.sizing

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Global workload aggregates (SURVEY §2.5, A1–A7), defined once — the
  * reference keeps them as running variables in its single loop
  * (py:272–305); in Spark they are one hash aggregate. q19 ([[global]]),
  * q18 ([[sizeMatrix]]) and the sizing report's one pass
  * ([[Report.aggregate]]) all build from the columns below. A kept-only
  * column takes a guard: the battery aggregates kept rows and passes
  * `identity`, the report aggregates every routed row and passes
  * `when(kept, _)` (a NULL is skipped by every aggregate here).
  */
object Aggregates {

  /** A3/A4/A6 over the guarded rows.
    *
    * Weighted sums use decimal accumulation: `mem_gb × duration_ms`
    * summed over millions of rows overflows a long and loses precision in
    * a double; decimal(38) is exact and deterministic under any partition
    * order (Spark 4 runs ANSI mode, so a long overflow would throw).
    */
  private[sizing] def workload(guard: Column => Column): Seq[Column] = {
    def weighted(c: Column, name: String): Column =
      sum(guard(c.cast("decimal(38,6)"))).cast("double").as(name)
    Seq(
      max(guard(col("num_backends"))).as("max_backends"), // A3
      // A4 argmax with deterministic tiebreak: highest pods, then highest
      // query_id (the reference's `>` keeps the first-seen row, py:272–274,
      // which is input-order-dependent). The guard wraps the ordering:
      // max_by skips rows whose ordering is NULL.
      max_by(col("query_id"), guard(struct(col("min_executor_pod"),
        col("query_id")))).as("max_pods_query_id"),
      max(guard(col("min_executor_pod"))).as("min_executor_pod_workload"),
      // A6 weighted sums (py:300–305)
      weighted((col("duration_millis") - col("admission_wait")) / 1000.0,
        "total_query_time_sec"),
      weighted(col("reqd_agg_mem") * col("duration_sec"), "util_mem_gb_sec"),
      weighted(col("cpu_time_sec"), "util_cpu_sec"),
      weighted(col("reqd_cache_gb") * col("duration_sec"),
        "util_cache_gb_sec"),
      weighted(col("memory_spilled_gb") * col("duration_sec"),
        "util_spill_gb_sec"))
  }

  /** A3's per-node averages → the suffix of their maxima: q19's
    * un-rounded `max_<suffix>`, the report's `r_max_<suffix>` of the
    * 2dp-rounded values (the reference rounds at derivation, py:223–227).
    */
  private[sizing] val PerNodeMaxima: Seq[(String, String)] = Seq(
    "avg_vcores_per_node" -> "vcores",
    "avg_mem_per_node" -> "mem",
    "avg_cache_per_node" -> "data",
    "avg_data_rate_per_node" -> "data_rate",
    "avg_spill_per_node" -> "spill")

  /** A1–A4 + A6: one row of workload aggregates over the kept rows (q19). */
  def global(kept: DataFrame): DataFrame = {
    val w = workload(identity)
    val aggs = Seq(
      count(lit(1)).as("total_queries"), // A1
      count_distinct(col("pool")).as("n_pools"), // A2
      array_join(sort_array(collect_set(col("pool"))), ",").as("pools"),
      w.head) ++ // max_backends, then the per-node maxima (oracle order)
      PerNodeMaxima.map { case (c, s) => max(col(c)).as(s"max_$s") } ++ w.tail
    kept.agg(aggs.head, aggs.tail: _*)
  }

  /** The size matrix's dimensions (A5, py:294–298) and the pod count each
    * one buckets, in the rendered column order.
    */
  private[sizing] val MatrixDims: Seq[(String, String)] = Seq(
    "count" -> "min_executor_pod",
    "cache" -> "min_executor_pod_data",
    "mem" -> "min_executor_pod_mem",
    "cpu" -> "min_executor_pod_cpu",
    "spill" -> "min_executor_pod_spill")

  /** A5, part 1: each dimension's guarded size index
    * ([[Bucketing.tsizeIndex]]) as column `t_<dim>`, projected once so the
    * cells compare integers instead of re-deriving the bucket.
    */
  private[sizing] def withSizeIndices(df: DataFrame,
      guard: Column => Column): DataFrame =
    df.withColumns(MatrixDims.map { case (d, c) =>
      s"t_$d" -> guard(Bucketing.tsizeIndex(col(c)))
    }.toMap)

  /** A5, part 2: the 25 cells `m_<size index>_<dim>` over
    * [[withSizeIndices]]' columns — the reference's five histograms
    * (py:294–298) as counts in a one-row aggregate.
    */
  private[sizing] val matrixCells: Seq[Column] = for {
    i <- Bucketing.Sizes.indices
    (d, _) <- MatrixDims
  } yield count(when(col(s"t_$d") === i, 1)).as(s"m_${i}_$d")

  /** A5, part 3: size → dimension → count from a row carrying
    * [[matrixCells]]; a size is listed only when one of its cells is > 0.
    */
  private[sizing] def matrix(row: Row): Map[String, Map[String, Long]] =
    Bucketing.Sizes.zipWithIndex.map { case (t, i) =>
      t -> MatrixDims.map { case (d, _) =>
        d -> row.getAs[Long](s"m_${i}_$d") }.toMap
    }.filter(_._2.values.exists(_ > 0)).toMap

  /** A5 as q18's `(tsize, count, cache, mem, cpu, spill)` BIGINT rows:
    * the kept rows' one-row cells aggregate, reshaped by [[matrix]].
    */
  def sizeMatrix(kept: DataFrame): DataFrame = {
    val m = matrix(withSizeIndices(kept, identity)
      .agg(matrixCells.head, matrixCells.tail: _*).head())
    val dims = MatrixDims.map(_._1)
    kept.sparkSession.createDataFrame(Bucketing.Sizes.filter(m.contains)
      .map(t => Row.fromSeq(t +: dims.map(m(t)))).asJava,
      StructType(StructField("tsize", StringType) +:
        dims.map(StructField(_, LongType, nullable = false))))
  }

  /** A7: average utilization percentages — scalar math on the collected
    * global row (driver-side, py:449–453).
    */
  def utilizationPct(globalRow: Row, cfg: SizingConfig): Map[String, Double] = {
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
