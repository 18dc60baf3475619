package graft.sizing

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The per-query sizing formulas (SURVEY §2.2, P1–P12) as pure Column
  * expressions — one `withColumns` pass, no cross-row dependencies, fully
  * whole-stage-codegen'd.
  *
  * Reference formulas at impala_query_sizing.py:219–258; quirk stances:
  *  - Q3: `cache_adjustment_pct` read but never applied (py:235) — we apply
  *    it, defaulting to 100 so the default is reference-identical.
  *  - Q4: `parallel_factor = max(mtScalingFactor, vcoresPerNode)` constant
  *    (py:228–230, per-query min commented out in the reference).
  *  - Q9: zero-duration queries would divide by zero at py:221/226 — we
  *    define parallelism/rate as 0 for them (documented deviation).
  */
object Formulas {

  /** Guarded ratio: `num/den`, 0 when den is 0 or NULL (Q9). */
  private[sizing] def safeDiv(num: Column, den: Column): Column =
    when(den.isNull || den === 0, lit(0.0)).otherwise(num / den)

  /** Per-dimension raw (un-ceiled) pod ratios — the reference keeps these
    * un-rounded for the overall max (py:257).
    */
  def podRatios(cfg: SizingConfig): Map[String, Column] = Map(
    // P7: data/cache dimension (py:235–236)
    "ratio_data" -> (col("reqd_cache_gb") * (cfg.cacheAdjustmentPct / 100.0)
      / cfg.cacheGbPerNode),
    // P8: memory dimension (py:240–241)
    "ratio_mem" -> (col("reqd_agg_mem") * (cfg.memAdjustmentPct / 100.0)
      / cfg.queryMemPerNode),
    // P9: cpu dimension (py:244–245) — uses the already-ceiled parallelism
    "ratio_cpu" -> (col("min_parallelism") * (cfg.cpuAdjustmentPct / 100.0)
      / cfg.parallelFactor),
    // P10: spill dimension (py:248–249)
    "ratio_spill" -> (col("memory_spilled_gb") / cfg.scratchGbPerNode)
  )

  /** All derived sizing columns (P2–P11) over the canonical querylog
    * schema ([[Model.querylogSchema]]). Append-only: input columns pass
    * through untouched.
    */
  def derive(df: DataFrame, cfg: SizingConfig): DataFrame = {
    val withBase = df
      // P2 (py:219–220); the sink's query_sla_sec is Pipeline.outputRow's
      // round(duration_sec, 2)
      .withColumn("duration_sec", col("duration_millis") / 1000.0)
      // P3 (py:221), Q9 guard
      .withColumn("min_parallelism",
        ceil(safeDiv(col("cpu_time_sec"), col("duration_sec"))))
      // P4 per-node averages (py:223–227)
      .withColumn("avg_vcores_per_node",
        safeDiv(col("min_parallelism"), col("num_backends")))
      .withColumn("avg_mem_per_node",
        safeDiv(col("reqd_agg_mem"), col("num_backends")))
      .withColumn("avg_cache_per_node",
        safeDiv(col("reqd_cache_gb"), col("num_backends")))
      .withColumn("avg_spill_per_node",
        safeDiv(col("memory_spilled_gb"), col("num_backends")))
      .withColumn("avg_data_rate_per_node",
        safeDiv(safeDiv(col("reqd_cache_gb"), col("num_backends")),
          col("duration_sec")))

    val ratios = podRatios(cfg)
    val withRatios = ratios.foldLeft(withBase) { case (d, (name, c)) =>
      d.withColumn(name, c)
    }
    withRatios
      .withColumn("min_executor_pod_data", ceil(col("ratio_data")))
      .withColumn("min_executor_pod_mem", ceil(col("ratio_mem")))
      .withColumn("min_executor_pod_cpu", ceil(col("ratio_cpu")))
      .withColumn("min_executor_pod_spill", ceil(col("ratio_spill")))
      // P11 (py:257–258): max of the UN-ceiled ratios, then ceil
      .withColumn("min_executor_pod",
        ceil(greatest(col("ratio_data"), col("ratio_mem"),
          col("ratio_cpu"), col("ratio_spill"))))
  }
}
