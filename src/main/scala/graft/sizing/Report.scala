package graft.sizing

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's five report sections (SURVEY §2.7 K4, py:399–458) as a
  * value object + formatter. Deviations (doc'd): unit labels corrected
  * (Q7 — the reference prints Memory as "GB/s" and Data Rate as "GB");
  * `constrained_by` renders in fixed cache,mem,cpu,spill order (Q13 — the
  * reference iterates a Python set).
  */
final case class SizingReport(
    totalQueries: Long,
    totalQueryTimeSec: Double,
    maxPodsQueryId: String,
    maxBackends: Int,
    maxVcores: Double,
    maxData: Double,
    maxSpill: Double,
    maxMem: Double,
    maxDataRate: Double,
    pools: Seq[String],
    pruneCount: Long,
    podLimit: Int,
    maxConcurrentQueries: Long,
    maxPodsWorkloadStartUs: Long,
    maxConcurrentCores: Double,
    maxConcurrentCache: Double,
    maxConcurrentSpill: Double,
    maxConcurrentMemory: Double,
    maxConcurrentDataRate: Double,
    minExecutorPodWorkload: Long,
    maxPodsWorkload: Double,
    tsizeWorkload: String,
    constrainedBy: Seq[String],
    matrix: Map[String, Map[String, Long]], // tsize -> dim -> count
    utilizationPct: Map[String, Double]) {

  private def r2(v: Double): Double =
    BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble

  def render: String = {
    val sb = new StringBuilder
    sb ++= "\nIndividual Query Analysis\n"
    sb ++= s" Total Queries: $totalQueries\n"
    sb ++= s" Total Query Time: ${r2(totalQueryTimeSec)} sec\n"
    sb ++= s" Highest Resources Query ID: $maxPodsQueryId\n"
    sb ++= s" Max Nodes: $maxBackends\n"
    sb ++= s" Max Cores Per Node: $maxVcores\n"
    sb ++= s" Max Data Per Node: $maxData GB\n"
    sb ++= s" Max Spill Per Node: $maxSpill GB\n"
    sb ++= s" Max Memory Per Node: $maxMem GB\n" // Q7: fixed label (was GB/s)
    sb ++= s" Max Data Rate: $maxDataRate GB/s\n" // Q7: fixed label (was GB)
    sb ++= " Pools:\n"
    pools.foreach(p => sb ++= s"   $p\n")
    if (pruneCount > 0)
      sb ++= s" Queries Over Pod Limit ( $podLimit ): $pruneCount\n"

    sb ++= "\nConcurrent Query Analysis\n"
    sb ++= s" Max Concurrent Queries: $maxConcurrentQueries\n"
    sb ++= s" Max Concurrent Resources Time: ${
      java.time.Instant.ofEpochMilli(maxPodsWorkloadStartUs / 1000)}\n"
    sb ++= s" Max Concurrent Cores Per Node: ${r2(maxConcurrentCores)}\n"
    sb ++= s" Max Concurrent Data Per Node: ${r2(maxConcurrentCache)} GB\n"
    sb ++= s" Max Concurrent Spill Per Node: ${r2(maxConcurrentSpill)} GB\n"
    sb ++= s" Max Concurrent Memory Per Node: ${r2(maxConcurrentMemory)} GB\n"
    sb ++= s" Max Concurrent Data Rate: ${r2(maxConcurrentDataRate)} GB/s\n"

    sb ++= "\n\t\t\t    Cluster Sizing\n"
    sb ++= "Size\t\tMin Pods\tMax Pods\tConstrained By\n"
    sb ++= s"$tsizeWorkload\t\t$minExecutorPodWorkload\t\t${
      math.ceil(maxPodsWorkload).toLong}\t\t${constrainedBy.mkString(" ")}\n"

    sb ++= "\n\t\t\t    Query Counts\n"
    sb ++= "                     Cache       Mem         CPU         Spill\n"
    sb ++= "Size     Count       Constrained Constrained Constrained Constrained\n"
    Seq("XSMALL", "SMALL", "MEDIUM", "LARGE", "CUSTOM").foreach { t =>
      val row = matrix.getOrElse(t, Map.empty)
      sb ++= ("%8s".format(t) +
        Seq("count", "cache", "mem", "cpu", "spill")
          .map(d => " " + "%11d".format(row.getOrElse(d, 0L))).mkString + "\n")
    }

    sb ++= "\n\t\t\t    Average Cluster Utilization\n"
    sb ++= "Cache    Memory    CPU       Spill\n"
    sb ++= Seq("cache", "mem", "cpu", "spill")
      .map(d => "%6.2f %%".format(utilizationPct.getOrElse(d, 0.0)))
      .mkString("  ") + "\n"
    sb.result()
  }
}

object Report {

  /** ONE pre-pass over the routed querylog ([[Routing.route]]), run by
    * [[Pipeline]] BEFORE the sinks: total queries + pool roster (Q10 —
    * both include pruned rows, never skipped ones) and the prune/skip
    * counts. Replaces three separate Spark actions (the kept∪pruned
    * head, `pruned.count()`, and the sinks' `isEmpty` probes) with a
    * single aggregate; `count(when(...))` counts only the matching flow
    * (COUNT skips the NULL of the un-matched branch), and `collect_set`
    * likewise drops the NULL pools of skipped rows.
    */
  def routedCounts(routed: DataFrame): org.apache.spark.sql.Row =
    routed.agg(
      count(when(col("flow") =!= "skipped", 1)).as("n"),
      array_join(sort_array(collect_set(
        when(col("flow") =!= "skipped", col("pool")))), ",").as("pools"),
      count(when(col("flow") === "pruned", 1)).as("n_pruned"),
      count(when(col("flow") === "skipped", 1)).as("n_skipped"))
      .head()

  /** Assemble the report. Collects exactly THREE tiny results — the fused
    * global + rounded-maxima row (ONE pass over kept), the size matrix,
    * and the concurrency row; the routing counts arrive pre-computed in
    * `pre` (see [[routedCounts]]). Down from six driver actions: at the
    * battery's scale the fixed per-action floor, not data volume,
    * dominated the e2e entry's cost.
    *
    * Parity notes: the reference takes maxima over the 2dp-ROUNDED
    * per-node averages (py:223–227 round at derivation, py:279–292 compare
    * the rounded values), so the maxima here round before aggregating.
    * A1/A2 count pools/queries BEFORE the prune split (Q10, py:215–216).
    */
  def build(cfg: SizingConfig, kept: DataFrame, concurrencyRow: DataFrame,
      pre: org.apache.spark.sql.Row): SizingReport = {
    val fused = Aggregates.globalExprs ++ Aggregates.roundedMaxExprs
    val g = kept.agg(fused.head, fused.tail: _*).head()

    val matrixRows = Aggregates.sizeMatrix(kept).collect()
    val matrix = matrixRows.map { r =>
      r.getAs[String]("tsize") -> Seq("count", "cache", "mem", "cpu", "spill")
        .map(d => d -> r.getAs[Long](d)).toMap
    }.toMap

    val c = concurrencyRow.head()
    // the sweep's DECIMAL maxima (Pipeline's payload); NULL when no row
    // was kept, read as 0 like the Long fields
    def dbl(name: String): Double =
      Option(c.getAs[java.math.BigDecimal](name)).fold(0.0)(_.doubleValue)
    val podWorkload = g.getAs[Long]("min_executor_pod_workload")
    val tsizeWl = Bucketing.tsizeValue(podWorkload)

    SizingReport(
      totalQueries = pre.getAs[Long]("n"),
      totalQueryTimeSec = g.getAs[Double]("total_query_time_sec"),
      maxPodsQueryId = g.getAs[String]("max_pods_query_id"),
      maxBackends = g.getAs[Int]("max_backends"),
      maxVcores = g.getAs[Double]("r_max_vcores"),
      maxData = g.getAs[Double]("r_max_data"),
      maxSpill = g.getAs[Double]("r_max_spill"),
      maxMem = g.getAs[Double]("r_max_mem"),
      maxDataRate = g.getAs[Double]("r_max_data_rate"),
      pools = pre.getAs[String]("pools").split(",").toSeq.filter(_.nonEmpty),
      pruneCount = pre.getAs[Long]("n_pruned"),
      podLimit = cfg.podLimit,
      maxConcurrentQueries = c.getAs[Long]("max_concurrent_queries"),
      maxPodsWorkloadStartUs = c.getAs[Long]("max_pods_at_us"),
      maxConcurrentCores = dbl("max_concurrent_cpu"),
      maxConcurrentCache = dbl("max_concurrent_cache"),
      maxConcurrentSpill = dbl("max_concurrent_spill"),
      maxConcurrentMemory = dbl("max_concurrent_mem"),
      maxConcurrentDataRate = dbl("max_concurrent_data_rate"),
      minExecutorPodWorkload = podWorkload,
      maxPodsWorkload = dbl("max_concurrent_pods"),
      tsizeWorkload = tsizeWl,
      constrainedBy = Aggregates.constrainedBy(matrixRows, tsizeWl),
      matrix = matrix,
      utilizationPct = Aggregates.utilizationPct(g, cfg))
  }
}
