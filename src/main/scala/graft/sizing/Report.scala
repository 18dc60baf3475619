package graft.sizing

import org.apache.spark.sql.{Column, DataFrame, Row}
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
    Bucketing.Sizes.foreach { t =>
      val row = matrix.getOrElse(t, Map.empty)
      sb ++= ("%8s".format(t) +
        Aggregates.MatrixDims.map(_._1)
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

  /** Every number the report reads from the routed querylog
    * ([[Routing.route]]), in ONE aggregate pass, run by [[Pipeline]] before
    * the sinks (it is also the pass that fills the routed cache):
    *  - `n` and the sorted `pools` array over kept + pruned rows (Q10 —
    *    never skipped ones), `n_pruned`, `n_skipped`;
    *  - over kept rows only, from [[Aggregates]] with the guard
    *    `when(kept, _)`: the A3/A4/A6 workload columns, the `r_max_*`
    *    maxima of the 2dp-rounded per-node averages and the 25 size-matrix
    *    cells (A5);
    *  - `ev_lo`/`ev_hi`: the kept rows' event range (both instants
    *    non-null — the rows the sweep keeps), NULL when there are none.
    */
  def aggregate(routed: DataFrame): Row = {
    val kept = col("k")
    def k(c: Column): Column = when(kept, c)
    val hasEvents = kept && col("admitted_us").isNotNull &&
      col("end_us").isNotNull
    def ev(c: String): Column = when(hasEvents, col(c))
    val aggs = Seq(
      count(when(col("flow") =!= "skipped", 1)).as("n"),
      sort_array(collect_set(
        when(col("flow") =!= "skipped", col("pool")))).as("pools"),
      count(when(col("flow") === "pruned", 1)).as("n_pruned"),
      count(when(col("flow") === "skipped", 1)).as("n_skipped")) ++
      Aggregates.workload(k) ++
      Aggregates.PerNodeMaxima.map { case (c, s) =>
        max(k(round(col(c), 2))).as(s"r_max_$s") } ++
      Seq(
        least(min(ev("admitted_us")), min(ev("end_us")))
          .cast("double").as("ev_lo"),
        greatest(max(ev("admitted_us")), max(ev("end_us")))
          .cast("double").as("ev_hi")) ++
      Aggregates.matrixCells
    Aggregates.withSizeIndices(
      routed.withColumn("k", col("flow") === "kept"), k)
      .agg(aggs.head, aggs.tail: _*)
      .head()
  }

  /** The kept rows' event range from [[aggregate]]'s row, for
    * [[Concurrency.maxima]]'s `eventRange`; (0, 0) when no kept row has
    * both instants (the sweep then has no events).
    */
  def eventRange(agg: Row): (Double, Double) =
    if (agg.isNullAt(agg.fieldIndex("ev_lo"))) (0.0, 0.0)
    else (agg.getAs[Double]("ev_lo"), agg.getAs[Double]("ev_hi"))

  /** Assemble the report from [[aggregate]]'s row and the sweep's maxima
    * row — the only two results the report collects. At the battery's
    * scale the fixed cost of each driver action, not data volume,
    * dominates the e2e entry's cost, so nothing else is collected.
    *
    * A1/A2 count pools/queries BEFORE the prune split (Q10, py:215–216);
    * each pool is one entry, as the reference prints each member of its
    * set (py:412–413). The matrix is [[Aggregates.matrix]]; A9
    * `constrainedBy` is the dimensions (fixed order — Q13 stance) with
    * nonzero counts at the workload's tsize row.
    */
  def build(cfg: SizingConfig, agg: Row, c: Row): SizingReport = {
    val matrix = Aggregates.matrix(agg)
    // the sweep's DECIMAL maxima (Pipeline's payload); NULL when no row
    // was kept, read as 0 like the Long fields
    def dbl(name: String): Double =
      Option(c.getAs[java.math.BigDecimal](name)).fold(0.0)(_.doubleValue)
    val podWorkload = agg.getAs[Long]("min_executor_pod_workload")
    val tsizeWl = Bucketing.tsizeValue(podWorkload)

    SizingReport(
      totalQueries = agg.getAs[Long]("n"),
      totalQueryTimeSec = agg.getAs[Double]("total_query_time_sec"),
      maxPodsQueryId = agg.getAs[String]("max_pods_query_id"),
      maxBackends = agg.getAs[Int]("max_backends"),
      maxVcores = agg.getAs[Double]("r_max_vcores"),
      maxData = agg.getAs[Double]("r_max_data"),
      maxSpill = agg.getAs[Double]("r_max_spill"),
      maxMem = agg.getAs[Double]("r_max_mem"),
      maxDataRate = agg.getAs[Double]("r_max_data_rate"),
      pools = agg.getSeq[String](agg.fieldIndex("pools")),
      pruneCount = agg.getAs[Long]("n_pruned"),
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
      constrainedBy = matrix.get(tsizeWl).fold(Seq.empty[String])(r =>
        Seq("cache", "mem", "cpu", "spill").filter(r(_) > 0)),
      matrix = matrix,
      utilizationPct = Aggregates.utilizationPct(agg, cfg))
  }
}
