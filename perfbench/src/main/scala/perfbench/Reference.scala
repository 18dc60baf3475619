package perfbench

import graft.sizing.SizingReport
import java.math.{BigDecimal => JBig, RoundingMode}
import scala.collection.mutable

/** Row-at-a-time references the benchmark checks the program against.
  *
  * The sizing reference ports the reference tool's per-query formulas,
  * routing, aggregates and sweep line (impala_query_sizing.py:219–396)
  * as one sequential pass, with the program's documented stances: true
  * instant arithmetic for admitted/end, decimal(38,9) sweep deltas,
  * decimal(38,6) weighted sums, maxima over the 2dp-rounded per-node
  * averages, and the (pods, query_id) argmax tiebreak. It shares no code
  * with the program; only the report's value class is reused as the
  * container that the field-by-field comparison walks.
  */
object Reference {

  /** One sizing input row after source decoding (CSV or CM document). */
  final case class In(id: String, pool: String, startIso: String,
      endIso: String, durationMs: Long, cacheGb: Double,
      aggMemGb: Option[Double], spillGb: Double, cpuSec: Double,
      admissionWaitMs: Long, numBackends: Int)

  /** Expected report plus the sink row counts. */
  final case class Sizing(report: SizingReport, mainRows: Long,
      prunedRows: Long, skippedRows: Long)

  // The reference's sizing.conf defaults (conf:10–24).
  private val CacheGbPerNode = 1000.0
  private val QueryMemPerNode = 200.0
  private val ScratchGbPerNode = 1000.0
  private val VcoresPerNode = 16
  private val CpuAdjPct = 80.0
  private val MtDop = 12
  val PodLimit = 100
  private val ParallelFactor = math.max(
    round(math.pow(0.93, MtDop - 1) * MtDop, 2), VcoresPerNode.toDouble)

  private def round(x: Double, s: Int): Double =
    BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def dec(x: Double, s: Int): JBig =
    new JBig(java.lang.Double.toString(x)).setScale(s, RoundingMode.HALF_UP)
  private def safeDiv(n: Double, d: Double): Double = if (d == 0) 0.0 else n / d
  private def ceil(x: Double): Long = math.ceil(x).toLong

  def tsize(pods: Long): String =
    if (pods <= 2) "XSMALL" else if (pods <= 10) "SMALL"
    else if (pods <= 20) "MEDIUM" else if (pods <= 40) "LARGE" else "CUSTOM"

  private def instantUs(iso: String): Long = {
    val i = java.time.Instant.parse(iso)
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def fromRow(q: QueryRow): In =
    In(q.id, q.pool, Gen.iso(q.startMs), Gen.iso(q.endMs), q.durationMs,
      q.cacheGb, q.aggMemGb, q.spillGb, q.cpuSec, q.admissionWaitMs,
      q.numBackends)

  /** The CM-document decoding of a row (bytes → GB and ms → s at 2dp). */
  def fromDocument(q: QueryRow): In = {
    val a = Gen.cmAttributes(q).toMap
    def gb(k: String) = round(a(k).toDouble / 1024 / 1024 / 1024, 2)
    In(q.id, q.pool, Gen.iso(q.startMs), Gen.iso(q.endMs), q.durationMs,
      gb("hdfs_bytes_read"),
      a.get("memory_aggregate_peak").map(_ => gb("memory_aggregate_peak")),
      gb("memory_spilled"), round(a("thread_cpu_time").toDouble / 1000, 2),
      a("admission_wait").toLong, a("num_backends").toInt)
  }

  private final class Derived(val in: In) {
    val durSec: Double = in.durationMs / 1000.0
    val minPar: Long = ceil(safeDiv(in.cpuSec, durSec))
    val mem: Double = in.aggMemGb.get
    val b: Double = in.numBackends.toDouble
    val avgVcores: Double = safeDiv(minPar.toDouble, b)
    val avgMem: Double = safeDiv(mem, b)
    val avgCache: Double = safeDiv(in.cacheGb, b)
    val avgSpill: Double = safeDiv(in.spillGb, b)
    val avgRate: Double = safeDiv(safeDiv(in.cacheGb, b), durSec)
    val rData: Double = in.cacheGb * 1.0 / CacheGbPerNode
    val rMem: Double = mem * 1.0 / QueryMemPerNode
    val rCpu: Double = minPar * (CpuAdjPct / 100.0) / ParallelFactor
    val rSpill: Double = in.spillGb / ScratchGbPerNode
    val podsRaw: Double = Seq(rData, rMem, rCpu, rSpill).max
    val pods: Long = ceil(podsRaw)
    def dims: Seq[(String, Long)] = Seq("count" -> pods, "cache" -> ceil(rData),
      "mem" -> ceil(rMem), "cpu" -> ceil(rCpu), "spill" -> ceil(rSpill))
  }

  def sizing(rows: Seq[In]): Sizing = {
    val (skipped, live) = rows.partition(_.aggMemGb.isEmpty)
    val derived = live.map(new Derived(_))
    val (pruned, kept) = derived.partition(_.pods > PodLimit)
    require(kept.nonEmpty, "generated input has no kept rows")

    def sum6(f: Derived => Double): Double =
      kept.foldLeft(JBig.ZERO)((s, d) => s.add(dec(f(d), 6))).doubleValue
    val totalTime = sum6(d => (d.in.durationMs - d.in.admissionWaitMs) / 1000.0)
    val podWl = kept.map(_.pods).max
    val matrix = mutable.Map[String, mutable.Map[String, Long]]()
    kept.foreach(_.dims.foreach { case (dim, p) =>
      val row = matrix.getOrElseUpdate(tsize(p), mutable.Map())
      row(dim) = row.getOrElse(dim, 0L) + 1
    })
    val tsizeWl = tsize(podWl)
    val util = Map(
      "cache" -> (sum6(d => d.in.cacheGb * d.durSec), CacheGbPerNode),
      "mem" -> (sum6(d => d.mem * d.durSec), QueryMemPerNode),
      "cpu" -> (sum6(_.in.cpuSec), VcoresPerNode.toDouble),
      "spill" -> (sum6(d => d.in.spillGb * d.durSec), ScratchGbPerNode))
      .map { case (k, (u, perNode)) =>
        k -> (if (podWl == 0 || totalTime == 0) 0.0
          else 100.0 * u / (podWl.toDouble * perNode * totalTime))
      }

    val c = sweep(kept)
    val report = SizingReport(
      totalQueries = derived.size.toLong,
      totalQueryTimeSec = totalTime,
      maxPodsQueryId = kept.maxBy(d => (d.pods, d.in.id)).in.id,
      maxBackends = kept.map(_.in.numBackends).max,
      maxVcores = kept.map(d => round(d.avgVcores, 2)).max,
      maxData = kept.map(d => round(d.avgCache, 2)).max,
      maxSpill = kept.map(d => round(d.avgSpill, 2)).max,
      maxMem = kept.map(d => round(d.avgMem, 2)).max,
      maxDataRate = kept.map(d => round(d.avgRate, 2)).max,
      pools = derived.map(_.in.pool).distinct.sorted,
      pruneCount = pruned.size.toLong,
      podLimit = PodLimit,
      maxConcurrentQueries = c.count,
      maxPodsWorkloadStartUs = c.podsAtUs,
      maxConcurrentCores = c.max(3),
      maxConcurrentCache = c.max(1),
      maxConcurrentSpill = c.max(5),
      maxConcurrentMemory = c.max(2),
      maxConcurrentDataRate = c.max(4),
      minExecutorPodWorkload = podWl,
      maxPodsWorkload = c.max(0),
      tsizeWorkload = tsizeWl,
      constrainedBy = Seq("cache", "mem", "cpu", "spill").filter(d =>
        matrix.get(tsizeWl).exists(_.getOrElse(d, 0L) > 0)),
      matrix = matrix.map { case (t, m) => t -> m.toMap }.toMap,
      utilizationPct = util)
    Sizing(report, kept.size.toLong, pruned.size.toLong, skipped.size.toLong)
  }

  private final case class SweepMax(count: Long, max: IndexedSeq[Double],
      podsAtUs: Long)

  /** Sweep line over admitted/end instants (py:307–396): ends sort before
    * starts at equal instants, then by query id; maxima are taken at
    * start events only; the pods maximum keeps the latest instant (`>=`).
    */
  private def sweep(kept: Seq[Derived]): SweepMax = {
    final case class Ev(ts: Long, kind: Int, id: String, sign: Int,
        d: Array[JBig])
    val evs = kept.flatMap { d =>
      val b = d.b
      val deltas = Array(d.podsRaw, d.in.cacheGb / b, d.mem / b, d.avgVcores,
        d.avgRate, d.in.spillGb / b).map(dec(_, 9))
      val admitted = instantUs(d.in.startIso) + d.in.admissionWaitMs * 1000
      Seq(Ev(admitted, 1, d.in.id, 1, deltas),
        Ev(instantUs(d.in.endIso), 0, d.in.id, -1, deltas))
    }.sortBy(e => (e.ts, e.kind, e.id))
    var count = 0L
    val run = Array.fill(6)(JBig.ZERO)
    var maxCount = Long.MinValue
    val best = Array.fill[JBig](6)(null)
    var atUs = Long.MinValue
    evs.foreach { e =>
      count += e.sign
      for (i <- 0 until 6)
        run(i) = if (e.sign > 0) run(i).add(e.d(i)) else run(i).subtract(e.d(i))
      if (e.sign > 0) {
        maxCount = math.max(maxCount, count)
        if (best(0) == null || run(0).compareTo(best(0)) >= 0) atUs = e.ts
        for (i <- 0 until 6)
          if (best(i) == null || run(i).compareTo(best(i)) > 0) best(i) = run(i)
      }
    }
    SweepMax(maxCount, best.map(_.doubleValue).toIndexedSeq, atUs)
  }

  /** Field-by-field comparison: integers and strings exactly, doubles at
    * the 2dp the report renders. Returns the mismatching fields.
    */
  def diff(want: SizingReport, got: SizingReport): Seq[String] = {
    val out = mutable.ArrayBuffer[String]()
    def eq(name: String, w: Any, g: Any): Unit =
      if (w != g) out += s"$name: want $w got $g"
    def d2(name: String, w: Double, g: Double): Unit =
      eq(name, round(w, 2), round(g, 2))
    eq("totalQueries", want.totalQueries, got.totalQueries)
    d2("totalQueryTimeSec", want.totalQueryTimeSec, got.totalQueryTimeSec)
    eq("maxPodsQueryId", want.maxPodsQueryId, got.maxPodsQueryId)
    eq("maxBackends", want.maxBackends, got.maxBackends)
    d2("maxVcores", want.maxVcores, got.maxVcores)
    d2("maxData", want.maxData, got.maxData)
    d2("maxSpill", want.maxSpill, got.maxSpill)
    d2("maxMem", want.maxMem, got.maxMem)
    d2("maxDataRate", want.maxDataRate, got.maxDataRate)
    eq("pools", want.pools, got.pools)
    eq("pruneCount", want.pruneCount, got.pruneCount)
    eq("maxConcurrentQueries", want.maxConcurrentQueries,
      got.maxConcurrentQueries)
    eq("maxPodsWorkloadStartUs", want.maxPodsWorkloadStartUs,
      got.maxPodsWorkloadStartUs)
    d2("maxConcurrentCores", want.maxConcurrentCores, got.maxConcurrentCores)
    d2("maxConcurrentCache", want.maxConcurrentCache, got.maxConcurrentCache)
    d2("maxConcurrentSpill", want.maxConcurrentSpill, got.maxConcurrentSpill)
    d2("maxConcurrentMemory", want.maxConcurrentMemory,
      got.maxConcurrentMemory)
    d2("maxConcurrentDataRate", want.maxConcurrentDataRate,
      got.maxConcurrentDataRate)
    eq("minExecutorPodWorkload", want.minExecutorPodWorkload,
      got.minExecutorPodWorkload)
    d2("maxPodsWorkload", want.maxPodsWorkload, got.maxPodsWorkload)
    eq("tsizeWorkload", want.tsizeWorkload, got.tsizeWorkload)
    eq("constrainedBy", want.constrainedBy, got.constrainedBy)
    for (t <- Seq("XSMALL", "SMALL", "MEDIUM", "LARGE", "CUSTOM");
         d <- Seq("count", "cache", "mem", "cpu", "spill"))
      eq(s"matrix.$t.$d", want.matrix.get(t).flatMap(_.get(d)).getOrElse(0L),
        got.matrix.get(t).flatMap(_.get(d)).getOrElse(0L))
    for (d <- Seq("cache", "mem", "cpu", "spill"))
      d2(s"utilizationPct.$d", want.utilizationPct(d),
        got.utilizationPct.getOrElse(d, Double.NaN))
    out.toSeq
  }

  // --- streaming -------------------------------------------------------------

  /** Batch sweep over the stream's intervals, in the fold's result shape:
    * (max queries, max pods, cache, mem, cpu, spill, pods-max instant).
    */
  def streamMaxima(all: Seq[Gen.Interval]): Seq[Long] = {
    val evs = all.flatMap { v =>
      val d = Array(v.pods, v.cache, v.mem, v.cpu, v.spill)
      Seq((v.admittedUs, 1, v.id, 1L, d), (v.endUs, 0, v.id, -1L, d))
    }.sortBy(e => (e._1, e._2, e._3))
    val run = new Array[Long](6)
    val best = Array.fill(6)(Long.MinValue)
    var atUs = Long.MinValue
    evs.foreach { case (ts, _, _, sign, d) =>
      run(0) += sign
      for (i <- 0 until 5) run(i + 1) += sign * d(i)
      if (sign > 0) {
        if (run(1) >= best(1)) atUs = ts
        for (i <- 0 until 6) best(i) = math.max(best(i), run(i))
      }
    }
    best.toSeq :+ atUs
  }

  // --- graph -------------------------------------------------------------------

  /** Sequential peel: repeatedly delete vertices whose induced degree is
    * below k; returns survivor → induced degree.
    */
  def kCore(edges: Seq[(Long, Long, Long)], k: Int): Map[Long, Long] = {
    val adj = mutable.Map[Long, mutable.Set[Long]]()
    edges.foreach { case (a, b, _) =>
      if (a != b) {
        adj.getOrElseUpdate(a, mutable.Set()) += b
        adj.getOrElseUpdate(b, mutable.Set()) += a
      }
    }
    val alive = mutable.Set[Long]() ++= adj.keys
    var changed = true
    while (changed) {
      val drop = alive.filter(v => adj(v).count(alive.contains) < k).toSeq
      changed = drop.nonEmpty
      alive --= drop
    }
    alive.iterator.map(v => v -> adj(v).count(alive.contains).toLong).toMap
  }

  /** Synchronous weighted label propagation for exactly `rounds` rounds:
    * argmax Σw over neighbour labels, ties to the minimum label.
    */
  def labelPropagation(edges: Seq[(Long, Long, Long)], rounds: Int)
      : Map[Long, Long] = {
    val sym = mutable.Map[(Long, Long), Long]()
    edges.foreach { case (a, b, w) =>
      if (a != b) {
        sym((a, b)) = sym.getOrElse((a, b), 0L) + w
        sym((b, a)) = sym.getOrElse((b, a), 0L) + w
      }
    }
    val adj = sym.toSeq.groupBy(_._1._1)
      .map { case (v, es) => v -> es.map(e => (e._1._2, e._2)) }
    var lbl = adj.keys.map(v => v -> v).toMap
    for (_ <- 1 to rounds) {
      lbl = adj.map { case (v, ns) =>
        val scores = ns.groupBy(n => lbl(n._1))
          .map { case (l, xs) => (l, xs.map(_._2).sum) }
        v -> scores.minBy(s => (-s._2, s._1))._1
      }
    }
    lbl
  }
}
