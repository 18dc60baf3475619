package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import scala.util.Random

/** One generated Impala query record in the reference's CSV-mode units
  * (GB, seconds, milliseconds). `aggMemGb = None` is a row the sizing
  * run must route to the skip sink.
  */
final case class QueryRow(id: String, pool: String, startMs: Long,
    durationMs: Long, cacheGb: Double, aggMemGb: Option[Double],
    spillGb: Double, cpuSec: Double, admissionWaitMs: Long,
    numBackends: Int) {
  def endMs: Long = startMs + durationMs
}

/** Traffic parameters of a generated querylog (see workloads.json). */
final case class LogParams(rows: Int, pools: Int, poolSkew: Double,
    days: Int, skipShare: Double, pruneShare: Double, tieShare: Double,
    peakShare: Double, durMedianMs: Double, durSigma: Double,
    durCapMs: Long)

/** Seeded input generators. Everything here is a pure function of the
  * seed and the parameters, so the same seed gives byte-identical inputs.
  */
object Gen {
  val MonthStart: Instant = Instant.parse("2021-07-01T00:00:00Z")
  private val DayMs = 86400000L
  private val GiB = 1073741824.0

  private val isoMs = DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(ZoneOffset.UTC)

  /** Cloudera Manager's instant format, always with milliseconds. */
  def iso(ms: Long): String = isoMs.format(Instant.ofEpochMilli(ms))

  def r2(x: Double): Double =
    BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Plain (never scientific) decimal text of a double. */
  def num(d: Double): String = BigDecimal(d).bigDecimal.toPlainString

  private def logNormal(rnd: Random, median: Double, sigma: Double): Double =
    math.exp(math.log(median) + sigma * rnd.nextGaussian())

  /** A month of query telemetry: skewed pools, diurnal peaks at 10:00 and
    * 15:00, log-normal (heavy-tailed) durations, millisecond instants with
    * a share of exact start ties, and the skip/prune shares the sizing run
    * routes to its side sinks.
    */
  def querylog(p: LogParams, rnd: Random): IndexedSeq[QueryRow] = {
    val weights = (0 until p.pools).map(j => math.pow(j + 1.0, -p.poolSkew))
    val cum = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum)
    def pool(): String = {
      val u = rnd.nextDouble()
      f"pool_${cum.indexWhere(_ >= u) max 0}%02d"
    }
    val out = new Array[QueryRow](p.rows)
    var i = 0
    while (i < p.rows) {
      val startMs =
        if (i > 0 && rnd.nextDouble() < p.tieShare) out(rnd.nextInt(i)).startMs
        else {
          val day = rnd.nextInt(p.days)
          val tod =
            if (rnd.nextDouble() < p.peakShare) {
              val centre = if (rnd.nextBoolean()) 10.0 else 15.0
              ((centre + 1.5 * rnd.nextGaussian()) * 3600000).toLong
            } else (rnd.nextDouble() * DayMs).toLong
          MonthStart.toEpochMilli + day * DayMs +
            math.min(DayMs - 1, math.max(0L, tod))
        }
      val dur = math.max(1L, math.min(p.durCapMs,
        logNormal(rnd, p.durMedianMs, p.durSigma).toLong))
      val wait =
        if (rnd.nextDouble() < 0.2)
          math.min(dur / 2, (-500 * math.log(1 - rnd.nextDouble())).toLong)
        else 0L
      val backends = 1 + (if (rnd.nextDouble() < 0.8) rnd.nextInt(8)
        else rnd.nextInt(40))
      val cache =
        if (rnd.nextDouble() < p.pruneShare)
          r2(100001 + rnd.nextDouble() * 50000) // > pod_limit on data alone
        else r2(math.min(50000.0, logNormal(rnd, 3.0, 1.5)))
      val mem =
        if (rnd.nextDouble() < p.skipShare) None
        else Some(r2(math.min(2000.0, logNormal(rnd, 1.5, 1.5))))
      val spill =
        if (rnd.nextDouble() < 0.85) 0.0
        else r2(math.min(5000.0, logNormal(rnd, 5.0, 1.5)))
      val cpu = r2(dur / 1000.0 * backends * (0.05 + 2 * rnd.nextDouble()))
      out(i) = QueryRow(f"${rnd.nextLong()}%016x:$i%08x", pool(), startMs,
        dur, cache, mem, spill, cpu, wait, backends)
      i += 1
    }
    out.toIndexedSeq
  }

  val CsvHeader: String = "query_id,pool,start_time,end_time," +
    "duration_millis,reqd_cache_gb,reqd_agg_mem,memory_spilled_gb," +
    "cpu_time_sec,query_type,admission_wait,num_backends"

  def csvLine(q: QueryRow): String =
    Seq(q.id, q.pool, iso(q.startMs), iso(q.endMs), q.durationMs.toString,
      num(q.cacheGb), q.aggMemGb.map(num).getOrElse(""), num(q.spillGb),
      num(q.cpuSec), "QUERY", q.admissionWaitMs.toString,
      q.numBackends.toString).mkString(",")

  def writeCsv(rows: Seq[QueryRow], path: Path): Long = {
    val w = Files.newBufferedWriter(path, UTF_8)
    try {
      w.write(CsvHeader); w.write('\n')
      rows.foreach { q => w.write(csvLine(q)); w.write('\n') }
    } finally w.close()
    Files.size(path)
  }

  /** The same record as a Cloudera Manager `impalaQueries` document: raw
    * bytes and milliseconds inside the `attributes` string map; skip rows
    * lack `memory_aggregate_peak`.
    */
  def cmAttributes(q: QueryRow): Seq[(String, String)] =
    Seq("pool" -> q.pool,
      "hdfs_bytes_read" -> math.round(q.cacheGb * GiB).toString) ++
      q.aggMemGb.map(m => "memory_aggregate_peak" ->
        math.round(m * GiB).toString) ++
      Seq("memory_spilled" -> math.round(q.spillGb * GiB).toString,
        "thread_cpu_time" -> math.round(q.cpuSec * 1000).toString,
        "admission_wait" -> q.admissionWaitMs.toString,
        "num_backends" -> q.numBackends.toString)

  def cmDocument(q: QueryRow): String = {
    val attrs = cmAttributes(q).map { case (k, v) => s""""$k":"$v"""" }
      .mkString(",")
    s"""{"queryId":"${q.id}","startTime":"${iso(q.startMs)}",""" +
      s""""endTime":"${iso(q.endMs)}","durationMillis":${q.durationMs},""" +
      s""""queryState":"FINISHED","user":"u${q.numBackends % 7}",""" +
      s""""queryType":"QUERY","attributes":{$attrs}}"""
  }

  // --- interval stream ----------------------------------------------------

  /** One query interval on the live stream, in the streaming operator's
    * integer units (µs instants, pods, bytes per backend, milli-vcores).
    */
  final case class Interval(id: String, admittedUs: Long, endUs: Long,
      pods: Long, cache: Long, mem: Long, cpu: Long, spill: Long)

  val StreamEpochUs: Long =
    Instant.parse("2021-07-12T00:00:00Z").toEpochMilli * 1000

  /** `files` files of `rowsPerFile` intervals. File j holds starts in the
    * event-time window [j·windowUs, (j+1)·windowUs), shuffled so events
    * arrive out of order within the file; durations are log-normal and
    * capped at `durCapUs`, so a watermark delay above the cap plus one
    * window never drops an event.
    */
  def intervals(files: Int, rowsPerFile: Int, windowUs: Long,
      durMedianUs: Double, durSigma: Double, durCapUs: Long,
      tieShare: Double, rnd: Random): IndexedSeq[IndexedSeq[Interval]] =
    (0 until files).map { j =>
      val base = StreamEpochUs + j * windowUs
      val rows = new Array[Interval](rowsPerFile)
      var i = 0
      while (i < rowsPerFile) {
        // millisecond instants keep the CSV text exact
        val s =
          if (i > 0 && rnd.nextDouble() < tieShare) rows(rnd.nextInt(i)).admittedUs
          else base + (rnd.nextDouble() * windowUs).toLong / 1000 * 1000
        val d = math.max(1000L, math.min(durCapUs,
          logNormal(rnd, durMedianUs, durSigma).toLong)) / 1000 * 1000
        val backends = 1 + rnd.nextInt(8)
        rows(i) = Interval(f"s$j%05d-$i%05d", s, s + d, 1 + rnd.nextInt(6),
          (logNormal(rnd, 3e9, 1.2) / backends).toLong,
          (logNormal(rnd, 1.5e9, 1.2) / backends).toLong,
          1000L * (1 + rnd.nextInt(16)),
          if (rnd.nextDouble() < 0.85) 0L else rnd.nextInt(1 << 30).toLong)
        i += 1
      }
      rnd.shuffle(rows.toIndexedSeq)
    }

  val IntervalHeader: String = "queryId,admitted,end,pods,cachePerBackend," +
    "memPerBackend,cpuMilliVcores,spillPerBackend"

  def intervalLine(v: Interval): String =
    Seq(v.id, iso(v.admittedUs / 1000), iso(v.endUs / 1000), v.pods, v.cache,
      v.mem, v.cpu, v.spill).mkString(",")

  // --- graph ----------------------------------------------------------------

  /** A skewed (Chung–Lu power-law) core graph plus pendant chains of up to
    * `peelDepth` vertices, one of exactly `peelDepth`. Under a 2-core peel
    * each round strips one vertex off every chain's free end. Chains hang
    * off the ten heaviest hubs, which stay in the core, so the peel takes
    * `peelDepth` rounds on every seed (a chain hung off a pendant tree
    * would add the tree's depth). Returns weighted edges (a, b, w), w in 1..5.
    */
  def graph(coreVertices: Int, coreEdges: Int, chains: Int, peelDepth: Int,
      rnd: Random): IndexedSeq[(Long, Long, Long)] = {
    val w = (1 to coreVertices).map(i => math.pow(i.toDouble, -0.75))
    val cum = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    def pick(): Long = {
      val i = java.util.Arrays.binarySearch(cum, rnd.nextDouble())
      (if (i >= 0) i else -i - 1).min(coreVertices - 1).toLong
    }
    val core = Iterator.continually((pick(), pick()))
      .filter { case (a, b) => a != b }.take(coreEdges)
      .map { case (a, b) => (a, b, 1L + rnd.nextInt(5)) }.toIndexedSeq
    var next = coreVertices.toLong
    val tails = (0 until chains).flatMap { c =>
      val len = if (c == 0) peelDepth else 1 + rnd.nextInt(peelDepth)
      var prev = rnd.nextInt(math.min(10, coreVertices)).toLong
      (0 until len).map { _ =>
        val e = (prev, next, 1L + rnd.nextInt(5))
        prev = next; next += 1
        e
      }
    }
    core ++ tails
  }
}
