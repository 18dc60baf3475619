package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.ops.Graph
import graft.sizing.{Pipeline, SizingConfig, SizingReport}
import graft.streaming.{StreamConf, StreamingConcurrency}
import graft.streaming.StreamingConcurrency.{BucketSummary, GlobalAccumulator, QueryInterval}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/** One op's measurement: wall interval, latency, process CPU, rows. */
final case class Op(startMs: Long, endMs: Long, latencyS: Double,
    cpuS: Double, rows: Long, ok: Boolean)

/** What a timed body produced. `rowsPerS` and `cpuS` are the
  * workload's own end-to-end figures; `layer` holds workload-specific
  * per-layer values (already per op) and `spans` the top-level spans.
  */
final case class Body(ops: Seq[Op], rowsPerS: Double, cpuPerOpS: Double,
    layer: Map[String, Double], spans: Seq[Trace.Span])

/** A benchmark workload: inputs made from the seed in `prepare`, an
  * untimed warm-up op on the same inputs, and a timed body of ops.
  * `opsLimit` fixes the op count (traced runs); otherwise ops run until
  * `seconds` have passed.
  */
abstract class Workload(val name: String, val owner: String) {
  def prepare(): Unit
  def inputRows: Long
  def inputBytes: Long
  def warmup(spark: SparkSession): Unit
  def body(spark: SparkSession, seconds: Double, opsLimit: Option[Int]): Body
  def close(): Unit = ()
}

object Workload {
  def cpuNs(): Long = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(Files.delete)
      finally s.close()
    }

  /** Fewest ops a timed closed-loop body runs, however long they take.
    * The first op is the slowest while the JIT is still compiling; the
    * median of three leaves it out. A fourth op cost ~5 s a run and, on
    * the same runs, moved the spread of the median by under 0.03.
    */
  val MinOps = 3

  /** Runs `op(i)` closed-loop. The op's timed part returns its output
    * check, which runs after the op's clock has stopped.
    */
  def closedLoop(seconds: Double, opsLimit: Option[Int], owner: String)(
      op: Int => (Long, () => Boolean)): Body = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val ops = mutable.ArrayBuffer[Op]()
    var i = 0
    while (opsLimit.fold(i < MinOps || System.nanoTime() < deadline)(i < _)) {
      val c0 = cpuNs(); val w0 = System.currentTimeMillis(); val t0 = System.nanoTime()
      val (rows, check) =
        try op(i) catch { case e: Exception =>
          System.err.println(s"op $i failed: $e"); e.printStackTrace()
          (0L, () => false)
        }
      val t1 = System.nanoTime(); val w1 = System.currentTimeMillis(); val c1 = cpuNs()
      val ok = try check() catch { case e: Exception =>
        System.err.println(s"op $i check failed: $e"); false }
      ops += Op(w0, w1, (t1 - t0) / 1e9, (c1 - c0) / 1e9, rows, ok)
      i += 1
    }
    val good = ops.filter(_.ok)
    Body(ops.toSeq, good.map(_.rows).sum / math.max(1e-9, good.map(_.latencyS).sum),
      ops.map(_.cpuS).sum / ops.size, Map.empty,
      ops.map(o => Trace.Span(o.startMs, o.endMs, owner)).toSeq)
  }

  /** Data rows of a Spark CSV sink directory (one header per part file),
    * or None when the sink was not written.
    */
  def sinkRows(dir: Path, header: Boolean): Option[Long] =
    if (!Files.isDirectory(dir)) None
    else Some(Files.list(dir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-")).map { f =>
        val n = Files.lines(f).count()
        if (header && n > 0) n - 1 else n
      }.sum)

  def sinkFiles(dir: Path): Int =
    if (!Files.isDirectory(dir)) 0
    else Files.list(dir).iterator().asScala
      .count(_.getFileName.toString.startsWith("part-"))

  /** Checks a report and its three sinks against the reference. */
  def checkSizing(want: Reference.Sizing, got: SizingReport, out: Path,
      cfg: SizingConfig, label: String): Boolean = {
    val d = Reference.diff(want.report, got)
    def expect(n: Long) = if (n > 0) Some(n) else None
    val sinks = Seq(
      ("main", sinkRows(out.resolve(cfg.outputFile), header = true), Some(want.mainRows)),
      ("prune", sinkRows(out.resolve(cfg.pruneOutputFile), header = true), expect(want.prunedRows)),
      ("skip", sinkRows(out.resolve(cfg.skipQueryFile), header = false), expect(want.skippedRows)))
      .collect { case (n, g, w) if g != w => s"sink $n: want $w got $g" }
    (d ++ sinks).foreach(m => System.err.println(s"$label mismatch: $m"))
    d.isEmpty && sinks.isEmpty
  }

  def logParams(p: JsonNode, rows: Int, pools: Int, poolSkew: Double): LogParams =
    LogParams(rows, pools, poolSkew, p.get("days").asInt,
      p.get("skip_share").asDouble, p.get("prune_share").asDouble,
      p.get("tie_share").asDouble, p.get("peak_share").asDouble,
      p.get("dur_median_ms").asDouble, p.get("dur_sigma").asDouble,
      p.get("dur_cap_ms").asLong)
}

import Workload._

/** `Pipeline.run` over one generated month-long querylog CSV. */
final class MonthCsv(p: JsonNode, work: Path, seed: Long)
    extends Workload("month_csv", "sizing") {
  private val csv = work.resolve("month.csv")
  private var rows = 0L
  private var bytes = 0L
  private var want: Reference.Sizing = _
  private var files = 0L
  def inputRows: Long = rows
  def inputBytes: Long = bytes

  def prepare(): Unit = {
    val lp = logParams(p, p.get("rows").asInt, p.get("pools").asInt,
      p.get("pool_skew").asDouble)
    val log = Gen.querylog(lp, new Random(seed))
    rows = log.size; bytes = Gen.writeCsv(log, csv)
    want = Reference.sizing(log.map(Reference.fromRow))
  }

  def warmup(spark: SparkSession): Unit = {
    val out = work.resolve("warm")
    try Pipeline.run(spark, SizingConfig(inputFile = Some(csv.toString)), out.toString)
    finally deleteTree(out)
  }

  def body(spark: SparkSession, seconds: Double, opsLimit: Option[Int]): Body = {
    files = 0
    val b = closedLoop(seconds, opsLimit, owner) { i =>
      val out = work.resolve(s"out-$i")
      val cfg = SizingConfig(inputFile = Some(csv.toString))
      val got = Pipeline.run(spark, cfg, out.toString)
      (rows, () => {
        files += Seq(cfg.outputFile, cfg.pruneOutputFile, cfg.skipQueryFile)
          .map(f => sinkFiles(out.resolve(f))).sum
        try checkSizing(want, got, out, cfg, s"$name op $i") finally deleteTree(out)
      })
    }
    b.copy(layer = Map("sizing.sink_files" -> files.toDouble / b.ops.size))
  }
}

/** One `Pipeline.runRest` report per pool against the loopback CM. */
final class ApiPools(p: JsonNode, work: Path, seed: Long, k: Int)
    extends Workload("api_pools", "sizing") {
  private val PageLimit = 1000
  private var server: CmServer = _
  private var byPool: Map[String, IndexedSeq[QueryRow]] = Map.empty
  private var order: IndexedSeq[String] = IndexedSeq.empty
  private val want = mutable.Map[String, Reference.Sizing]()
  private val pwFile = work.resolve("cm.password")
  private var rows = 0L
  private var files = 0L
  def inputRows: Long = rows
  def inputBytes: Long = byPool.values.flatten.map(q => Gen.cmDocument(q).length.toLong).sum

  def prepare(): Unit = {
    val pools = p.get("pools").asInt
    val log = Gen.querylog(logParams(p, pools * p.get("rows_per_pool").asInt,
      pools, 0.0), new Random(seed))
    rows = log.size
    byPool = log.groupBy(_.pool)
    order = new Random(seed).shuffle(byPool.keys.toIndexedSeq.sorted)
    val password = f"pw${seed}%x"
    Files.writeString(pwFile, java.util.Base64.getEncoder
      .encodeToString(password.getBytes(UTF_8)))
    server = new CmServer(log, "bench", password, p.get("truncate_at").asInt)
    order.take(2).foreach(reference)
  }

  private def reference(pool: String): Reference.Sizing =
    want.getOrElseUpdate(pool, Reference.sizing(byPool(pool).map(Reference.fromDocument)))

  private def options: Map[String, String] = Map(
    "url" -> server.url, "from" -> Gen.iso(Gen.MonthStart.toEpochMilli),
    "to" -> Gen.iso(Gen.MonthStart.toEpochMilli + p.get("days").asLong * 86400000L),
    "slices" -> k.toString, "limit" -> PageLimit.toString,
    "user" -> "bench", "passwordFile" -> pwFile.toString)

  private def report(spark: SparkSession, pool: String, out: Path): (SizingConfig, SizingReport) = {
    val cfg = SizingConfig(pool = Some(pool))
    (cfg, Pipeline.runRest(spark, cfg, options, out.toString))
  }

  def warmup(spark: SparkSession): Unit = {
    val out = work.resolve("warm")
    try report(spark, order.last, out) finally deleteTree(out)
  }

  def body(spark: SparkSession, seconds: Double, opsLimit: Option[Int]): Body = {
    server.resetCounters()
    files = 0
    val b = closedLoop(seconds, opsLimit, owner) { i =>
      val pool = order(i % order.size)
      val out = work.resolve(s"out-$i")
      val (cfg, got) = report(spark, pool, out)
      (byPool(pool).size.toLong, () => {
        files += Seq(cfg.outputFile, cfg.pruneOutputFile, cfg.skipQueryFile)
          .map(f => sinkFiles(out.resolve(f))).sum
        try checkSizing(reference(pool), got, out, cfg, s"$name op $i pool $pool")
        finally deleteTree(out)
      })
    }
    val n = b.ops.size.toDouble
    b.copy(layer = Map(
      "sizing.sink_files" -> files / n,
      "sources.pages_fetched" -> server.requests.get / n,
      "sources.refetch_ratio" -> server.requests.get.toDouble / math.max(1L, server.distinctPages),
      "sources.http_s" -> server.handlerNanos.get / 1e9 / n,
      "sources.truncations" -> server.truncations.get / n))
  }

  override def close(): Unit = if (server != null) server.stop()
}

/** Open-loop interval stream through `StreamingConcurrency`: one CSV file
  * is due every trigger period; each micro-batch takes one file.
  */
final class LiveMonitor(p: JsonNode, work: Path, seed: Long, seconds: Int)
    extends Workload("live_monitor", "streaming") {
  private val periodMs = p.get("trigger_ms").asLong
  private val rowsPerFile = p.get("rows_per_file").asInt
  private val bucketUs = 10L * 1000000L
  // the duration cap plus one file's event window, plus slack: no event is late
  private val watermark =
    s"${p.get("dur_cap_s").asLong + p.get("window_s").asLong + 5} seconds"
  // enough single-file batches that the body's batches after the first
  // run at an even pace
  private val WarmupFiles = 16
  private var files: IndexedSeq[IndexedSeq[Gen.Interval]] = IndexedSeq.empty
  private var runs = 0
  def inputRows: Long = files.map(_.size.toLong).sum
  def inputBytes: Long = files.flatten.map(v => Gen.intervalLine(v).length + 1L).sum

  private def gen(n: Int, rnd: Random) = Gen.intervals(n, rowsPerFile,
    p.get("window_s").asLong * 1000000L, p.get("dur_median_s").asDouble * 1e6,
    p.get("dur_sigma").asDouble, p.get("dur_cap_s").asLong * 1000000L,
    p.get("tie_share").asDouble, rnd)

  def prepare(): Unit = {
    val n = Seq(WarmupFiles, p.get("trace_ops").asInt, (seconds * 1000 / periodMs).toInt).max
    files = gen(n, new Random(seed))
  }

  private val schema = StructType(Seq(
    StructField("queryId", StringType), StructField("admitted", TimestampType),
    StructField("end", TimestampType), StructField("pods", LongType),
    StructField("cachePerBackend", LongType), StructField("memPerBackend", LongType),
    StructField("cpuMilliVcores", LongType), StructField("spillPerBackend", LongType)))

  private def fileText(rows: Seq[Gen.Interval]): String =
    (Gen.IntervalHeader +: rows.map(Gen.intervalLine)).mkString("", "\n", "\n")

  private val sentinel = Gen.Interval("sentinel", Gen.StreamEpochUs + 1000000L * 1000000L,
    Gen.StreamEpochUs + 1000001L * 1000000L, 0, 0, 0, 0, 0)

  /** Streams `data` (one file per period, then a far-future sentinel that
    * closes every bucket), drains the query and checks the fold.
    */
  private def stream(spark: SparkSession, data: IndexedSeq[IndexedSeq[Gen.Interval]],
      pace: Boolean): StreamRun = {
    import spark.implicits._
    runs += 1
    val dir = work.resolve(s"stream-$runs")
    val in = Files.createDirectories(dir.resolve("in"))
    val tmp = Files.createDirectories(dir.resolve("tmp"))
    val got = new ConcurrentLinkedQueue[BucketSummary]()
    val sink: (Dataset[BucketSummary], Long) => Unit =
      (b, _) => got.addAll(b.collect().toSeq.asJava)
    def drop(j: Int, rows: Seq[Gen.Interval]): Unit = {
      val f = tmp.resolve(f"part-$j%05d.csv")
      Files.writeString(f, fileText(rows))
      Files.move(f, in.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
    }
    try StreamConf.withStateParts(spark) {
      spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
      val src = spark.readStream.schema(schema).option("header", "true")
        .option("maxFilesPerTrigger", "1").csv(in.toString).as[QueryInterval]
      val q = StreamingConcurrency.bucketSummaries(
        StreamingConcurrency.events(src, bucketUs), bucketUs, watermark)
        .writeStream.option("checkpointLocation", dir.resolve("ckpt").toString)
        .foreachBatch(sink).start()
      try {
        val t0 = System.currentTimeMillis() + 100
        val due = data.indices.map(j => t0 + j * periodMs)
        val c0 = cpuNs()
        // Unpaced (warm-up) files are taken one at a time: the file source
        // orders files by modification time, and a later window read
        // first would put earlier events behind the watermark.
        data.indices.foreach { j =>
          if (pace) { val w = due(j) - System.currentTimeMillis(); if (w > 0) Thread.sleep(w) }
          drop(j, data(j))
          if (!pace) q.processAllAvailable()
        }
        if (pace) { val w = t0 + data.size * periodMs - System.currentTimeMillis(); if (w > 0) Thread.sleep(w) }
        q.processAllAvailable()
        drop(data.size, Seq(sentinel))
        val want = 2L * data.map(_.size).sum
        val sentinelBucket = Math.floorDiv(sentinel.admittedUs, bucketUs)
        def closed = got.asScala.toSeq.filter(_.bucket < sentinelBucket)
        val limit = System.currentTimeMillis() + 60000
        q.processAllAvailable()
        while (closed.map(_.nEvents).sum < want && System.currentTimeMillis() < limit) {
          Thread.sleep(20); q.processAllAvailable()
        }
        val cpuS = (cpuNs() - c0) / 1e9
        val progress = q.recentProgress.toSeq.sortBy(_.batchId)
        val dataBatches = progress.filter(_.numInputRows > 0).take(data.size)
        val ops = dataBatches.zipWithIndex.map { case (b, j) =>
          val start = java.time.Instant.parse(b.timestamp).toEpochMilli
          val end = start + b.durationMs.get("triggerExecution").longValue
          Op(start, end, (end - due(j)) / 1e3, 0.0, b.numInputRows,
            b.numInputRows == data(j).size)
        }
        val m = GlobalAccumulator.fold(closed)
        val ref = Reference.streamMaxima(data.flatten)
        val folded = m.toSeq.flatMap(x => Seq(x.maxConcurrentQueries, x.maxPods,
          x.maxCache, x.maxMem, x.maxCpu, x.maxSpill, x.maxPodsAtUs))
        val ok = folded == ref && closed.map(_.nEvents).sum == want &&
          ops.size == data.size
        if (!ok) System.err.println(s"$name mismatch: fold $folded want $ref " +
          s"events ${closed.map(_.nEvents).sum}/$want batches ${ops.size}/${data.size}")
        StreamRun(ops, progress, due, cpuS, ok)
      } finally q.stop()
    } finally deleteTree(dir)
  }

  def warmup(spark: SparkSession): Unit =
    stream(spark, files.take(WarmupFiles), pace = false)

  def body(spark: SparkSession, seconds: Double, opsLimit: Option[Int]): Body = {
    val n = opsLimit.getOrElse(math.max(1, (seconds * 1000 / periodMs).toInt))
    val r = stream(spark, files.take(n), pace = true)
    val ops = r.ops.map(o => o.copy(ok = o.ok && r.ok))
    val last = ops.lastOption.map(_.endMs).getOrElse(r.dueMs.head)
    val rowsPerS = ops.map(_.rows).sum / math.max(1e-3, (last - r.dueMs.head) / 1e3)
    // backlog: files already due when a data batch starts, beyond the one
    // it takes, that no earlier batch has taken
    val backlog = r.progress.filter(_.numInputRows > 0).take(n).zipWithIndex.map { case (b, j) =>
      val start = java.time.Instant.parse(b.timestamp).toEpochMilli
      math.max(0, r.dueMs.count(_ <= start) - j - 1) * rowsPerFile.toLong
    }
    Body(ops, rowsPerS, r.cpuS / math.max(1, ops.size),
      Map("streaming.backlog_rows" -> backlog.foldLeft(0L)(math.max).toDouble), Nil)
  }
}

/** One streamed run: ops (data batches), every batch's progress, the
  * files' due instants, process CPU and the fold check.
  */
final case class StreamRun(ops: Seq[Op],
    progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
    dueMs: IndexedSeq[Long], cpuS: Double, ok: Boolean)

/** `Graph.kCore` then `Graph.labelPropagation` on a seeded skewed graph;
  * one op is both calls on the same edge list, results collected.
  */
final class GraphRounds(p: JsonNode, seed: Long)
    extends Workload("graph_rounds", "ops") {
  private val kc = 2
  private val lpaRounds = 2
  private var edges: IndexedSeq[(Long, Long, Long)] = IndexedSeq.empty
  private var wantCore: Map[Long, Long] = Map.empty
  private var wantLpa: Map[Long, Long] = Map.empty
  def inputRows: Long = edges.size.toLong
  def inputBytes: Long = edges.size * 24L

  def prepare(): Unit = {
    edges = Gen.graph(p.get("core_vertices").asInt, p.get("core_edges").asInt,
      p.get("chains").asInt, p.get("peel_depth").asInt, new Random(seed))
    wantCore = Reference.kCore(edges, kc)
    wantLpa = Reference.labelPropagation(edges, lpaRounds)
  }

  private def run(spark: SparkSession, es: Seq[(Long, Long, Long)])
      : (Map[Long, Long], Map[Long, Long]) = {
    import spark.implicits._
    val df = es.toDF("a", "b", "w")
    val core = Graph.kCore(df.select("a", "b"), kc).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lpa = Graph.labelPropagation(df, lpaRounds).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (core, lpa)
  }

  def warmup(spark: SparkSession): Unit = run(spark, edges)

  def body(spark: SparkSession, seconds: Double, opsLimit: Option[Int]): Body =
    closedLoop(seconds, opsLimit, owner) { i =>
      val (core, lpa) = run(spark, edges)
      (edges.size.toLong, () => {
        val ok = core == wantCore && lpa == wantLpa
        if (!ok) System.err.println(s"$name op $i mismatch: kCore " +
          s"${core.size}/${wantCore.size} vertices equal=${core == wantCore}, " +
          s"LPA equal=${lpa == wantLpa}")
        ok
      })
    }
}
