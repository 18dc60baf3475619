package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Benchmark entry point: one workload, one seed, one run.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --params perfbench/workloads.json --work <dir>
  * }}}
  *
  * Prints an environment stamp line, a human-readable line, and as the
  * last line one JSON object {correct, attempted, failed, metrics}. With
  * `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
  * they are the per-layer ones plus the tracing overhead.
  */
object Main {

  /** Most cores the session runs on: `local[min(KMax, nproc)]`. */
  val KMax = 4

  private def arg(a: Map[String, String], k: String): String =
    a.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val code =
      try run(arg(a, "workload"), arg(a, "seed").toLong, arg(a, "seconds").toInt,
        arg(a, "trace") == "1", Paths.get(arg(a, "params")), Paths.get(arg(a, "work")))
      catch { case e: Throwable => e.printStackTrace(); 2 }
    System.out.flush()
    sys.exit(code)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def session(k: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$k]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", k.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Max heap used, sampled every 5 ms while a body runs. */
  private final class HeapSampler extends Thread("perfbench-heap") {
    setDaemon(true)
    @volatile private var running = true
    @volatile var peak = 0L
    private val mem = ManagementFactory.getMemoryMXBean
    override def run(): Unit = while (running) {
      peak = math.max(peak, mem.getHeapMemoryUsage.getUsed)
      Thread.sleep(5)
    }
    def finish(): Unit = { running = false; join() }
  }

  private def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Contention probe: wall time of k threads each spinning a fixed loop,
    * over the wall time of one thread doing the same (near 1 on an idle
    * machine; well above 1 when other processes hold the cores), and the
    * one thread's time, which shows a host that is slow on every core.
    */
  def probe(k: Int): (Double, Double) = {
    def spin(): Long = {
      var x = 1L; var i = 0
      while (i < 20000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
      x
    }
    def timed(n: Int): Double = {
      val t0 = System.nanoTime()
      val ts = (1 to n).map(_ => new Thread(() => { spin(); () }))
      ts.foreach(_.start()); ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    timed(1)
    val runs = (1 to 3).map(_ => (timed(k), timed(1)))
    (runs.map { case (all, one) => all / one }.min, runs.map(_._2).min)
  }

  private def workload(name: String, p: JsonNode, work: Path, seed: Long, k: Int,
      seconds: Int): Workload = name match {
    case "month_csv" => new MonthCsv(p, work, seed)
    case "api_pools" => new ApiPools(p, work, seed, k)
    case "live_monitor" => new LiveMonitor(p, work, seed, seconds)
    case "graph_rounds" => new GraphRounds(p, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  final case class E2e(p50: Double, rowsPerS: Double, cpuS: Double, heapMb: Double)

  private def timed(spark: SparkSession, w: Workload, seconds: Double,
      opsLimit: Option[Int]): (Body, E2e) = {
    val sampler = new HeapSampler
    sampler.start()
    val b = try w.body(spark, seconds, opsLimit) finally sampler.finish()
    val lat = b.ops.filter(_.ok).map(_.latencyS)
    (b, E2e(median(lat), b.rowsPerS, b.cpuPerOpS, sampler.peak / 1048576.0))
  }

  private def fmt(d: Double): String =
    if (d.isNaN || d.isInfinite) "0.0" else java.lang.Double.toString(d)

  private def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")

  def run(name: String, seed: Long, seconds: Int, trace: Boolean,
      paramsFile: Path, work: Path): Int = {
    val params = new ObjectMapper().readTree(paramsFile.toFile)
    val p = Option(params.get("workloads").get(name))
      .getOrElse(throw new IllegalArgumentException(s"unknown workload $name"))
    val nproc = Runtime.getRuntime.availableProcessors
    val k = math.min(KMax, nproc)
    Files.createDirectories(work)
    val (probeBefore, spinBefore) = probe(k)
    val w = workload(name, p, work, seed, k, seconds)
    var spark: SparkSession = null
    try {
      val g0 = System.nanoTime()
      w.prepare()
      val prepS = (System.nanoTime() - g0) / 1e9

      // Set-up: the cold JVM's session start plus the warm-up op, timed
      // once per run (a repeat would cost as much as a body op).
      val s0 = System.nanoTime()
      spark = session(k, work)
      w.warmup(spark)
      val setupS = (System.nanoTime() - s0) / 1e9

      val traceOps = p.get("trace_ops").asInt
      var bodyGcS = 0.0
      val (body, e2e, layerMetrics) =
        if (!trace) {
          val gc0 = gcS()
          val (b, e) = timed(spark, w, seconds, None)
          bodyGcS = gcS() - gc0
          (b, e, Seq.empty)
        } else {
          // Overhead: the same warm-up and the same fixed op list run
          // untraced, traced, untraced; overhead is traced minus the mean
          // of the two untraced blocks, which cancels steady drift.
          def warm(): Double = {
            val t0 = System.nanoTime(); w.warmup(spark); (System.nanoTime() - t0) / 1e9
          }
          val warmPlainA = warm()
          val wt = new Trace(spark, k)
          wt.install()
          val warmTraced = try warm() finally wt.uninstall()
          val warmPlain = (warmPlainA + warm()) / 2
          val (_, plainA) = timed(spark, w, seconds, Some(traceOps))
          val tr = new Trace(spark, k)
          tr.install()
          val gc0 = gcS()
          val (b, e) = try timed(spark, w, seconds, Some(traceOps)) finally tr.uninstall()
          val gc = gcS() - gc0
          Files.write(work.resolveSibling(s"../.runs/$name-seed$seed-spans.jsonl").normalize,
            tr.spansJson(b.spans ++ tr.batchSpans).asJava)
          val (_, plainB) = timed(spark, w, seconds, Some(traceOps))
          def mid(f: E2e => Double) = (f(plainA) + f(plainB)) / 2
          (b, e, layerReport(tr, b, w, k, gc) ++ Seq(
            ("overhead.latency_p50_s", e.p50 - mid(_.p50), "s"),
            ("overhead.rows_per_s", e.rowsPerS - mid(_.rowsPerS), "rows/s"),
            ("overhead.cpu_s", e.cpuS - mid(_.cpuS), "s/op"),
            ("overhead.peak_heap_mb", e.heapMb - mid(_.heapMb), "MB"),
            ("overhead.setup_s", warmTraced - warmPlain, "s")))
        }
      spark.stop(); spark = null
      val (probeAfter, spinAfter) = probe(k)

      val attempted = body.ops.size
      val failed = body.ops.count(!_.ok)
      val lat = body.ops.filter(_.ok).map(_.latencyS).sorted
      val tail =
        if (lat.size >= 11) {
          val i = lat.size - 11
          f""""latency_tail_s": ${fmt(lat(i))}, "tail_pct": ${100.0 * (i + 1) / lat.size}%.1f, """
        } else ""
      val stamp = Seq(
        "nproc" -> nproc, "k" -> k,
        "driver_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "jvm" -> s""""${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"""",
        "spark" -> s""""${org.apache.spark.SPARK_VERSION}"""",
        "scala" -> s""""${scala.util.Properties.versionNumberString}"""",
        "git_commit" -> s""""${sys.env.getOrElse("PERFBENCH_GIT_COMMIT", "unknown")}"""",
        "source_sha" -> s""""${sys.env.getOrElse("PERFBENCH_SOURCE_SHA", "unknown")}"""",
        "seed" -> seed, "workload" -> s""""$name"""",
        "input_rows" -> w.inputRows, "input_bytes" -> w.inputBytes,
        "probe_before" -> f"$probeBefore%.3f", "probe_after" -> f"$probeAfter%.3f",
        "spin_1t_s_before" -> f"$spinBefore%.4f", "spin_1t_s_after" -> f"$spinAfter%.4f",
        "contended" -> (math.max(probeBefore, probeAfter) > 1.3))
      println(stamp.map { case (key, v) => s""""$key": $v""" }.mkString("""{"stamp": {""", ", ", "}}"))
      println(s"""{"summary": {"workload": "$name", "ops": $attempted, "failed": $failed, """ +
        s""""error_rate": ${fmt(failed.toDouble / math.max(1, attempted))}, """ +
        s""""latency_p50_s": ${fmt(e2e.p50)}, $tail"rows_per_s": ${fmt(e2e.rowsPerS)}, """ +
        s""""cpu_s": ${fmt(e2e.cpuS)}, "peak_heap_mb": ${fmt(e2e.heapMb)}, """ +
        s""""setup_s": ${fmt(setupS)}, """ +
        s""""prepare_s": ${fmt(prepS)}, "traced": $trace, "body_gc_s": ${fmt(bodyGcS)}, """ +
        s""""op_latencies_s": [${body.ops.map(o => f"${o.latencyS}%.3f").mkString(", ")}]}}""")
      val metrics =
        if (trace) layerMetrics
        else Seq(("latency_p50_s", e2e.p50, "s"), ("rows_per_s", e2e.rowsPerS, "rows/s"),
          ("cpu_s", e2e.cpuS, "s/op"), ("peak_heap_mb", e2e.heapMb, "MB"),
          ("setup_s", setupS, "s"))
      println(s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, """ +
        s""""failed": $failed, "metrics": ${metricsJson(metrics)}}""")
      0
    } finally {
      if (spark != null) spark.stop()
      w.close()
    }
  }

  /** The per-layer metrics of a traced body, per op unless a ratio/peak. */
  private def layerReport(tr: Trace, b: Body, w: Workload, k: Int, gc: Double)
      : Seq[(String, Double, String)] = {
    val n = math.max(1, b.ops.size).toDouble
    val layers = tr.layers(b.spans ++ tr.batchSpans)
    val streaming = tr.streamingMetrics(n)
    val perLayer = Trace.Layers.flatMap { l =>
      val x = layers(l)
      Seq((s"$l.self_s", x.selfS / n, "s/op"),
        (s"$l.driver_s", (x.selfS - x.execRunS / k) / n, "s/op"),
        (s"$l.actions", x.actions / n, "count/op"),
        (s"$l.jobs", x.jobs / n, "count/op"),
        (s"$l.tasks", x.tasks / n, "count/op"),
        (s"$l.exec_run_s", x.execRunS / n, "s/op"),
        (s"$l.exec_cpu_s", x.execCpuS / n, "s/op"),
        (s"$l.planning_s",
          if (l == "streaming") streaming("streaming.planning_s") else x.planningS / n, "s/op"),
        (s"$l.shuffle_mb", x.shuffleMb / n, "MB/op"),
        (s"$l.spill_mb", x.spillMb / n, "MB/op"))
    }
    def get(key: String) = b.layer.getOrElse(key, 0.0)
    val fileBytes = if (w.isInstanceOf[MonthCsv]) w.inputBytes.toDouble else 0.0
    // the REST page counters exist only where a run reads from CmServer
    val rest = Seq(("sources.pages_fetched", "count/op"), ("sources.refetch_ratio", "ratio"),
      ("sources.http_s", "s/op"), ("sources.truncations", "count/op"))
      .collect { case (key, unit) if b.layer.contains(key) => (key, b.layer(key), unit) }
    perLayer ++ Seq(
      ("sources.rows_in", tr.scanRecords / n, "rows/op"),
      ("sources.input_passes", if (fileBytes > 0) tr.scanBytes / fileBytes / n else 0.0, "ratio")) ++
    rest ++ Seq(
      ("sizing.sink_mb", tr.sinkBytes / 1e6 / n, "MB/op"),
      ("sizing.sink_files", get("sizing.sink_files"), "count/op"),
      ("streaming.batches", streaming("streaming.batches"), "count/op"),
      ("streaming.batch_s", streaming("streaming.batch_s"), "s/op"),
      ("streaming.commit_s", streaming("streaming.commit_s"), "s/op"),
      ("streaming.state_rows", streaming("streaming.state_rows"), "rows"),
      ("streaming.state_mb", streaming("streaming.state_mb"), "MB"),
      ("streaming.backlog_rows", get("streaming.backlog_rows"), "rows"),
      ("jvm.gc_s", gc / n, "s/op"),
      ("jvm.cached_mb", tr.cachedPeakMb, "MB"))
  }
}
