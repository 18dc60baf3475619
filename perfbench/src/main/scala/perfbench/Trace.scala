package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.PerfbenchAccess
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer tracing from listeners only; the program is not touched.
  *
  * Spans. A top-level span is one op (the benchmark's call into a public
  * entry point, or one streaming micro-batch). Its child spans are the
  * root Spark SQL executions that start inside it.
  *
  * Layer of an execution, job or stage: the innermost
  * `graft.<module>` frame of its call site (Spark records it as the
  * execution's and the stage's long call site), where module is one of
  * [[Trace.Layers]]; jobs a streaming query runs are `streaming`.
  *
  * Executor-side work is split further by the operators a stage runs,
  * first rule that matches wins:
  *  1. the stage wrote output records (a sink file write) → `sizing`;
  *  2. it runs a `Window` operator (the sweep's prefix-sum window and its
  *     sort) → `plans`;
  *  3. its tasks produced rows from a file scan or a DataSource V2 scan
  *     (the scan node's SQL row metric moved in this stage) → `sources`;
  *     a stage that reads the scan's output back from a cache is not a
  *     scan stage, although its RDD lineage still names the scan;
  *  4. otherwise the call-site layer.
  *
  * Wall time of an execution goes to its call-site layer, except that
  * each other layer it hands executor work to gets that work's run time
  * divided by k (its wall-clock equivalent on k cores). Time inside an op
  * span not covered by any execution is the op's own layer's driver time.
  * So `driver_s = self_s − exec_run_s / k` is zero for layers that only
  * receive split-off executor work.
  */
final class Trace(spark: SparkSession, k: Int) {
  import Trace._

  private final class Exec(val id: Long, val root: Long, val start: Long,
      val layer: String) {
    @volatile var end: Long = -1
    @volatile var streaming = false
    @volatile var qe: QueryExecution = _
  }
  private final class Stage {
    var callLayer = ""
    var names: Set[String] = Set.empty
    var scanned = false
    var exec: Long = -1
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var bytesRead = 0L
    var recordsRead = 0L
    var bytesWritten = 0L
    var recordsWritten = 0L
  }

  private val lock = new Object
  private val execs = mutable.LinkedHashMap[Long, Exec]()
  private val stages = mutable.Map[Int, Stage]()
  private val jobLayers = mutable.ArrayBuffer[String]()
  private val planningMs = new java.util.IdentityHashMap[QueryExecution, java.lang.Long]()
  private val scanAccs = mutable.Set[Long]()
  private val blocks = mutable.Map[String, Long]()
  private var blockTotal = 0L
  private var blockPeak = 0L
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  private def stage(id: Int): Stage = stages.getOrElseUpdate(id, new Stage)

  private val sparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized {
        execs(s.executionId) = new Exec(s.executionId,
          s.rootExecutionId.getOrElse(s.executionId), s.time,
          layerOf(s.details))
        scanAccs ++= scanRowMetrics(s.sparkPlanInfo)
      }
      case s: SparkListenerSQLAdaptiveExecutionUpdate => lock.synchronized {
        scanAccs ++= scanRowMetrics(s.sparkPlanInfo)
      }
      case s: SparkListenerSQLExecutionEnd => lock.synchronized {
        execs.get(s.executionId).foreach { x =>
          x.end = s.time
          x.qe = PerfbenchAccess.queryExecution(s)
        }
      }
      case _ =>
    }

    override def onJobStart(j: SparkListenerJobStart): Unit = lock.synchronized {
      val props = Option(j.properties)
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      val streaming = props.exists(_.getProperty("sql.streaming.queryId") != null)
      execs.get(exec).foreach(x => if (streaming) x.streaming = true)
      val layer =
        if (streaming) "streaming"
        else execs.get(exec).map(_.layer)
          .getOrElse(j.stageInfos.headOption.map(s => layerOf(s.details)).getOrElse(""))
      jobLayers += layer
      j.stageInfos.foreach { si =>
        val st = stage(si.stageId)
        if (st.callLayer.isEmpty) { st.callLayer = layer; st.exec = exec }
        st.names ++= si.rddInfos.flatMap(_.scope).map(_.name)
      }
    }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        val st = stage(s.stageInfo.stageId)
        st.scanned ||= s.stageInfo.accumulables.exists { case (id, a) =>
          scanAccs.contains(id) && a.value.exists {
            case n: java.lang.Number => n.longValue > 0
            case _ => false
          }
        }
      }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) lock.synchronized {
        val st = stage(t.stageId)
        st.tasks += 1
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        st.bytesRead += m.inputMetrics.bytesRead
        st.recordsRead += m.inputMetrics.recordsRead
        st.bytesWritten += m.outputMetrics.bytesWritten
        st.recordsWritten += m.outputMetrics.recordsWritten
      }
    }

    override def onBlockUpdated(b: SparkListenerBlockUpdated): Unit = {
      val info = b.blockUpdatedInfo
      if (info.blockId.isRDD) lock.synchronized {
        val id = info.blockId.name
        val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        blockTotal += size - blocks.getOrElse(id, 0L)
        if (size == 0) blocks.remove(id) else blocks(id) = size
        blockPeak = math.max(blockPeak, blockTotal)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum
      lock.synchronized { planningMs.put(qe, ms) }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Drains the listener buses, then detaches the listeners. */
  def uninstall(): Unit = {
    PerfbenchAccess.drainListeners(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Per-layer totals over everything recorded, with op spans. */
  def layers(spans: Seq[Span]): Map[String, Layer] = lock.synchronized {
    scanBytes = 0L; scanRecords = 0L; sinkBytes = 0L
    val out = Layers.map(l => l -> new Layer).toMap
    def at(l: String): Option[Layer] = out.get(l)
    val execLayer = execs.values.map(x =>
      x.id -> (if (x.streaming) "streaming" else x.layer)).toMap
    def stageLayer(s: Stage): String =
      if (s.callLayer == "streaming") "streaming"
      else if (s.recordsWritten > 0) "sizing"
      else if (s.names.contains("Window")) "plans"
      else if (s.scanned) "sources"
      else if (s.exec >= 0) execLayer.getOrElse(s.exec, s.callLayer)
      else s.callLayer
    // executor-side metrics, split by operator ownership
    val runByExecLayer = mutable.Map[(Long, String), Long]()
    stages.values.foreach { s =>
      val l = stageLayer(s)
      at(l).foreach { a =>
        a.tasks += s.tasks; a.execRunS += s.runMs / 1e3; a.execCpuS += s.cpuNs / 1e9
        a.shuffleMb += s.shuffleWrite / 1e6; a.spillMb += s.spill / 1e6
      }
      if (l == "sources") { scanBytes += s.bytesRead; scanRecords += s.recordsRead }
      if (l == "sizing") sinkBytes += s.bytesWritten
      if (s.exec >= 0) {
        val root = execs.get(s.exec).map(_.root).getOrElse(s.exec)
        runByExecLayer((root, l)) = runByExecLayer.getOrElse((root, l), 0L) + s.runMs
      }
    }
    jobLayers.foreach(l => at(l).foreach(_.jobs += 1))
    execs.values.foreach { x =>
      val l = execLayer(x.id)
      if (x.qe != null && l != "streaming")
        Option(planningMs.get(x.qe)).foreach(ms => at(l).foreach(_.planningS += ms / 1e3))
    }
    // wall time: root executions inside op spans
    val roots = execs.values.filter(x => x.root == x.id && x.end >= x.start).toSeq
    roots.foreach(x => at(execLayer(x.id)).foreach(_.actions += 1))
    spans.foreach { sp =>
      val inside = roots.filter(x => x.start >= sp.startMs && x.start < sp.endMs)
        .sortBy(_.start)
      var covered = 0L
      var reach = sp.startMs
      inside.foreach { x =>
        val s = math.max(x.start, reach)
        val e = math.min(x.end, sp.endMs)
        if (e > s) covered += e - s
        reach = math.max(reach, e)
        val wall = (math.min(x.end, sp.endMs) - x.start).max(0L) / 1e3
        val own = execLayer(x.id)
        val handed = runByExecLayer.collect {
          case ((r, l), ms) if r == x.id && l != own => l -> ms / 1e3 / k
        }
        val scale = if (handed.values.sum > wall) wall / handed.values.sum else 1.0
        handed.foreach { case (l, s) => at(l).foreach(_.selfS += s * scale) }
        at(own).foreach(_.selfS += wall - handed.values.sum * scale)
      }
      at(sp.layer).foreach(_.selfS += (sp.endMs - sp.startMs - covered) / 1e3)
    }
    out
  }

  var scanBytes = 0L
  var scanRecords = 0L
  var sinkBytes = 0L
  def cachedPeakMb: Double = lock.synchronized(blockPeak / 1e6)

  /** Every micro-batch a streaming query ran while traced, as a span. */
  def batchSpans: Seq[Span] = progress.asScala.toSeq.map { b =>
    val s = java.time.Instant.parse(b.timestamp).toEpochMilli
    Span(s, s + b.durationMs.get("triggerExecution").longValue, "streaming")
  }

  /** Micro-batch metrics from the streaming listener, per op: batches,
    * batch wall time, planning, WAL plus offset commit; and the peak
    * state-store rows and memory.
    */
  def streamingMetrics(ops: Double): Map[String, Double] = {
    val bs = progress.asScala.toSeq
    def dur(key: String) =
      bs.map(b => Option(b.durationMs.get(key)).map(_.longValue).getOrElse(0L)).sum / 1e3
    val state = bs.flatMap(_.stateOperators)
    Map(
      "streaming.batches" -> bs.size / ops,
      "streaming.batch_s" -> dur("triggerExecution") / ops,
      "streaming.planning_s" -> dur("queryPlanning") / ops,
      "streaming.commit_s" -> (dur("walCommit") + dur("commitOffsets")) / ops,
      "streaming.state_rows" -> state.map(_.numRowsTotal).foldLeft(0L)(math.max).toDouble,
      "streaming.state_mb" -> state.map(_.memoryUsedBytes).foldLeft(0L)(math.max) / 1e6)
  }

  /** The recorded spans, one JSON object a line, for offline inspection. */
  def spansJson(spans: Seq[Span]): Seq[String] = lock.synchronized {
    spans.map(s => s"""{"kind":"op","start":${s.startMs},"end":${s.endMs},"layer":"${s.layer}"}""") ++
      execs.values.map(x => s"""{"kind":"sql","id":${x.id},"root":${x.root},""" +
        s""""start":${x.start},"end":${x.end},"layer":"${if (x.streaming) "streaming" else x.layer}"}""")
  }
}

object Trace {
  val Layers: Seq[String] = Seq("sources", "sizing", "plans", "streaming", "ops")

  private val Frame = """graft\.(sources|sizing|plans|streaming|ops)\.""".r

  /** Layer of the innermost `graft.<layer>.` frame in a long call site. */
  def layerOf(callSite: String): String =
    Option(callSite).flatMap(Frame.findFirstMatchIn(_)).map(_.group(1)).getOrElse("")

  /** Accumulator ids of the output-row metric of every file or DSv2 scan
    * node in a plan (including a cached relation's plan).
    */
  private def scanRowMetrics(p: SparkPlanInfo): Seq[Long] = {
    val own =
      if (p.nodeName.startsWith("Scan ") && !p.nodeName.startsWith("Scan ExistingRDD") ||
          p.nodeName.startsWith("BatchScan"))
        p.metrics.filter(_.name == "number of output rows").map(_.accumulatorId)
      else Nil
    own ++ p.children.flatMap(scanRowMetrics)
  }

  /** One top-level span: an op, or a streaming batch. */
  final case class Span(startMs: Long, endMs: Long, layer: String)

  final class Layer {
    var selfS = 0.0
    var actions = 0L
    var jobs = 0L
    var tasks = 0L
    var execRunS = 0.0
    var execCpuS = 0.0
    var planningS = 0.0
    var shuffleMb = 0.0
    var spillMb = 0.0
  }
}
