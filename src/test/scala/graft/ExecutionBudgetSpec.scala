package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Exact execution budgets for the sizing slice of the battery: each
  * entry runs through `Bench.exec`, the bench's own noop-sink path, on
  * the sf0.001 tables, and its SQL executions and Spark jobs are pinned.
  * Counts do not depend on the host, so a change to an entry's count
  * shows in the diff of this spec. q73's streamed leg is pinned too: its
  * counts were the same over 5 runs.
  */
class ExecutionBudgetSpec extends SparkTestBase {

  /** (SQL executions, jobs) of one `Bench.exec` of `entry`. */
  private def counts(entry: String): (Int, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try (sqlExecutions(Bench.exec(spark, entry, Bench.WarmDir)), jobs.get)
    finally sc.removeSparkListener(listener)
  }

  private val budgets = Seq(
    "q17_sizing_derive" -> (1, 2),
    "q18_sizing_matrix" -> (2, 4),
    "q19_sizing_agg" -> (1, 4),
    "q20_sweepline" -> (3, 6),
    "q101_pipeline_e2e" -> (10, 15),
    "q73_stream_sweep" -> (8, 13))

  budgets.foreach { case (entry, (execs, jobs)) =>
    test(s"$entry runs $execs SQL executions and $jobs jobs") {
      assert(counts(entry) == (execs, jobs))
    }
  }
}
