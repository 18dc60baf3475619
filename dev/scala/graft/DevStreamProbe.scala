package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.streaming.StreamingConcurrency
import graft.streaming.StreamingConcurrency._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Dev-only: phase-level timing of the q73 streaming harness. */
object DevStreamProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"PROBE $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    (1 to 3).foreach { round =>
      println(s"== round $round ==")
      val kept = sizing.QuerylogAdapter.derived(spark, sfDir, sizing.SizingConfig())
        .filter(col("min_executor_pod") <= 40).persist()
      val intervals = time("collect") {
        kept.select(
          format_string("%020d", col("query_id")).as("qid"),
          col("admitted_us"), col("end_us"),
          col("min_executor_pod").cast("long"),
          col("cache_b_per_backend").cast("long"),
          col("mem_b_per_backend").cast("long"),
          col("cpu_mv_per_backend").cast("long"),
          col("spill_b_per_backend").cast("long"))
          .collect()
          .map(r => QueryInterval(r.getString(0), usTs(r.getLong(1)),
            usTs(r.getLong(2)), r.getLong(3), r.getLong(4), r.getLong(5),
            r.getLong(6), r.getLong(7))).toSeq
      }
      val maxEndUs = intervals.map(q => tsUs(q.end)).max
      val minUs = intervals.map(q => tsUs(q.admitted)).min
      val bucketUs = math.max(1000000L, (maxEndUs - minUs) / 256 + 1)
      val sentinelUs = maxEndUs + 10 * bucketUs
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[QueryInterval]
      val summaries = StreamingConcurrency.bucketSummaries(
        StreamingConcurrency.events(input.toDS(), bucketUs), bucketUs, "0 seconds")
      val qname = s"probe_$round"
      val q = time("start") {
        summaries.writeStream.format("memory").queryName(qname)
          .outputMode("append").start()
      }
      time("batch1") { input.addData(intervals); q.processAllAvailable() }
      time("batch2") {
        input.addData(Seq(QueryInterval("sentinel", usTs(sentinelUs),
          usTs(sentinelUs + bucketUs), 0, 0, 0, 0, 0)))
        q.processAllAvailable()
      }
      val folded = time("fold") {
        val closed = spark.table(qname).as[BucketSummary].collect().toSeq
          .filter(_.bucket < Math.floorDiv(sentinelUs, bucketUs))
        GlobalAccumulator.fold(closed)
      }
      time("stop") { q.stop(); spark.catalog.dropTempView(qname) }
      val b = time("batch_q20") {
        sizing.Concurrency.maxima(sizing.Concurrency.sweep(kept,
          sizing.Concurrency.integerDeltas)).head()
      }
      println(s"parity: ${b.getLong(0) == folded.get.maxConcurrentQueries}")
      kept.unpersist()
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
