package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only: phase-level timing of q73's streaming sweep entry at sf0.1 —
  * where do ~4.3 s go? Phases: derived querylog (persist + bounds),
  * interval parquet write, streaming query (start + drain + collect),
  * batch parity twin (Concurrency.sweep), teardown.
  */
object DevQ73Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"PROBE $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    // warm once like Bench (on the probe's own dir so any layout works)
    SparkEntry.queries("q73_stream_sweep")(spark, sfDir)
      .write.mode("overwrite").format("noop").save()
    spark.catalog.clearCache()
    (1 to 3).foreach { round =>
      println(s"== round $round ==")
      import graft.sizing._
      val cfg = SizingConfig()
      val kept = time("derived+persist") {
        val k = QuerylogAdapter.derived(spark, sfDir, cfg)
          .filter(col("min_executor_pod") <= 40).persist()
        k.count() // materialize
        k
      }
      val mm = time("bounds")(
        kept.agg(min(col("admitted_us")), max(col("end_us"))).head())
      val (minA, maxE) = (mm.getLong(0), mm.getLong(1))
      val bucketUs = math.max(1000000L, (maxE - minA) / 256L + 1)
      val tmp = java.nio.file.Files.createTempDirectory("graft-q73probe-")
      val src = s"$tmp/intervals"
      time("interval write") {
        kept.select(
          format_string("%020d", col("query_id")).as("queryId"),
          expr("timestamp_micros(admitted_us)").as("admitted"),
          expr("timestamp_micros(end_us)").as("end"),
          col("min_executor_pod").cast("long").as("pods"),
          col("cache_b_per_backend").cast("long").as("cachePerBackend"),
          col("mem_b_per_backend").cast("long").as("memPerBackend"),
          col("cpu_mv_per_backend").cast("long").as("cpuMilliVcores"),
          col("spill_b_per_backend").cast("long").as("spillPerBackend"))
          .write.parquet(src)
      }
      val ls = java.nio.file.Files.list(java.nio.file.Paths.get(src))
      try println("  interval files: " + ls.count()) finally ls.close()
      time("stream drain") {
        graft.streaming.StreamConf.withStateParts(spark) {
          import spark.implicits._
          val input = spark.readStream
            .schema(org.apache.spark.sql.Encoders
              .product[graft.streaming.StreamingConcurrency.QueryInterval].schema)
            .parquet(src).as[graft.streaming.StreamingConcurrency.QueryInterval]
          val summaries = graft.streaming.StreamingConcurrency
            .bucketSummaries(graft.streaming.StreamingConcurrency
              .events(input, bucketUs), bucketUs, "0 seconds")
          val qname = s"probe73_${round}"
          val q = summaries.writeStream.format("memory").queryName(qname)
            .option("checkpointLocation", s"$tmp/chk")
            .outputMode("append").start()
          try { q.processAllAvailable(); spark.table(qname).collect().length }
          finally { q.stop(); spark.catalog.dropTempView(qname) }
        }
      }
      time("batch parity") {
        Concurrency.maxima(
          Concurrency.sweep(kept, Concurrency.integerDeltas)).head()
      }
      kept.unpersist()
      graft.Fs.deleteRecursively(tmp)
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
