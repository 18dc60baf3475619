package graft.streaming

import graft.SparkTestBase
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming surface beyond the sweep-line (SURVEY §2.8 streaming row):
  * watermarked exact dedup, tumbling-window aggregation with late-data
  * handling, watermarked stream-stream interval join, and session-window
  * aggregation — the standard stateful shapes a training-data ingest
  * pipeline needs.
  */
class StreamingOpsSpec extends SparkTestBase {

  private def ts(sec: Long) = new Timestamp(sec * 1000)

  test("dropDuplicates with watermark dedups within the retention window") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Long)] // (doc_id, event_sec)
    val deduped = input.toDS()
      .select(col("_1").as("doc_id"),
        col("_2").cast("timestamp").as("ts"))
      .withWatermark("ts", "10 seconds")
      .dropDuplicates("doc_id")
    val qn = s"dedup_${System.nanoTime()}"
    val q = deduped.writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try {
      input.addData(Seq((1L, 100L), (2L, 101L), (1L, 102L))) // 1 is a dup
      q.processAllAvailable()
      input.addData(Seq((2L, 103L), (3L, 104L))) // 2 is a dup
      q.processAllAvailable()
      val ids = spark.table(qn).select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("mapGroupsWithState keeps running per-key totals across batches") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(String, Long)] // (user, amount)
    val totals = input.toDS()
      .groupByKey(_._1)
      .mapGroupsWithState[Long, (String, Long)](
        GroupStateTimeout.NoTimeout()) {
        (user, rows, state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + rows.map(_._2).sum
          state.update(total)
          (user, total)
      }
    val qn = s"state_${System.nanoTime()}"
    val q = totals.writeStream.format("memory").queryName(qn)
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(Seq(("a", 5L), ("b", 2L), ("a", 1L)))
      q.processAllAvailable()
      input.addData(Seq(("a", 10L))) // state must carry the earlier 6
      q.processAllAvailable()
      val last = spark.table(qn).as[(String, Long)].collect()
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
      assert(last == Map("a" -> 16L, "b" -> 2L))
    } finally q.stop()
  }

  test("stream-stream interval join matches clicks to views within bounds") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val views = MemoryStream[(Long, Long)] // (item, view_sec)
    val clicks = MemoryStream[(Long, Long)] // (item, click_sec)
    val v = views.toDS()
      .select(col("_1").as("item"), col("_2").cast("timestamp").as("vts"))
      .withWatermark("vts", "10 seconds")
    val c = clicks.toDS()
      .select(col("_1").as("citem"), col("_2").cast("timestamp").as("cts"))
      .withWatermark("cts", "10 seconds")
    // click attributes to a view of the same item at most 20s earlier —
    // the time bound is what lets Spark expire join state at the watermark
    val joined = v.join(c,
      col("item") === col("citem") &&
        col("cts") >= col("vts") && col("cts") <= col("vts") + expr("interval 20 seconds"))
      .select(col("item"), col("vts").cast("long").as("v_sec"),
        col("cts").cast("long").as("c_sec"))
    val qn = s"ssj_${System.nanoTime()}"
    val q = joined.writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try {
      views.addData(Seq((1L, 100L), (2L, 103L)))
      clicks.addData(Seq((1L, 110L), (2L, 150L))) // item 2 click too late
      views.addData(Seq((3L, 160L))); clicks.addData(Seq((3L, 165L)))
      q.processAllAvailable()
      val rows = spark.table(qn)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      assert(rows == Seq((1L, 100L, 110L), (3L, 160L, 165L)))
    } finally q.stop()
  }

  test("session_window aggregation closes sessions after the gap") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(String, Long)] // (user, event_sec)
    val sessions = input.toDS()
      .select(col("_1").as("user"), col("_2").cast("timestamp").as("ts"))
      .withWatermark("ts", "5 seconds")
      .groupBy(session_window(col("ts"), "10 seconds"), col("user"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user"),
        col("session_window.start").cast("long").as("start_sec"),
        col("session_window.end").cast("long").as("end_sec"),
        col("n_events"))
    val qn = s"sess_${System.nanoTime()}"
    val q = sessions.writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try {
      // user a: events at 100, 105 (one session: gap < 10s); then 130
      input.addData(Seq(("a", 100L), ("a", 105L), ("b", 102L)))
      q.processAllAvailable()
      input.addData(Seq(("a", 130L))) // watermark closes the first sessions
      q.processAllAvailable()
      input.addData(Seq(("a", 160L))) // closes a's 130-session
      q.processAllAvailable()
      val rows = spark.table(qn)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).sortBy(t => (t._1, t._2)).toSeq
      // merged session [100, 115): two events; gap-extended end = last+10
      assert(rows.contains(("a", 100L, 115L, 2L)))
      assert(rows.contains(("a", 130L, 140L, 1L)))
      assert(rows.contains(("b", 102L, 112L, 1L)))
    } finally q.stop()
  }

  test("tumbling-window counts finalize at the watermark; late rows drop") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(String, Long)] // (event_type, event_sec)
    val counts = input.toDS()
      .select(col("_1").as("etype"),
        col("_2").cast("timestamp").as("ts"))
      .withWatermark("ts", "5 seconds")
      .groupBy(window(col("ts"), "10 seconds"), col("etype"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("long").as("w"), col("etype"),
        col("n"))
    val qn = s"win_${System.nanoTime()}"
    val q = counts.writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try {
      input.addData(Seq(("click", 100L), ("click", 105L), ("error", 108L)))
      q.processAllAvailable()
      // advance the watermark past window [100,110): it emits finalized
      input.addData(Seq(("click", 130L)))
      q.processAllAvailable()
      // this row lands in the already-finalized window -> dropped as late
      input.addData(Seq(("click", 101L), ("click", 131L)))
      q.processAllAvailable()
      input.addData(Seq(("click", 150L))) // flush window [130,140)
      q.processAllAvailable()
      val rows = spark.table(qn)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(rows.contains((100L, "click", 2L))) // late 101 NOT counted
      assert(rows.contains((100L, "error", 1L)))
      assert(rows.contains((130L, "click", 2L))) // 130 + 131 both on time
    } finally q.stop()
  }

  test("file-sink windowed agg is exactly-once across a mid-stream checkpoint restart") {
    // The fault-tolerance contract that makes any of this runnable for
    // months at 100 TB: kill a stateful query at an ARBITRARY point,
    // restart it from its checkpoint, and the committed output (file sink
    // + _spark_metadata, read back through the normal parquet reader)
    // must equal the batch answer exactly — no lost windows, no
    // duplicated windows, regardless of where the stop landed.
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-recovery-")
    val (in, out, chk) = (s"$root/in", s"$root/out", s"$root/chk")
    try {
      val hourSec = 3600L
      val base = 1704067200L // 2024-01-01T00:00:00Z
      // four files, one hour of minute-spaced events each (k0/k1/k2)
      (0 until 4).foreach { i =>
        Seq.tabulate(50)(j =>
          (ts(base + i * hourSec + j * 60L), s"k${j % 3}", 1L))
          .toDF("ts", "k", "v")
          .coalesce(1).write.mode("append").parquet(in)
      }
      // sentinel far past every real window: advances the watermark so
      // all real windows finalize in append mode
      Seq((ts(base + 100 * hourSec), "sentinel", 0L)).toDF("ts", "k", "v")
        .coalesce(1).write.mode("append").parquet(in)

      val schema = spark.read.parquet(in).schema
      def start() = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1) // one file per micro-batch
        .parquet(in)
        .withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "1 hour"), col("k"))
        .agg(sum(col("v")).as("s"))
        .select(col("window.start").as("ws"), col("k"), col("s"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", chk)
        .outputMode("append").start()

      // both runs under the battery's default backend (RocksDB): the
      // restart resumes keyed state from the rocksdb checkpoint — the
      // recovery path a long-lived deployment actually exercises
      StreamConf.withStateParts(spark) {
        // run 1: stop after at least one committed micro-batch, mid-stream
        val q1 = start()
        try {
          val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
          while ((q1.lastProgress == null || q1.lastProgress.batchId < 1) &&
            System.nanoTime() < deadline) Thread.sleep(50)
        } finally q1.stop()
        // run 2: same checkpoint, drain the rest
        val q2 = start()
        try q2.processAllAvailable() finally q2.stop()
      }

      val streamed = spark.read.parquet(out) // _spark_metadata-committed only
        .filter(col("k") =!= "sentinel")
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2))
      // exactly-once: every finalized (window, k) appears ONCE
      assert(streamed.map(_._1).distinct.length == streamed.length,
        s"duplicated windows after restart: ${streamed.mkString(";")}")
      val batch = spark.read.parquet(in)
        .filter(col("k") =!= "sentinel")
        .groupBy(window(col("ts"), "1 hour"), col("k"))
        .agg(sum(col("v")).as("s"))
        .select(col("window.start").as("ws"), col("k"), col("s"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2))
        .toMap
      assert(streamed.toMap == batch,
        s"stream/batch divergence after restart: got ${streamed.length}, want ${batch.size}")
    } finally graft.Fs.deleteRecursively(root)
  }

  test("upsert fold (latest-row-per-key state) survives a mid-stream " +
      "checkpoint restart") {
    // q198's stateful aggregate — groupBy(k).agg(max(struct(v, …))), the
    // materialized-upsert-view fold — restarted from its checkpoint
    // mid-stream. The file-sink restart test above covers windowed aggs;
    // this covers the UNWINDOWED keyed fold whose state lives forever
    // (one struct per key), in the q199 serving shape: update-mode
    // deltas appended via foreachBatch, resolved latest-per-key on read.
    // foreachBatch is at-least-once (a batch committed to the sink but
    // not the checkpoint re-runs on restart), so the sink is an
    // append-only delta LOG and exactly-once lives in the RESOLVE step:
    // a replayed batch id appends byte-identical rows (file-source
    // offsets pin batch contents), and latest-per-key picks one.
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-upsert-rec-")
    val (in, out, chk) = (s"$root/in", s"$root/out", s"$root/chk")
    try {
      // four files of versioned changes; later files carry BOTH higher
      // versions (must displace) and stale v1 re-deliveries (must not)
      val keys = 0L until 100L
      Seq(
        keys.map(k => (k, 1, s"p1-$k")),
        keys.filter(_ % 3 == 0).map(k => (k, 2, s"p2-$k")),
        keys.filter(_ % 5 == 0).map(k => (k, 3, s"p3-$k")),
        keys.filter(_ % 7 == 0).map(k => (k, 1, s"p1-$k")) // stale redelivery
      ).foreach { rows =>
        rows.toDF("k", "v", "payload")
          .coalesce(1).write.mode("append").parquet(in)
      }
      val schema = spark.read.parquet(in).schema
      def start() = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in)
        .select(col("k"), struct(col("v"), col("payload")).as("row"))
        .groupBy("k").agg(max(col("row")).as("r"))
        .select(col("k"), col("r.v").as("v"), col("r.payload").as("payload"))
        .writeStream
        .option("checkpointLocation", chk)
        .outputMode("update")
        .foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, id: Long) =>
            batch.withColumn("batch_id", lit(id))
              .write.mode("append").parquet(out)
        }
        .start()
      StreamConf.withStateParts(spark) {
        // run 1: kill after ≥1 committed micro-batch, mid-stream
        val q1 = start()
        try {
          val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
          while ((q1.lastProgress == null || q1.lastProgress.batchId < 1) &&
            System.nanoTime() < deadline) Thread.sleep(50)
        } finally q1.stop()
        // run 2: same checkpoint, drain the rest
        val q2 = start()
        try q2.processAllAvailable() finally q2.stop()
      }
      val deltas = spark.read.parquet(out)
      val resolved = deltas
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("k")
            .orderBy(col("batch_id").desc)))
        .filter(col("rn") === 1)
        .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getString(2)))
        .toMap
      val batch = spark.read.parquet(in)
        .select(col("k"), struct(col("v"), col("payload")).as("row"))
        .groupBy("k").agg(max(col("row")).as("r"))
        .collect().map(r => r.getLong(0) ->
          (r.getStruct(1).getInt(0), r.getStruct(1).getString(1)))
        .toMap
      assert(resolved == batch,
        s"restart divergence: ${(resolved.toSet diff batch.toSet).take(5)}")
      // the fold actually upserted: v2/v3 displaced v1, stale v1 did not
      assert(resolved(0L)._1 == 3 && resolved(1L)._1 == 1 &&
        resolved(7L)._1 == 1 && resolved(15L)._1 == 3 && resolved(6L)._1 == 2)
    } finally graft.Fs.deleteRecursively(root)
  }

  test("state store backend is configurable; rocksdb (default) matches hdfs") {
    // The scale knob behind every gated streaming entry: RocksDB keeps
    // keyed state off-heap (the JVM-heap store is the 100 TB
    // scale-killer), and the keyed-state contract says results are
    // backend-independent. Prove BOTH directions here: the same
    // watermarked dedup produces identical output under each provider,
    // and the rocksdb run really engaged RocksDB (its custom metrics
    // appear in the query progress — a conf typo would silently fall
    // back to the default store and void the claim).
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def run(backend: String): (Seq[Long], Boolean) = {
      spark.conf.set(StreamConf.StateStoreKey, backend)
      try StreamConf.withStateParts(spark) {
        val input = MemoryStream[(Long, Long)]
        val qn = s"ss_${backend}_${System.nanoTime()}"
        val q = input.toDS()
          .select(col("_1").as("doc_id"),
            col("_2").cast("timestamp").as("ts"))
          .withWatermark("ts", "10 seconds")
          .dropDuplicates("doc_id")
          .writeStream.format("memory").queryName(qn)
          .outputMode("append").start()
        try {
          input.addData(Seq((1L, 100L), (2L, 101L), (1L, 102L)))
          q.processAllAvailable()
          input.addData(Seq((2L, 103L), (3L, 104L)))
          q.processAllAvailable()
          val usedRocksDb = q.lastProgress.stateOperators.exists(
            _.customMetrics.keySet.toArray.exists(
              _.toString.toLowerCase.contains("rocksdb")))
          (spark.table(qn).select("doc_id").collect()
            .map(_.getLong(0)).sorted.toSeq, usedRocksDb)
        } finally { q.stop(); spark.catalog.dropTempView(qn) }
      } finally spark.conf.unset(StreamConf.StateStoreKey)
    }
    val (rocksIds, rocksEngaged) = run("rocksdb")
    val (heapIds, heapEngaged) = run("hdfs")
    assert(rocksEngaged, "rocksdb run shows no RocksDB state metrics")
    assert(!heapEngaged, "hdfs run unexpectedly used RocksDB")
    assert(rocksIds == Seq(1L, 2L, 3L) && heapIds == rocksIds)
  }

  /** After a drain: no query runs, its memory view and its scratch root
    * are gone.
    */
  private def assertCleanedUp(leg: StreamConf.Leg): Unit = {
    assert(spark.streams.active.isEmpty, "a drained query still runs")
    assert(!spark.catalog.tableExists(leg.query.name), "memory view left")
    assert(!graft.Fs.exists(spark, leg.root), "scratch root left")
  }

  test("drain stops the query, drops the view and deletes the root " +
      "whether its read body returns or throws") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Long]
    input.addData(1L, 2L, 3L)
    var seen: Option[StreamConf.Leg] = None
    val total = StreamConf.drain(spark, "drain_spec", "complete") { root =>
      Seq(7L).toDF("v").write.parquet(s"$root/side.parquet")
      input.toDF().groupBy().agg(sum(col("value")).as("s"))
    } { leg =>
      seen = Some(leg)
      assert(leg.query.isActive)
      assert(graft.Fs.exists(spark, s"${leg.root}/side.parquet"))
      assert(graft.Fs.exists(spark, s"${leg.root}/chk"))
      leg.out.collect().map(_.getLong(0)).toSeq
    }
    assert(total == Seq(6L))
    assertCleanedUp(seen.get)

    val failing = MemoryStream[Long]
    failing.addData(4L)
    seen = None
    val e = intercept[IllegalStateException] {
      StreamConf.drain(spark, "drain_spec", "append")(_ => failing.toDF()) {
        leg =>
          seen = Some(leg)
          throw new IllegalStateException("read body failed")
      }
    }
    assert(e.getMessage == "read body failed")
    assertCleanedUp(seen.get)
  }

  test("Fs.withScratch deletes its root, and its own temp base when " +
      "spark.graft.scratch.dir is unset") {
    val key = "spark.graft.scratch.dir"
    assert(spark.conf.getOption(key).isEmpty)
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def tagged = tmp.list().filter(_.startsWith("graft-scratch-spec")).toSet
    val before = tagged
    val root = graft.Fs.withScratch(spark, "scratch-spec") { root =>
      spark.range(3).write.parquet(s"$root/x.parquet")
      assert(spark.read.parquet(s"$root/x.parquet").count() == 3L)
      root
    }
    assert(!graft.Fs.exists(spark, root))
    assert(tagged == before, "withScratch left its temp base behind")

    // set: a fresh root under the deployment's base, deleted; base kept
    val base = java.nio.file.Files.createTempDirectory("graft-scratch-base")
    spark.conf.set(key, base.toUri.toString)
    try {
      val under = graft.Fs.withScratch(spark, "scratch-spec") { root =>
        spark.range(3).write.parquet(root)
        assert(graft.Fs.exists(spark, root))
        root
      }
      assert(under.contains(base.getFileName.toString))
      assert(!graft.Fs.exists(spark, under))
      assert(java.nio.file.Files.isDirectory(base))
    } finally {
      spark.conf.unset(key)
      graft.Fs.deleteRecursively(base)
    }
  }
}
