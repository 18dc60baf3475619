package graft.ops

import graft.{ParityGate, SparkEntry, SparkTestBase}

/** q73: the streamed sweep-line maxima must equal the batch q20 operator
  * on the same derived querylog (sf0.001) — the parity bit IS the check
  * the driver's rows-only gate relies on, and [[graft.ParityGate]] makes
  * a false bit raise instead of rendering a green row.
  */
class StreamSweepSpec extends SparkTestBase {

  test("q73 stream maxima match batch q20 on sf0.001") {
    val row = SparkEntry.queries("q73_stream_sweep")(
      spark, "/root/testdata/sf0.001").head()
    assert(row.getBoolean(row.fieldIndex("matches_batch")),
      s"stream/batch divergence: $row")
    assert(row.getLong(row.fieldIndex("max_concurrent_queries")) > 0)
  }

  test("q74 streaming dedup matches batch distinct per source on sf0.001") {
    val rows = SparkEntry.queries("q74_stream_dedup")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getBoolean(2)), s"divergence: ${rows.mkString(";")}")
  }

  test("q105 streaming near-dup monitor equals the batch LSH pipeline") {
    val rows = SparkEntry.queries("q105_stream_neardup")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    // bit = identical histogram row AND zero pair-set symmetric diff
    assert(rows.forall(_.getBoolean(4)), s"divergence: ${rows.mkString(";")}")
  }

  test("q77 stream-stream interval join equals the batch join set") {
    val rows = SparkEntry.queries("q77_stream_join")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getBoolean(3)), s"divergence: ${rows.mkString(";")}")
  }

  test("q75 streamed append-mode windows equal finalized batch windows") {
    val rows = SparkEntry.queries("q75_stream_window")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getBoolean(4)), s"divergence: ${rows.take(5).mkString(";")}")
  }

  test("q84 streamed sliding windows equal finalized batch sliding windows") {
    val rows = SparkEntry.queries("q84_stream_sliding")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getBoolean(4)), s"divergence: ${rows.take(5).mkString(";")}")
  }

  test("q78 streamed session_window sessions equal finalized batch sessions") {
    val rows = SparkEntry.queries("q78_session_window")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getBoolean(5)), s"divergence: ${rows.take(5).mkString(";")}")
  }

  // The emission-boundary edge the q75/q78 batch predicate mirrors: when
  // the maximum event time lands EXACTLY on an hour boundary, the engine's
  // eviction predicate (window.end <= ms-truncated watermark) emits the
  // window ending at that instant — the batch side must agree, neither
  // gaining nor losing a window. Crafted events: max ts exactly at
  // 2024-01-01T02:00:00Z, plus one sub-ms-offset event inside each hour.
  test("q75/q78 parity holds when max event time is exactly on an hour boundary") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-boundary-")
    try {
      val hourUs = 3600L * 1000000L
      val gapUs = 15L * 60L * 1000000L
      // (event_id, user_id, event_type, value, ts-nanos, props)
      val baseUs = 1704067200L * 1000000L // 2024-01-01T00:00:00Z
      val rows = Seq(
        (1L, 1L, "view", 1.0, (baseUs + 1) * 1000L, "{}"),
        (2L, 1L, "click", 2.0, (baseUs + hourUs / 2) * 1000L + 500L, "{}"),
        (3L, 2L, "view", 3.0, (baseUs + hourUs + 7) * 1000L, "{}"),
        // user 3: two events EXACTLY one session gap apart — the engine
        // MERGES touching sessions (one 2-event session; split happens
        // only at gap+1µs), the one boundary where session_window and
        // the independent lag/cumsum batch derivation could disagree
        (5L, 3L, "view", 5.0, (baseUs + 1000) * 1000L, "{}"),
        (6L, 3L, "view", 6.0, (baseUs + 1000 + gapUs) * 1000L, "{}"),
        (4L, 2L, "click", 4.0, (baseUs + 2 * hourUs) * 1000L, "{}")) // ON the boundary
      rows.toDF("event_id", "user_id", "event_type", "value", "ts", "props")
        .coalesce(1).write.parquet(s"$tmp/events.parquet")
      // ParityGate raises on any divergence; reaching .collect() green IS
      // the assertion. q75: the window [01:00,02:00) must be emitted (its
      // end == the watermark), [02:00,03:00) must not.
      val w = SparkEntry.queries("q75_stream_window")(spark, tmp.toString).collect()
      // distinct window starts: (window × event_type) grouping means the
      // 00:00 window appears once per event type present in it
      assert(w.map(_.getTimestamp(0).toInstant.toString).distinct.sorted.toSeq ==
        Seq("2024-01-01T00:00:00Z", "2024-01-01T01:00:00Z"),
        s"unexpected emitted windows: ${w.mkString(";")}")
      // q78 (15-min gap): user 1's two events are 30 min apart → two closed
      // sessions; user 2's 01:00 event closes, but the session opened by
      // the 02:00 boundary event ends at 02:15 > watermark → still open;
      // user 3's exactly-gap-apart events MERGE into one closed 2-event
      // session (touching sessions merge; split only at gap+1µs). Four
      // finalized sessions, and parity must hold for all of them.
      val sess = SparkEntry.queries("q78_session_window")(spark, tmp.toString).collect()
      assert(sess.map(_.getLong(2)).sorted.toSeq == Seq(1L, 1L, 2L, 3L),
        s"unexpected finalized sessions: ${sess.mkString(";")}")
      assert(sess.filter(_.getLong(2) == 3L).forall(_.getLong(3) == 2L),
        s"boundary events did not merge: ${sess.mkString(";")}")
    } finally graft.Fs.deleteRecursively(tmp)
  }

  test("q96 streamed checksums equal the batch checksums per group") {
    val rows = SparkEntry.queries("q96_stream_checksum")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getBoolean(3)), s"divergence: ${rows.mkString(";")}")
  }

  // The fail-loud contract itself: a false (or NULL) bit must RAISE at
  // execution time — this is what turns a silent stream/batch divergence
  // into an `err` in the driver's CORRECTNESS artifact.
  test("ParityGate raises on a false or NULL bit and passes true bits through") {
    import spark.implicits._
    val good = Seq((1L, true), (2L, true)).toDF("v", "ok")
    assert(ParityGate(good, "qXX", "ok").collect().length == 2)
    val bad = Seq((1L, true), (2L, false)).toDF("v", "ok")
    val e = intercept[Exception] {
      ParityGate(bad, "qXX", "ok").collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("qXX"),
      s"gate error should name the query: ${e.getMessage}")
    val nullBit = Seq((1L, Some(true)), (2L, None))
      .toDF("v", "ok")
    intercept[Exception] {
      ParityGate(nullBit, "qXX", "ok").collect()
    }
  }

  // A stream/batch pair that BOTH emit zero rows evaluates no bit at all —
  // previously vacuously green. The count-guard must turn emptiness itself
  // into a raise (and stay silent when rows exist).
  test("ParityGate raises on an EMPTY gated result instead of passing vacuously") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Boolean)].toDF("v", "ok")
    val e = intercept[Exception] {
      ParityGate(empty, "qEMPTY", "ok").collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("qEMPTY"),
      s"guard error should name the query: ${e.getMessage}")
    // opting out (the expensive-aggregate entries) restores the old
    // rows-only behavior: empty in, empty out, no raise
    val viaOptOut =
      ParityGate(empty, "qEMPTY", guardNonEmpty = false, "ok").collect()
    assert(viaOptOut.isEmpty)
    // and the guard adds no rows/columns when data IS present
    val good = Seq((1L, true), (2L, true)).toDF("v", "ok")
    val gated = ParityGate(good, "qOK", "ok")
    assert(gated.columns.toSeq == Seq("v", "ok"))
    assert(gated.collect().length == 2)
  }
}
