package graft.ops

import graft.{ParityGate, QueryModule, Tables}
import graft.sizing.{Concurrency, QuerylogAdapter, SizingConfig}
import graft.streaming.{StreamConf, StreamingConcurrency}
import graft.streaming.StreamingConcurrency._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The streaming gate module: Structured Streaming surfaces under the
  * driver's correctness battery. The oracle cannot execute a stream, so
  * every entry here is rows-only checked AND carries an in-row
  * `matches_batch` parity bit against the equivalent batch operator —
  * whose own result IS oracle-hash-checked, making stream correctness
  * transitive — and every entry passes through [[graft.ParityGate]], so a
  * false bit RAISES at execution time and lands in the driver's `err`
  * field instead of a green rows-only row. q73 = the stateful sweep-line;
  * q75 = watermarked tumbling windows in append mode (emission-boundary
  * semantics included); q78 = gap sessions via `session_window`;
  * q74 (streaming exact dedup) lives with the dedup ops in [[Dedup]].
  *
  * Every streamed leg, here and in the other modules, runs through
  * [[graft.streaming.StreamConf.drain]]: it streams a driver table or
  * files it wrote under its own scratch root via [[Tables.stream]], its
  * checkpoint lives under that root too, and the root is deleted when
  * the leg's read body returns or throws — a leg leaves no files behind.
  *
  * q73: the streaming sweep-line under the driver's correctness gate.
  *
  * Runs [[graft.streaming.StreamingConcurrency]] (the Structured Streaming
  * analog of the reference's interval-overlap analysis, py:307–396) over
  * the SAME derived querylog as the batch q20_sweepline, folds the closed
  * buckets into global maxima, and emits one row with q20's schema
  * ([[Concurrency.maximaCols]] — shared, so the two cannot drift) plus a
  * `matches_batch` parity bit computed against the batch operator's own
  * result on identical input.
  *
  * The stream is fed from a real FILE SOURCE: the kept intervals are
  * written once to parquet under the leg's scratch root (a distributed
  * write) and streamed back — no driver-side collect anywhere in the
  * data path, the same shape as q74/q75/q77/q78. A sentinel interval
  * rides in the same file; its event time advances the watermark past
  * every real bucket so the event-time timeouts fire (data + sentinel
  * arrive in one micro-batch,
  * and the engine's automatic no-data batch then flushes the timeouts —
  * two micro-batches total). The only driver-side values are the
  * min/max bounds (one 2-column aggregate, which also serves as the batch
  * parity run's `eventRange`) and the folded per-bucket
  * summaries (one tiny row per non-empty time bucket — bounded by the
  * analysis window, not the data).
  *
  * Cost shape at sf0.1 (measured, DevStreamProbe; PERF.md "Deleted dev
  * probes"): ≈1.5 s interval
  * write+bounds, ≈5 s data micro-batch, ≈2.5 s sentinel/timeout flush,
  * ≈4 s the batch q20 parity run — q73's bench time is the price of
  * executing BOTH engines plus fixed micro-batch machinery, not a plan
  * defect; the streamed operator itself is one 2|kept|-row shuffle and
  * per-bucket local scans.
  */
object StreamSweep extends QueryModule {

  private val cfg = SizingConfig() // reference defaults (sizing.conf)
  private val keptLimit = 40 // same F4 prune threshold as q18–q20
  // Bucket count target: buckets are the unit of state AND parallelism —
  // a state-store group per bucket. Too fine (60s over a month = 43k
  // groups) and per-group state-store commit overhead dominates; too
  // coarse and one group sorts everything. ~8 buckets per core balances
  // both; correctness is bucket-width independent (spec-pinned).
  private val TargetBuckets = 256L

  private def q73(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val kept = QuerylogAdapter.derived(s, dir, cfg)
      .filter(col("min_executor_pod") <= keptLimit)
      .persist() // read 3×: bounds agg, interval write, batch sweep

    // Bounds fold: 1 row, 2 columns — sizes the buckets and the sentinel.
    val mm = kept.agg(min(col("admitted_us")), max(col("end_us"))).head()
    if (mm.isNullAt(0)) sys.error("q73: empty querylog after pruning")
    val (minAdmittedUs, maxEndUs) = (mm.getLong(0), mm.getLong(1))
    val bucketUs = math.max(1_000_000L,
      (maxEndUs - minAdmittedUs) / TargetBuckets + 1)
    // one sentinel interval far past every real bucket: its event time
    // advances the watermark so the real buckets' event-time timeouts fire
    val sentinelUs = maxEndUs + 10 * bucketUs
    val sentinelBucket = Math.floorDiv(sentinelUs, bucketUs)

    // The stream's file source: kept intervals + sentinel, written once
    // under the leg's scratch root — which also holds the checkpoint, so
    // the one finally-deleted root owns every artifact this entry creates.
    // queryId is zero-padded so the streaming String tiebreak orders
    // identically to the batch operator's numeric query_id sort (Q5 tie
    // rule) — required for exact parity. timestamp_micros round-trips the
    // full µs through parquet (Spark writes TIMESTAMP_MICROS).
    val folded = StreamConf.drain(s, "q73", "append") { root =>
      val intervals = kept.select(
        format_string("%020d", col("query_id")).as("queryId"),
        expr("timestamp_micros(admitted_us)").as("admitted"),
        expr("timestamp_micros(end_us)").as("end"),
        col("min_executor_pod").cast("long").as("pods"),
        col("cache_b_per_backend").cast("long").as("cachePerBackend"),
        col("mem_b_per_backend").cast("long").as("memPerBackend"),
        col("cpu_mv_per_backend").cast("long").as("cpuMilliVcores"),
        col("spill_b_per_backend").cast("long").as("spillPerBackend"))
      val sentinel = Seq(QueryInterval("sentinel", usTs(sentinelUs),
        usTs(sentinelUs + bucketUs), 0, 0, 0, 0, 0)).toDS()
        .select(intervals.columns.map(col): _*)
      intervals.union(sentinel).write.parquet(s"$root/intervals.parquet")
      StreamingConcurrency.bucketSummaries(StreamingConcurrency.events(
          Tables.stream(s, root, "intervals").as[QueryInterval], bucketUs),
        bucketUs, "0 seconds").toDF()
    } { leg =>
      GlobalAccumulator.fold(leg.out.as[BucketSummary].collect().toSeq
        .filter(_.bucket < sentinelBucket))
    }
    val m = folded.getOrElse(sys.error("q73: no closed buckets — empty querylog?"))

    // Parity against the batch operator on the same kept querylog, over
    // the event range the bounds fold already found.
    val b = Concurrency.maxima(kept, Concurrency.integerDeltas,
      Some((minAdmittedUs.toDouble, maxEndUs.toDouble)))
    kept.unpersist()
    val matches = b.toSeq == m.productIterator.toSeq // maximaCols order

    ParityGate(
      Seq((m.maxConcurrentQueries, m.maxPods, m.maxCache, m.maxMem,
        m.maxCpu, m.maxSpill, m.maxPodsAtUs, matches))
        .toDF(Concurrency.maximaCols :+ "matches_batch": _*),
      "q73_stream_sweep", "matches_batch")
  }

  // --- q75: watermarked tumbling-window aggregation under the gate --------
  // Streams the events parquet through a real FILE source, watermarks on
  // event time, aggregates per (1-hour window, event_type) in APPEND mode
  // — the mode whose contract is the interesting one: a window row is
  // emitted exactly once, only after the watermark passes its end. The
  // final (still-open) windows are therefore correctly ABSENT from the
  // stream output; parity against batch asserts both the emitted values
  // and that emission boundary. The batch-side finalization predicate
  // mirrors the engine's eviction predicate EXACTLY (WatermarkSupport:
  // `window.end <= watermark`, where the watermark is the ms-TRUNCATED
  // max event time):  window_end_us <= floor(maxTsUs/1000)*1000.
  // For hour-aligned (hence ms-aligned) window ends the truncation cannot
  // change the outcome, but writing the engine's own predicate keeps the
  // parity contract byte-for-byte honest at the boundary — the case where
  // the max event time lands exactly on an hour boundary is pinned by a
  // boundary-aligned spec test (StreamSweepSpec).
  // Sum parity uses floor(value*1000) longs — integer partial sums are
  // order-independent, so stream/batch/any-partitioning agree exactly.
  /** Shared stream/batch parity harness for fixed-duration event-time
    * windows (tumbling q75 and sliding q84 — `winFn` builds the window
    * column from the shared event_ts). The batch finalization predicate
    * mirrors the engine's eviction exactly (`w_start + duration <=
    * ms-truncated watermark`); for fixed-duration windows the assignment
    * is a PER-ROW function, so pushing this predicate below the
    * aggregation is sound — unlike session windows (see q78).
    */
  private def streamWindowParity(s: SparkSession, dir: String,
      qtag: String, winFn: org.apache.spark.sql.Column,
      durationUs: Long): DataFrame = {
    import s.implicits._
    // events.ts is a nanos long; the µs TimestampType column the watermark
    // hangs off is derived once and shared by both sides (the watermark
    // tag lives on the event_ts attribute — it must flow into the window,
    // not be re-derived after the fact).
    def withEventTs(df: DataFrame): DataFrame =
      df.withColumn("event_ts", expr("timestamp_micros(ts div 1000)"))
    def windowed(df: DataFrame): DataFrame = df
      .groupBy(winFn.as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(expr("CAST(floor(value * 1000) AS BIGINT)")).as("sum_v"))
      .select(col("w.start").as("w_start"), col("event_type"),
        col("n_events"), col("sum_v"))

    val streamed = StreamConf.drain(s, qtag, "append")(_ =>
      windowed(withEventTs(Tables.stream(s, dir, "events"))
        .withWatermark("event_ts", "0 seconds")))(_.out.collect())

    val events = Tables.load(s, dir, "events")
    val maxTsUs = events.agg(max(expr("ts div 1000"))).head().getLong(0)
    val watermarkUs = Math.floorDiv(maxTsUs, 1000L) * 1000L // ms-truncated
    val batch = windowed(withEventTs(events))
      .filter(expr(s"unix_micros(w_start) + ${durationUs}L <= $watermarkUs"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    ParityGate(
      streamed.toSeq
        .map { r =>
          val key = (r.getTimestamp(0), r.getString(1))
          (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3),
            batch.get(key).contains((r.getLong(2), r.getLong(3))) &&
              batch.size == streamed.length)
        }
        .toDF("w_start", "event_type", "n_events", "sum_v", "matches_batch"),
      qtag, "matches_batch")
  }

  private def q75(s: SparkSession, dir: String): DataFrame =
    streamWindowParity(s, dir, "q75_stream_window",
      window(col("event_ts"), "1 hour"), 3600000000L)

  // --- q84: STREAMING sliding windows under the gate ----------------------
  // The streamed twin of batch q82: 1-hour windows sliding every 15
  // minutes, append mode. Each event fans out to 4 windows of STATE
  // (bounded by windows-in-flight × types, not the stream); a window
  // emits exactly once when the watermark passes its end — same eviction
  // predicate as tumbling, just 4× the concurrently-open windows.
  private def q84(s: SparkSession, dir: String): DataFrame =
    streamWindowParity(s, dir, "q84_stream_sliding",
      window(col("event_ts"), "1 hour", "15 minutes"), 3600000000L)

  // --- q77: stream-stream interval join under the gate --------------------
  // The hardest streaming operator: two watermarked streams (views and
  // clicks, both read from the events file source) joined on user with a
  // time-range condition — the range bound is what lets the engine evict
  // join state once the watermark passes it, the contract that makes the
  // join runnable on an unbounded stream. Inner-join output for a finite
  // input is complete (state eviction happens only behind the watermark),
  // so the streamed match SET must equal the batch join exactly —
  // asserted per-row with the same transitive-parity scheme as q73–q75.
  /** q77/q165's view→click interval join: views and clicks of `events`
    * (evaluated once per side, so a stream gets one source per side)
    * joined on user with a click at most 10 minutes after its view, in
    * `joinType`. Streamed sides are watermarked at 0 s on their own time
    * column — the range bound on those columns is what lets the engine
    * evict join state. Output: v_id, c_id, user_id, v_ts.
    */
  private def viewClicks(events: => DataFrame, joinType: String,
      streamed: Boolean): DataFrame = {
    def side(kind: String, a: String): DataFrame = {
      val d = events.filter(col("event_type") === kind).select(
        col("event_id").as(s"${a}_id"), col("user_id").as(s"${a}_user"),
        expr("timestamp_micros(ts div 1000)").as(s"${a}_ts"))
      if (streamed) d.withWatermark(s"${a}_ts", "0 seconds") else d
    }
    side("view", "v").join(side("click", "c"),
        col("v_user") === col("c_user") &&
          col("c_ts") >= col("v_ts") &&
          col("c_ts") <= col("v_ts") + expr("INTERVAL 10 MINUTES"),
        joinType)
      .select(col("v_id"), col("c_id"), col("v_user").as("user_id"),
        col("v_ts"))
  }

  // 8 state parts, not the harness default 4: join state is per-EVENT
  // (every view/click inside the watermark horizon), not per-window —
  // an order of magnitude more state rows than the window harnesses
  private def streamedViewClicks(s: SparkSession, dir: String, tag: String,
      joinType: String): Array[org.apache.spark.sql.Row] =
    StreamConf.drain(s, tag, "append", stateParts = Some(8))(_ =>
      viewClicks(Tables.stream(s, dir, "events"), joinType,
        streamed = true))(_.out.collect())

  private def q77(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val streamed = streamedViewClicks(s, dir, "q77", "inner")
    val events = Tables.load(s, dir, "events")
    val batch = viewClicks(events, "inner", streamed = false)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    ParityGate(
      streamed.toSeq
        .map { r =>
          val t = (r.getLong(0), r.getLong(1), r.getLong(2))
          (t._1, t._2, t._3,
            batch.contains(t) && batch.size == streamed.length)
        }
        .toDF("v_id", "c_id", "user_id", "matches_batch"),
      "q77_stream_join", "matches_batch")
  }

  // --- q165: stream-stream LEFT OUTER join under the gate ------------------
  // q77's interval join with the semantics unbounded streams make hard:
  // emit every view, matched or not. An outer stream join can only emit
  // its null rows once the watermark proves no matching click can still
  // arrive — so the streamed output is the complete inner-match set
  // (same argument as q77) PLUS a null row for each unmatched view whose
  // join horizon (v_ts + 10 min) the FINAL global watermark has passed;
  // unmatched views inside the horizon are legitimately still open when
  // the finite input ends and must NOT appear. The expected set is
  // computed from the batch left join under exactly that predicate:
  // global watermark = min(max v_ts, max c_ts) ms-truncated (each side's
  // 0-delay watermark, q75/q78's truncation rule), null row expected iff
  // v_ts + 10 min <= wm. The no-data micro-batch after the last file is
  // what flushes the evictable state — processAllAvailable covers it.
  private def q165(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val streamed = streamedViewClicks(s, dir, "q165", "left_outer")

    val events = Tables.load(s, dir, "events")
    // final global watermark in µs: min of each side's max event time,
    // truncated to ms (the engine tracks watermarks at ms precision)
    val sideMaxUs = events.filter(col("event_type").isin("view", "click"))
      .groupBy("event_type").agg(max(expr("ts div 1000")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val wmUs = math.min(sideMaxUs("view"), sideMaxUs("click")) / 1000 * 1000
    val batchRows = viewClicks(events, "left_outer", streamed = false)
      .select(col("v_id"), col("c_id"), col("user_id"),
        expr("unix_micros(v_ts)").as("v_us"))
      .collect()
    val matched = batchRows.filter(!_.isNullAt(1))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expectedNull = batchRows.filter(_.isNullAt(1))
      .filter(r => r.getLong(3) + 600000000L <= wmUs)
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val expectedSize = matched.size + expectedNull.size
    ParityGate(
      streamed.toSeq
        .map { r =>
          val vId = r.getLong(0)
          val cId = if (r.isNullAt(1)) None else Some(r.getLong(1))
          val user = r.getLong(2)
          val ok = cId match {
            case Some(cid) => matched.contains((vId, cid, user))
            case None => expectedNull.contains((vId, user))
          }
          (vId, cId, user, ok && expectedSize == streamed.length)
        }
        .toDF("v_id", "c_id", "user_id", "matches_batch"),
      "q165_stream_outer_join", "matches_batch")
  }

  // --- q180: late-data accounting under the watermark ----------------------
  // The lateness semantics every production stream negotiates, made
  // observable and asserted: the LATE half of events (by time) lands
  // FIRST — one processAllAvailable drives the watermark to the stream's
  // max event time — then the EARLY half arrives a batch later, entirely
  // behind the watermark. Contract under a 0s-delay watermark + 1h
  // tumbling count: (a) every early row is dropped, and the engine's own
  // `numRowsDroppedByWatermark` ledger must account for all of them in
  // its own units (see below); (b) the
  // emitted (append-mode) windows are exactly the late-half windows
  // whose end the final ms-truncated watermark passed — windows still
  // open at end-of-input stay unemitted. Both facts are computed from
  // the batch table and ParityGated per row. The two-phase landing is
  // deterministic: file batches are separated by processAllAvailable,
  // never by timing — AND the early half lands as ONE part file
  // (coalesce(1)): the live query keeps polling the directory while a
  // batch write commits its task files one rename at a time, so a
  // multi-file landing can straddle a listing and split the early half
  // across micro-batches. That split double-counts windows in the
  // per-batch drop ledger (first seen at sf1/sf10, where the write is
  // slow enough for the poller to win the race); a single part file
  // becomes visible in one atomic rename, so the early batch is
  // all-or-nothing by construction. Both halves land under the leg's
  // scratch root (driver-local unless spark.graft.scratch.dir is set).
  //
  // Ledger units (probed, not assumed): `numRowsDroppedByWatermark`
  // counts rows reaching the STATE operator — i.e. post-shuffle MERGED
  // window partials, one per distinct late window, not raw input rows
  // (4,985 early rows → 360 distinct hour windows → ledger says 360).
  // The merged-partial count is partitioning-independent (the exchange
  // collapses every window to one row), so the expected value is the
  // batch-side DISTINCT window count of the early half.
  private def q180(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        expr("timestamp_micros(ts div 1000)").as("event_ts"))
    val tMidUs = ev
      .agg(min(expr("unix_micros(event_ts)")).as("mn"),
        max(expr("unix_micros(event_ts)")).as("mx"))
      .selectExpr("(mn + mx) div 2").head().getLong(0)
    val early = ev.filter(expr(s"unix_micros(event_ts) < ${tMidUs}L"))
    val late = ev.filter(expr(s"unix_micros(event_ts) >= ${tMidUs}L"))
    // the ledger's unit: distinct early windows (merged partials), see doc
    val nEarlyWindows = early
      .select(expr("unix_micros(event_ts) div 3600000000").as("h"))
      .distinct().count()

    val (rows, dropped) = StreamConf.drain(s, "q180", "append") { root =>
      late.write.parquet(s"$root/in.parquet")
      Tables.stream(s, root, "in")
        .withWatermark("event_ts", "0 seconds")
        .groupBy(window(col("event_ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(expr("unix_micros(w.start)").as("w_start_us"),
          col("n_events"))
    } { leg =>
      // one part file => atomic visibility to the polling source
      // (multi-file commits can split across micro-batches and
      // double-count windows in the drop ledger — see doc above)
      early.coalesce(1).write.mode("append").parquet(s"${leg.root}/in.parquet")
      leg.query.processAllAvailable()
      val drops = leg.query.recentProgress.toSeq
        .flatMap(_.stateOperators.toSeq)
        .map(_.numRowsDroppedByWatermark).sum
      (leg.out.collect(), drops)
    }

    // expected: late-half windows whose END the final watermark passed
    val wmUs = late.agg(max(expr("unix_micros(event_ts)")))
      .head().getLong(0) / 1000 * 1000
    val expected = late
      .groupBy(window(col("event_ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(expr("unix_micros(w.start)").as("w_start_us"),
        col("n_events"), expr("unix_micros(w.end)").as("w_end_us"))
      .filter(col("w_end_us") <= wmUs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.ParityGate(
      rows.toSeq
        .map { r =>
          val t = (r.getLong(0), r.getLong(1))
          (t._1, t._2,
            expected.contains(t) && expected.size == rows.length &&
              dropped == nEarlyWindows)
        }
        .toDF("w_start_us", "n_events", "matches_batch"),
      "q180_late_data_audit", "matches_batch")
  }

  // --- q78: session_window (gap sessions) under the gate ------------------
  // Streams the events parquet through the file source and groups by
  // `session_window(event_ts, 15 minutes)` per user — the engine's native
  // gap-session operator (dynamic, merging windows: a session is
  // [first_event, last_event + gap), extended whenever the next event
  // lands strictly inside the gap). Append mode emits a session exactly
  // once, when the watermark passes its END — and a session's end (last
  // event + gap) is NOT ms-aligned like q75's hour windows, so the
  // ms-truncated-watermark eviction predicate is load-bearing here, not
  // just documentation:  session_end_us <= floor(maxTsUs/1000)*1000.
  // The batch analog runs the SAME session_window expression (Spark
  // supports it in batch), filtered by that exact predicate; parity is
  // per-session on (start, user) → (end, n_events, sum_v) plus a set-size
  // check. The batch sessionize operator itself (q36, window-gap islands)
  // is oracle-hash-checked — same transitive scheme as q73–q77.
  private def q78(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def withEventTs(df: DataFrame): DataFrame =
      df.withColumn("event_ts", expr("timestamp_micros(ts div 1000)"))
    def sessions(df: DataFrame): DataFrame = df
      .groupBy(session_window(col("event_ts"), "15 minutes").as("w"),
        col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(expr("CAST(floor(value * 1000) AS BIGINT)")).as("sum_v"))
      .select(col("w.start").as("s_start"), col("w.end").as("s_end"),
        col("user_id"), col("n_events"), col("sum_v"))

    val streamed = StreamConf.drain(s, "q78", "append")(_ =>
      sessions(withEventTs(Tables.stream(s, dir, "events"))
        .withWatermark("event_ts", "0 seconds")))(_.out.collect())

    val events = Tables.load(s, dir, "events")
    val maxTsUs = events.agg(max(expr("ts div 1000"))).head().getLong(0)
    val watermarkUs = Math.floorDiv(maxTsUs, 1000L) * 1000L // ms-truncated
    // The batch analog is derived INDEPENDENTLY via the q36-style
    // lag/cumsum sessionization (new session iff the gap to the previous
    // event is STRICTLY more than 15 min — the engine MERGES touching
    // sessions: two events exactly one gap apart form ONE session, split
    // only at gap+1µs; pinned empirically by the exact-gap case in
    // StreamSweepSpec's boundary test), NOT via batch session_window.
    // Two reasons:
    //  1. independence — the parity bit then compares the streaming
    //     engine against a separately-derived (and, via q36's oracle
    //     hash-check, transitively DuckDB-verified) implementation rather
    //     than the same expression run twice;
    //  2. a sharp edge THIS GATE CAUGHT at sf0.1: filtering on
    //     session_window's end after the aggregation gets pushed below
    //     the session merge by the optimizer (the end parses as a
    //     grouping column, but post-merge it is NOT a per-row function),
    //     silently dropping pre-merge events whose individual
    //     [ts, ts+gap) window crosses the watermark — observed as a
    //     2-event session un-merged into a phantom 1-event session
    //     (reproduced by DevQ78Debug, PERF.md "Deleted dev probes").
    //     Tumbling windows (q75) are immune:
    //     their window IS a per-row function, so that pushdown is sound.
    // The filter below sits on an aggregate output (max + gap), which
    // the optimizer cannot push past the aggregation.
    val gapUs = 15L * 60L * 1000000L
    val uw = Window.partitionBy("user_id").orderBy("us")
    val batch = withEventTs(events)
      .withColumn("us", expr("unix_micros(event_ts)"))
      .withColumn("new_s",
        when(col("us") - lag(col("us"), 1).over(uw) > gapUs, 1L)
          .otherwise(lit(0L))) // first event per user: lag NULL → 0
      .withColumn("sid", sum(col("new_s")).over(uw))
      .groupBy("user_id", "sid")
      .agg(
        min(col("us")).as("s_us"),
        (max(col("us")) + gapUs).as("e_us"),
        count(lit(1)).as("n_events"),
        sum(expr("CAST(floor(value * 1000) AS BIGINT)")).as("sum_v"))
      .filter(col("e_us") <= watermarkUs)
      .collect()
      .map(r => (usTs(r.getLong(2)), r.getLong(0)) ->
        (usTs(r.getLong(3)), r.getLong(4), r.getLong(5))).toMap
    ParityGate(
      streamed.toSeq
        .map { r =>
          val key = (r.getTimestamp(0), r.getLong(2))
          (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2), r.getLong(3),
            r.getLong(4),
            batch.get(key).contains(
              (r.getTimestamp(1), r.getLong(3), r.getLong(4))) &&
              batch.size == streamed.length)
        }
        .toDF("s_start", "s_end", "user_id", "n_events", "sum_v",
          "matches_batch"),
      "q78_session_window", "matches_batch")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q73_stream_sweep" -> q73 _,
    "q75_stream_window" -> q75 _,
    "q77_stream_join" -> q77 _,
    "q165_stream_outer_join" -> q165 _,
    "q180_late_data_audit" -> q180 _,
    "q78_session_window" -> q78 _,
    "q84_stream_sliding" -> q84 _)

  // Round-14 conversion: the oracle cannot RUN a stream, but it never
  // needed to — each entry's contract is "the streamed result equals a
  // batch-derivable expected set" (asserted in-row by matches_batch,
  // fail-loud), and that EXPECTED SET is plain SQL: the same aggregates/
  // joins plus the engine's own ms-truncated-watermark eviction
  // predicate written out arithmetically. The oracle replays the
  // expected set and pins the bit as literal TRUE, so the driver hash
  // itself now proves the stream emitted exactly the eviction-correct
  // rows. Entries whose output depends on micro-batch arrival order
  // (none here — q75/q78/q84's append emission is watermark-determined,
  // q77/q165's join output is input-determined, q73/q180's harness
  // pins arrival phases deterministically) stay deterministic.

  // q75/q84 share the shape: the window-assignment arithmetic (hour
  // floor for tumbling; q82's proven epoch-aligned k = 0..3 slide grid
  // for sliding — every one of the 4 grid windows contains the event,
  // since (us mod 900e6) + k·900e6 < 3600e6 holds for k ≤ 3), then
  // eviction = window end ≤ ms-truncated max event time.
  private def windowOracle(assignCte: String): String =
    s"""WITH e AS (
       |  SELECT epoch_us(ts) AS us, event_type,
       |    CAST(floor(value * 1000) AS BIGINT) AS v
       |  FROM events
       |), wm AS (
       |  SELECT (MAX(us) // 1000) * 1000 AS w FROM e
       |), x AS (
       |$assignCte
       |)
       |SELECT make_timestamp(w_us) AS w_start, event_type,
       |  COUNT(*) AS n_events, CAST(SUM(v) AS BIGINT) AS sum_v,
       |  TRUE AS matches_batch
       |FROM x, wm
       |GROUP BY w_us, event_type, wm.w
       |HAVING w_us + 3600000000 <= wm.w""".stripMargin

  private val q75Sql = windowOracle(
    """  SELECT (us // 3600000000) * 3600000000 AS w_us, event_type, v
      |  FROM e""".stripMargin)

  private val q84Sql = windowOracle(
    """  SELECT ((us // 900000000) - k) * 900000000 AS w_us, event_type, v
      |  FROM e, unnest(generate_series(0, 3)) AS t(k)""".stripMargin)

  private val q77Sql =
    """WITH v AS (
      |  SELECT event_id AS v_id, user_id AS v_user, epoch_us(ts) AS v_us
      |  FROM events WHERE event_type = 'view'
      |), c AS (
      |  SELECT event_id AS c_id, user_id AS c_user, epoch_us(ts) AS c_us
      |  FROM events WHERE event_type = 'click'
      |)
      |SELECT v.v_id, c.c_id, v.v_user AS user_id, TRUE AS matches_batch
      |FROM v JOIN c ON v.v_user = c.c_user
      |  AND c.c_us >= v.v_us AND c.c_us <= v.v_us + 600000000""".stripMargin

  private val q165Sql =
    """WITH v AS (
      |  SELECT event_id AS v_id, user_id AS v_user, epoch_us(ts) AS v_us
      |  FROM events WHERE event_type = 'view'
      |), c AS (
      |  SELECT event_id AS c_id, user_id AS c_user, epoch_us(ts) AS c_us
      |  FROM events WHERE event_type = 'click'
      |), wm AS (
      |  SELECT (LEAST((SELECT MAX(v_us) FROM v), (SELECT MAX(c_us) FROM c))
      |    // 1000) * 1000 AS w
      |)
      |SELECT v.v_id, c.c_id, v.v_user AS user_id, TRUE AS matches_batch
      |FROM v JOIN c ON v.v_user = c.c_user
      |  AND c.c_us >= v.v_us AND c.c_us <= v.v_us + 600000000
      |UNION ALL
      |SELECT v.v_id, NULL, v.v_user, TRUE
      |FROM v, wm
      |WHERE NOT EXISTS (
      |    SELECT 1 FROM c WHERE c.c_user = v.v_user
      |      AND c.c_us >= v.v_us AND c.c_us <= v.v_us + 600000000)
      |  AND v.v_us + 600000000 <= wm.w""".stripMargin

  private val q78Sql =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS us,
      |    CAST(floor(value * 1000) AS BIGINT) AS v
      |  FROM events
      |), s1 AS (
      |  SELECT user_id, us, v,
      |    CASE WHEN us - LAG(us) OVER (PARTITION BY user_id ORDER BY us)
      |      > 900000000 THEN 1 ELSE 0 END AS new_s
      |  FROM e
      |), s2 AS (
      |  SELECT user_id, us, v,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM s1
      |), g AS (
      |  SELECT user_id, MIN(us) AS s_us, MAX(us) + 900000000 AS e_us,
      |    CAST(COUNT(*) AS BIGINT) AS n_events, CAST(SUM(v) AS BIGINT) AS sum_v
      |  FROM s2 GROUP BY user_id, sid
      |), wm AS (
      |  SELECT (MAX(us) // 1000) * 1000 AS w FROM e
      |)
      |SELECT make_timestamp(s_us) AS s_start, make_timestamp(e_us) AS s_end,
      |  user_id, n_events, sum_v, TRUE AS matches_batch
      |FROM g, wm WHERE e_us <= wm.w""".stripMargin

  private val q180Sql =
    """WITH e AS (
      |  SELECT epoch_us(ts) AS us FROM events
      |), b AS (
      |  SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM e
      |), late AS (
      |  SELECT us FROM e, b WHERE us >= b.mid
      |), wm AS (
      |  SELECT (MAX(us) // 1000) * 1000 AS w FROM late
      |)
      |SELECT w_start_us, n_events, TRUE AS matches_batch FROM (
      |  SELECT (us // 3600000000) * 3600000000 AS w_start_us,
      |    COUNT(*) AS n_events
      |  FROM late GROUP BY 1) g, wm
      |WHERE g.w_start_us + 3600000000 <= wm.w""".stripMargin

  private def q73Sql =
    s"""SELECT *, TRUE AS matches_batch FROM (
       |${Sizing.q20Sql}
       |)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q73_stream_sweep" -> q73Sql,
    "q75_stream_window" -> q75Sql,
    "q77_stream_join" -> q77Sql,
    "q78_session_window" -> q78Sql,
    "q84_stream_sliding" -> q84Sql,
    "q165_stream_outer_join" -> q165Sql,
    "q180_late_data_audit" -> q180Sql)
}
