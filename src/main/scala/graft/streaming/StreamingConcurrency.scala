package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming sweep-line concurrency (SURVEY §2.8 streaming row, §7 step
  * 10): the reference's batch interval-overlap analysis (py:307–396) as a
  * Structured Streaming pipeline over a live query-event stream.
  *
  * Shape mirrors the batch two-pass scan ([[graft.plans.PrefixSum]]):
  *
  *  1. query intervals fan out into ±delta events (event time = the
  *     delta's instant);
  *  2. events group into fixed time buckets keyed by `bucket = ts_us div
  *     bucketUs`; [[flatMapGroupsWithState]] buffers each bucket until the
  *     WATERMARK passes its end (event-time timeout), then sorts the
  *     bucket locally — (ts, end-before-start, query_id), the engine's Q5
  *     tiebreak — and emits one [[BucketSummary]] with the bucket's net
  *     deltas and its internal max-prefix-at-start candidates. This stage
  *     is the distributed heavy lifting: state per group is one bucket's
  *     events, never the stream.
  *  3. summaries are tiny (one row per bucket); [[GlobalAccumulator]]
  *     folds them in bucket order with carry-ins — the same
  *     exclusive-prefix trick as the batch scan, O(buckets) work —
  *     typically inside `foreachBatch` or any downstream consumer.
  *
  * Deltas are LONGs, same contract as the batch operator
  * ([[graft.sizing.Concurrency]]): pods are counts, cache/mem/spill are
  * bytes-per-backend, cpu is milli-vcores — integer units whose partial
  * sums are exact and associativity-safe; doubles would silently lose
  * low-order bits once a byte-count running sum crosses 2^53 (a few
  * hundred concurrent 50 TiB-cache queries).
  *
  * All instant arithmetic is µs-exact: Spark TimestampType is µs
  * precision, and [[tsUs]]/[[usTs]] round-trip the full µs through
  * `java.sql.Timestamp` (getTime alone truncates to ms, which would
  * mis-order sub-ms events inside a bucket and break the batch-parity
  * contract).
  *
  * Late events beyond the watermark are dropped by the timeout contract —
  * the documented streaming trade-off vs the exact batch operator.
  */
object StreamingConcurrency {

  /** Full-µs instant of a Timestamp (getTime is ms-truncated; the sub-ms
    * µs live in the nanos field).
    */
  def tsUs(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  /** Inverse of [[tsUs]]: a Timestamp carrying the full µs. */
  def usTs(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** One query interval on the stream (admitted/end already resolved). */
  final case class QueryInterval(queryId: String, admitted: Timestamp,
      end: Timestamp, pods: Long, cachePerBackend: Long,
      memPerBackend: Long, cpuMilliVcores: Long, spillPerBackend: Long)

  /** A ±delta event with its bucket key. */
  final case class Event(bucket: Long, ts: Timestamp, kind: Int,
      queryId: String, dCount: Long, dPods: Long, dCache: Long,
      dMem: Long, dCpu: Long, dSpill: Long)

  /** Per-bucket local scan result. `maxPref*` are the bucket-internal
    * running-sum maxima observed at start events (relative to a zero
    * carry-in); `net*` are the bucket's total deltas (the carry for every
    * later bucket). `maxPrefAtUs` carries the py:384 `>=` tie rule.
    */
  final case class BucketSummary(bucket: Long, nEvents: Long,
      netCount: Long, netPods: Long, netCache: Long, netMem: Long,
      netCpu: Long, netSpill: Long,
      maxPrefCount: Long, maxPrefPods: Long, maxPrefCache: Long,
      maxPrefMem: Long, maxPrefCpu: Long, maxPrefSpill: Long,
      maxPrefAtUs: Long, hasStart: Boolean)

  /** Fan a query-interval stream out into ±delta events (py:311–333). */
  def events(intervals: Dataset[QueryInterval], bucketUs: Long)
      : Dataset[Event] = {
    import intervals.sparkSession.implicits._
    intervals.flatMap { q =>
      val sUs = tsUs(q.admitted)
      val eUs = tsUs(q.end)
      Seq(
        Event(Math.floorDiv(sUs, bucketUs), q.admitted, 1, q.queryId, 1L,
          q.pods, q.cachePerBackend, q.memPerBackend, q.cpuMilliVcores,
          q.spillPerBackend),
        Event(Math.floorDiv(eUs, bucketUs), q.end, 0, q.queryId, -1L,
          -q.pods, -q.cachePerBackend, -q.memPerBackend, -q.cpuMilliVcores,
          -q.spillPerBackend))
    }
  }

  /** Stage 2: watermarked bucket scan. Emits each bucket's summary once,
    * when the watermark guarantees the bucket can no longer grow.
    */
  def bucketSummaries(ev: Dataset[Event], bucketUs: Long,
      watermarkDelay: String): Dataset[BucketSummary] = {
    import ev.sparkSession.implicits._
    ev.withWatermark("ts", watermarkDelay)
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[List[Event], BucketSummary](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (bucket, rows, state: GroupState[List[Event]]) =>
          if (state.hasTimedOut) {
            val all = state.getOption.getOrElse(Nil)
            state.remove()
            Iterator.single(scanBucket(bucket, all))
          } else {
            state.update(rows.toList ::: state.getOption.getOrElse(Nil))
            // close the bucket once the watermark passes its end instant
            state.setTimeoutTimestamp((bucket + 1) * bucketUs / 1000)
            Iterator.empty
          }
      }
  }

  /** Sequential local scan of one closed bucket (the bucket is the unit
    * of parallelism — this runs once per bucket, distributed).
    */
  private[streaming] def scanBucket(bucket: Long, evs: List[Event])
      : BucketSummary = {
    val ordered = evs.sortBy(e => (tsUs(e.ts), e.kind, e.queryId))
    var (c, p, ca, m, cp, sp) = (0L, 0L, 0L, 0L, 0L, 0L)
    var (mc, mp, mca, mm, mcp, msp) =
      (Long.MinValue, Long.MinValue, Long.MinValue, Long.MinValue,
        Long.MinValue, Long.MinValue)
    var atUs = Long.MinValue
    var hasStart = false
    ordered.foreach { e =>
      c += e.dCount; p += e.dPods; ca += e.dCache; m += e.dMem
      cp += e.dCpu; sp += e.dSpill
      if (e.dCount > 0) { // maxima only at starts (py:381–396)
        hasStart = true
        if (c > mc) mc = c
        if (p >= mp) { mp = p; atUs = tsUs(e.ts) } // py:384 >=
        if (ca > mca) mca = ca
        if (m > mm) mm = m
        if (cp > mcp) mcp = cp
        if (sp > msp) msp = sp
      }
    }
    BucketSummary(bucket, evs.size.toLong, c, p, ca, m, cp, sp,
      mc, mp, mca, mm, mcp, msp, atUs, hasStart)
  }

  /** Stage 3 result: the reference's concurrency report fields. */
  final case class Maxima(maxConcurrentQueries: Long, maxPods: Long,
      maxCache: Long, maxMem: Long, maxCpu: Long, maxSpill: Long,
      maxPodsAtUs: Long)

  /** Fold closed-bucket summaries (any arrival order) into global maxima
    * with carry-ins — O(buckets), driver-friendly, deterministic.
    */
  object GlobalAccumulator {
    def fold(summaries: Seq[BucketSummary]): Option[Maxima] = {
      val ordered = summaries.sortBy(_.bucket)
      var (c, p, ca, m, cp, sp) = (0L, 0L, 0L, 0L, 0L, 0L)
      var out: Option[Maxima] = None
      ordered.foreach { b =>
        if (b.hasStart) {
          val cand = Maxima(c + b.maxPrefCount, p + b.maxPrefPods,
            ca + b.maxPrefCache, m + b.maxPrefMem, cp + b.maxPrefCpu,
            sp + b.maxPrefSpill, b.maxPrefAtUs)
          out = Some(out.fold(cand) { prev =>
            Maxima(
              math.max(prev.maxConcurrentQueries, cand.maxConcurrentQueries),
              math.max(prev.maxPods, cand.maxPods),
              math.max(prev.maxCache, cand.maxCache),
              math.max(prev.maxMem, cand.maxMem),
              math.max(prev.maxCpu, cand.maxCpu),
              math.max(prev.maxSpill, cand.maxSpill),
              if (cand.maxPods >= prev.maxPods) cand.maxPodsAtUs
              else prev.maxPodsAtUs)
          })
        }
        c += b.netCount; p += b.netPods; ca += b.netCache
        m += b.netMem; cp += b.netCpu; sp += b.netSpill
      }
      out
    }
  }
}
