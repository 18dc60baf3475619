package graft.streaming

import graft.sizing.Concurrency
import java.sql.Timestamp
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming sweep-line concurrency (SURVEY §2.8 streaming row, §7 step
  * 10): the reference's batch interval-overlap analysis (py:307–396) as a
  * Structured Streaming pipeline over a live query-event stream.
  *
  * The batch operator's sweep algebra ([[graft.sizing.Concurrency.fold]])
  * and its one bucket scan ([[graft.sizing.Concurrency.BucketScan]]), over
  * buckets that the watermark closes:
  *
  *  1. query intervals fan out into ±delta events (event time = the
  *     delta's instant);
  *  2. events group into fixed time buckets keyed by `bucket = ts_us div
  *     bucketUs`; [[flatMapGroupsWithState]] buffers each bucket until the
  *     WATERMARK passes its end (event-time timeout), then sorts the
  *     bucket locally — (ts, end-before-start, query_id), the engine's Q5
  *     tiebreak — scans it with the batch operator's long kernel and
  *     emits one [[BucketSummary]] with the bucket's net
  *     deltas and its internal max-prefix-at-start candidates. This stage
  *     is the distributed heavy lifting: state per group is one bucket's
  *     events, never the stream.
  *  3. summaries are tiny (one row per bucket); [[GlobalAccumulator]]
  *     folds them with carry-ins, O(buckets) work — typically inside
  *     `foreachBatch` or any downstream consumer.
  *
  * Deltas are the batch operator's integer units
  * ([[graft.sizing.Concurrency.integerDeltas]]) as LONGs: exact partial
  * sums, where doubles would lose low-order bits once a byte-count
  * running sum crosses 2^53 (a few hundred concurrent 50 TiB queries).
  * A running sum that leaves the long range throws an
  * `ArithmeticException` naming the resource; it never wraps.
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
      dMem: Long, dCpu: Long, dSpill: Long) {
    def deltas: Seq[Long] = Seq(dCount, dPods, dCache, dMem, dCpu, dSpill)
  }

  /** A closed bucket's [[graft.sizing.Concurrency.Summary]] in the
    * stream's six-long shape (`net*`, `maxPref*`, `maxPrefAtUs`).
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
      def ev(t: Timestamp, kind: Int, s: Long) =
        Event(Math.floorDiv(tsUs(t), bucketUs), t, kind, q.queryId, s,
          s * q.pods, s * q.cachePerBackend, s * q.memPerBackend,
          s * q.cpuMilliVcores, s * q.spillPerBackend)
      Seq(ev(q.admitted, 1, 1L), ev(q.end, 0, -1L))
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

  /** Sequential scan of one closed bucket, once per bucket, distributed:
    * the bucket's events in (ts, end-before-start, query_id) order through
    * the batch operator's one long kernel
    * ([[graft.sizing.Concurrency.BucketScan]]), maxima taken at starts
    * (py:381–396); a running sum that leaves the long range throws an
    * `ArithmeticException` naming the resource.
    */
  private[streaming] def scanBucket(bucket: Long, evs: List[Event])
      : BucketSummary = {
    val scan = new Concurrency.BucketScan(resources, pods = 1)
    evs.sortBy(e => (tsUs(e.ts), e.kind, e.queryId)).foreach { e =>
      e.deltas.zipWithIndex.foreach { case (d, i) => scan.add(i, d) }
      scan.event(tsUs(e.ts), e.dCount > 0)
    }
    val s = scan.summary(bucket)
    val n = s.net
    val (m, atUs) = s.peak.map(_ -> s.peakAtUs)
      .getOrElse((Seq.fill(6)(Long.MinValue), Long.MinValue))
    BucketSummary(bucket, evs.size.toLong, n(0), n(1), n(2), n(3), n(4),
      n(5), m(0), m(1), m(2), m(3), m(4), m(5), atUs, s.peak.nonEmpty)
  }

  /** The six resources of [[Event.deltas]], in order. */
  private val resources = Seq("count", "pods", "cache", "mem", "cpu", "spill")

  /** Stage 3 result: the reference's concurrency report fields. */
  final case class Maxima(maxConcurrentQueries: Long, maxPods: Long,
      maxCache: Long, maxMem: Long, maxCpu: Long, maxSpill: Long,
      maxPodsAtUs: Long)

  /** Fold closed-bucket summaries (any arrival order) into global maxima
    * with carry-ins: [[Concurrency.foldExact]] over the six long
    * resources, so a footprint past the long range throws, never wraps.
    */
  object GlobalAccumulator {
    def fold(summaries: Seq[BucketSummary]): Option[Maxima] =
      Concurrency.foldExact(summaries.map { b =>
        Concurrency.Summary(b.bucket, Seq(b.netCount, b.netPods, b.netCache,
          b.netMem, b.netCpu, b.netSpill),
          Option.when(b.hasStart)(Seq(b.maxPrefCount, b.maxPrefPods,
            b.maxPrefCache, b.maxPrefMem, b.maxPrefCpu, b.maxPrefSpill)),
          b.maxPrefAtUs)
      }, resources, pods = 1).flatMap(s => s.peak.map {
        case Seq(c, p, ca, m, cp, sp) => Maxima(c, p, ca, m, cp, sp, s.peakAtUs)
      })
  }
}
