package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Bounded per-key event timeline as a typed `Aggregator`: keeps the k
  * EARLIEST (ts, id, type) triples by (ts ASC, id ASC, type ASC) — "each
  * key's first k events" — in a sorted buffer that never exceeds k
  * elements. Built for streaming keyed state (q143's transition
  * monitor): `collect_list` state grows with a power user's full
  * history, while this buffer is O(k) per key forever, including under
  * out-of-order arrival (a late-but-early event splices in and the
  * current latest falls out — the result is arrival-order independent,
  * same argument as [[TopKAggregator]]).
  *
  * Truncation is OBSERVABLE, not silent: pair the call with a
  * `count(*)` in the same agg — `size(timeline) < n_events` iff the cap
  * dropped something — so a caller whose semantics need the full
  * history (q143's batch-parity gate) can fail loud instead of
  * reporting a matrix over a silently clipped log.
  *
  * Insertion cost: once the buffer is SATURATED (holds k elements) an
  * arriving event ≥ the current max is rejected by ONE comparison
  * against the buffer tail — O(1), and at scale that is almost every
  * event (the buffer converges to the k earliest; later arrivals only
  * rarely splice). An admitted event binary-searches its slot (O(log k)
  * comparisons) and splices by indexed Vector concat — bulk node copy,
  * not the former cons-walk with a three-field comparator per element
  * (measured ≥5× at k = 4096 on the saturated path; see
  * DevTimelineAggProbe in PERF.md "Deleted dev probes").
  */
class BoundedTimelineAgg(k: Int) extends Aggregator[
    (Long, Long, String), BoundedTimelineAgg.Buf, Seq[(Long, Long, String)]] {
  import BoundedTimelineAgg.Buf

  private def lt(a: (Long, Long, String), b: (Long, Long, String)): Boolean =
    a._1 < b._1 || (a._1 == b._1 &&
      (a._2 < b._2 || (a._2 == b._2 && a._3 < b._3)))

  private def insert(items: Vector[(Long, Long, String)],
      v: (Long, Long, String)): Vector[(Long, Long, String)] =
    if (items.length >= k && !lt(v, items.last)) items // saturated reject
    else {
      // binary search: first index whose element is NOT < v — equal
      // elements insert BEFORE their run, matching the old span-based
      // splice, so exact-duplicate handling is unchanged
      var lo = 0
      var hi = items.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (lt(items(mid), v)) lo = mid + 1 else hi = mid
      }
      val spliced = (items.take(lo) :+ v) ++ items.drop(lo)
      if (spliced.length > k) spliced.init else spliced
    }

  override def zero: Buf = Buf(Vector.empty)
  override def reduce(b: Buf, in: (Long, Long, String)): Buf =
    Buf(insert(b.items, in))
  override def merge(a: Buf, b: Buf): Buf =
    Buf(b.items.foldLeft(a.items)(insert))
  override def finish(b: Buf): Seq[(Long, Long, String)] = b.items
  override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
  override def outputEncoder: Encoder[Seq[(Long, Long, String)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
}

object BoundedTimelineAgg {
  final case class Buf(items: Vector[(Long, Long, String)])
}
