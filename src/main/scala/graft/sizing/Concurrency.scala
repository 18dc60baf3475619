package graft.sizing

import graft.plans.PrefixSum
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The sweep-line concurrency operator (SURVEY §2.6) — the reference's one
  * genuinely novel operator: max-concurrent-resource analysis over query
  * intervals (impala_query_sizing.py:307–396).
  *
  * Semantics: each kept query contributes a `+delta` event at its admitted
  * start (start_time shifted by admission_wait, py:307–310) and a `-delta`
  * event at its end; events are globally ordered; running sums are the
  * instantaneous resource footprint; maxima are taken ONLY at start events
  * (py:381–396 — between a start and the next event the footprint is
  * constant, so starts are the only candidates for a maximum).
  *
  * Deviations (documented, SURVEY §2.10 Q5/Q11): the reference sorts raw
  * timestamp STRINGS with mixed formats and unpadded millis, which
  * mis-orders sub-second events. We order by true instant with a
  * deterministic tiebreak: at equal instants ends sort before starts
  * (kind 0 < 1 — so a query ending exactly when another starts does not
  * count as overlapping), then query_id.
  *
  * Scale: the running sums go through [[PrefixSum.scan]] — a two-pass
  * range-partitioned scan, not a single-task global window. Event fan-out
  * is 2 rows per query via explode (no driver loop).
  */
object Concurrency {

  /** The battery's integer payload (q20, q73): pods in count units,
    * cache/mem/spill in bytes-per-backend (`x_bytes div num_backends`),
    * cpu in milli-vcores-per-backend. Integer deltas are
    * associativity-safe across partitions; doubles would make distributed
    * partial sums order-sensitive.
    */
  val integerDeltas: Seq[(String, Column)] = Seq(
    "pods" -> col("min_executor_pod"),
    "cache_b" -> col("cache_b_per_backend"),
    "mem_b" -> col("mem_b_per_backend"),
    "cpu_mv" -> col("cpu_mv_per_backend"),
    "spill_b" -> col("spill_b_per_backend"))

  /** Input: kept querylog rows with an `admitted_us`/`end_us` pair (µs
    * since epoch, BIGINT) and one `(name, delta)` per swept resource — the
    * delta an exact integer or decimal expression over the row (see
    * [[integerDeltas]]; the report's DECIMAL payload is in [[Pipeline]]).
    * One delta must be named `pods`: [[maxima]] reports the instant of
    * its peak.
    *
    * Rows missing either instant are excluded: a null-instant event would
    * land in PrefixSum's bucket 0 and sort FIRST, applying a query's end
    * deltas before its start and silently depressing every running sum.
    * Such rows cannot contribute a well-formed interval (they stay in the
    * caller's CSV/aggregate paths).
    *
    * Output: one row per event — `query_id, ts_us, kind, d_count, d_<name>…`
    * — with running sums `run_count, run_<name>…` over the global
    * (ts, kind, query_id) order.
    *
    * Nothing is cached. The scan evaluates the explode three times (bounds
    * pass, totals branch, local-scan branch); round 18 measured that
    * materializing the event frame costs more than re-evaluating it (a
    * localCheckpoint per call, which q73 makes per micro-batch, left
    * blocks accumulating until driver GC and took the entry 7.5 → 35 s at
    * sf0.1). Callers with an expensive upstream persist `kept` instead.
    *
    * `eventRange` is the events' [min, max] instant when the caller
    * already has it (the report computes it in its aggregate pass); it
    * only sets the scan's bucket bounds, so a range that is off costs
    * balance, never correctness. Without it the range costs one eager
    * min/max action over the events.
    */
  def sweep(kept: DataFrame, deltas: Seq[(String, Column)],
      eventRange: Option[(Double, Double)] = None): DataFrame = {
    def event(ts: String, kind: Int, sign: Long): Column = struct(
      col(ts).as("ts_us") +: lit(kind).as("kind") +: lit(sign).as("d_count") +:
        deltas.map { case (n, d) => (if (sign > 0) d else -d).as(s"d_$n") }: _*)
    val events = kept
      .filter(col("admitted_us").isNotNull && col("end_us").isNotNull)
      .select(col("query_id"),
        explode(array(event("admitted_us", 1, 1L), event("end_us", 0, -1L)))
          .as("e"))
      .select(col("query_id"), col("e.*"))

    // Event instants are near-uniform over the analysis window, so an even
    // split of [min, max] balances the buckets; balance only affects
    // local-scan parallelism, never correctness.
    val range = eventRange.getOrElse {
      val mm = events.agg(min(col("ts_us")).cast("double"),
        max(col("ts_us")).cast("double")).head()
      if (mm.isNullAt(0)) (0.0, 0.0) else (mm.getDouble(0), mm.getDouble(1))
    }

    PrefixSum.scan(events, "ts_us",
      Seq(col("ts_us"), col("kind"), col("query_id")),
      ("count" +: deltas.map(_._1)).map(n => s"d_$n" -> s"run_$n"),
      knownRange = Some(range))
  }

  /** The maxima row's columns for [[integerDeltas]] — the single source of
    * truth shared by the batch [[maxima]] aggregate and the streamed fold
    * (q73), so the two output schemas cannot drift.
    */
  val maximaCols: Seq[String] = "max_concurrent_queries" +:
    integerDeltas.map { case (n, _) => s"max_concurrent_$n" } :+
    "max_pods_at_us"

  /** Conditional maxima (py:381–396): max running footprint observed at
    * start events. Returns a single row: `max_concurrent_queries`, one
    * `max_concurrent_<name>` per delta of the [[sweep]] (its type), and
    * `max_pods_at_us`.
    */
  def maxima(swept: DataFrame): DataFrame = {
    val names = swept.columns.toSeq
      .filter(c => c.startsWith("run_") && c != "run_count")
      .map(_.stripPrefix("run_"))
    val aggs = max(col("run_count")).as("max_concurrent_queries") +:
      names.map(n => max(col(s"run_$n")).as(s"max_concurrent_$n")) :+
      // py:384 uses >= for pods: at ties the LATEST start wins
      max_by(col("ts_us"), struct(col("run_pods"), col("ts_us")))
        .as("max_pods_at_us")
    swept
      .filter(col("d_count") > 0)
      .agg(aggs.head, aggs.tail: _*)
  }
}
