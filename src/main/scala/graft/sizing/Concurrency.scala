package graft.sizing

import graft.plans.PrefixSum
import org.apache.spark.SparkException
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StructField, StructType}

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
  * One sweep algebra for batch and stream: a bucket of events summarizes
  * to its net deltas t and its running-sum maxima at starts m, and
  * summaries fold in bucket order as (t₁, m₁) ⊕ (t₂, m₂) = (t₁ + t₂,
  * max(m₁, t₁ + m₂)) — [[fold]]. One long kernel, [[BucketScan]], builds
  * every summary: [[maxima]]'s per value bucket after one exchange, and
  * [[graft.streaming.StreamingConcurrency]]'s per closed bucket in state.
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

  /** The events `query_id, ts_us, kind, d_count, d_<name>…` of kept rows
    * with an `admitted_us`/`end_us` pair (µs since epoch, BIGINT) and one
    * `(name, delta)` per swept resource, the delta an exact integer or
    * decimal expression over the row (the report's is in [[Pipeline]]).
    *
    * Rows missing either instant are excluded: a null-instant event would
    * sort FIRST, applying a query's end deltas before its start and
    * silently depressing every running sum (such rows stay in the
    * caller's CSV/aggregate paths).
    *
    * Nothing is cached. [[sweep]] evaluates the explode three times and
    * [[maxima]] twice without an `eventRange`; round 18 measured that
    * materializing the event frame costs more than re-evaluating it (a
    * localCheckpoint per call, which q73 makes per micro-batch, left
    * blocks accumulating until driver GC and took the entry 7.5 → 35 s at
    * sf0.1). Callers with an expensive upstream persist `kept` instead.
    */
  private def events(kept: DataFrame, deltas: Seq[(String, Column)])
      : DataFrame = {
    def event(ts: String, kind: Int, sign: Long): Column = struct(
      col(ts).as("ts_us") +: lit(kind).as("kind") +: lit(sign).as("d_count") +:
        deltas.map { case (n, d) => (if (sign > 0) d else -d).as(s"d_$n") }: _*)
    kept
      .filter(col("admitted_us").isNotNull && col("end_us").isNotNull)
      .select(col("query_id"),
        explode(array(event("admitted_us", 1, 1L), event("end_us", 0, -1L)))
          .as("e"))
      .select(col("query_id"), col("e.*"))
  }

  private val eventOrder = Seq(col("ts_us"), col("kind"), col("query_id"))

  /** One row per event ([[events]]) with running sums `run_count,
    * run_<name>…` over the global (ts, kind, query_id) order, via
    * [[PrefixSum.scan]] with quantile bounds. Library API: the report and
    * the battery read only [[maxima]].
    */
  def sweep(kept: DataFrame, deltas: Seq[(String, Column)]): DataFrame =
    PrefixSum.scan(events(kept, deltas), "ts_us", eventOrder,
      ("count" +: deltas.map(_._1)).map(n => s"d_$n" -> s"run_$n"))

  /** The [[maxima]] row's columns for [[integerDeltas]], shared with the
    * streamed fold (q73) so the two output schemas cannot drift.
    */
  val maximaCols: Seq[String] = "max_concurrent_queries" +:
    integerDeltas.map { case (n, _) => s"max_concurrent_$n" } :+
    "max_pods_at_us"

  /** A run of events over the caller's resources (one order for every
    * summary): the net delta per resource and, when the run holds a start,
    * the running-sum maxima at its starts from a zero carry-in (`peak`)
    * with the start instant of the pods peak (latest on ties).
    */
  final case class Summary[N](bucket: Long, net: Seq[N],
      peak: Option[Seq[N]], peakAtUs: Long)

  /** The one carry fold, in bucket order (any arrival order): (t₁, m₁) ⊕
    * (t₂, m₂) = (t₁ + t₂, max(m₁, t₁ + m₂)) per resource; the pods instant
    * moves to the later run when its peak ties or beats (py:384 `>=`;
    * `pods` is the pods resource's position). Exact on BigInt or decimal;
    * long summaries fold through [[foldExact]].
    */
  def fold[N](summaries: Seq[Summary[N]], pods: Int)(
      implicit num: Numeric[N]): Option[Summary[N]] = {
    def plus(a: Seq[N], b: Seq[N]) =
      a.zip(b).map { case (x, y) => num.plus(x, y) }
    summaries.sortBy(_.bucket).reduceLeftOption { (a, b) =>
      val c = b.peak.map(plus(a.net, _)) // b's peak after a's carry
      Summary(a.bucket, plus(a.net, b.net), (a.peak ++ c).reduceOption(
        (x, y) => x.zip(y).map { case (p, q) => num.max(p, q) }),
        if (c.exists(v => a.peak.forall(m => num.gteq(v(pods), m(pods)))))
          b.peakAtUs
        else a.peakAtUs)
    }
  }

  /** [[fold]] over long summaries (the [[BucketScan]]s' of `names`) in
    * exact arithmetic: a folded value outside the long range throws an
    * `ArithmeticException` naming its resource, never wraps.
    */
  def foldExact(summaries: Seq[Summary[Long]], names: Seq[String],
      pods: Int): Option[Summary[Long]] = {
    def big(v: Seq[Long]) = v.map(BigInt(_))
    def long(v: Seq[BigInt]) = v.zip(names).map {
      case (x, n) => if (x.isValidLong) x.toLong else throw overflow(n) }
    fold(summaries.map(s => s.copy(net = big(s.net), peak = s.peak.map(big))),
      pods).map(s => s.copy(net = long(s.net), peak = s.peak.map(long)))
  }

  /** The one bucket scan, shared by [[maxima]] and the stream's closed
    * buckets ([[graft.streaming.StreamingConcurrency]]): a bucket's events
    * fed in (ts, kind, query_id) order, one signed long delta per resource
    * ([[add]]) and then the event's instant ([[event]]). Running sums are
    * exact longs (`Math.addExact`); an overflow throws an
    * `ArithmeticException` naming the resource. A running sum inside a
    * bucket is the difference of two footprints, so it overflows only
    * where a footprint itself leaves the long range.
    */
  final class BucketScan(names: Seq[String], pods: Int) {
    private val run = new Array[Long](names.size)
    private val peak = new Array[Long](names.size)
    private var started = false
    private var peakAtUs = 0L

    /** Adds resource `i`'s delta to its running sum. */
    def add(i: Int, delta: Long): Unit =
      run(i) = try Math.addExact(run(i), delta) catch {
        case _: ArithmeticException => throw overflow(names(i)) }

    /** Ends an event at `tsUs`: a start takes the running maxima
      * (py:381–396), and the pods instant moves to it when its pods sum
      * ties or beats the peak so far (py:384 `>=`: the latest wins).
      */
    def event(tsUs: Long, start: Boolean): Unit = if (start) {
      if (!started || run(pods) >= peak(pods)) peakAtUs = tsUs
      var i = 0
      while (i < run.length) {
        if (!started || run(i) > peak(i)) peak(i) = run(i)
        i += 1
      }
      started = true
    }

    /** The events added so far as `bucket`'s [[Summary]]. */
    def summary(bucket: Long): Summary[Long] = Summary(bucket, run.toSeq,
      Option.when(started)(peak.toSeq), peakAtUs)
  }

  private def overflow(name: String) = new ArithmeticException(
    s"sweep: the running sum of resource '$name' overflows a long")

  /** Conditional maxima (py:381–396) over the [[events]] of `kept` (one
    * delta named `pods`): one row of `max_concurrent_queries`, a
    * `max_concurrent_<name>` per delta (BIGINT for integer deltas, the
    * SQL sum's DECIMAL for decimal ones) and `max_pods_at_us`, all NULL
    * without events.
    *
    * Every delta is projected once per row, before the ±delta explode, as
    * an exact BIGINT: an integer as it is, a DECIMAL(p,s) as the unscaled
    * long of the same value (the report's [[Pipeline.reportDeltas]]); a
    * value whose unscaled long leaves the range fails the projection's
    * ANSI cast. Events split into value buckets by an even split of
    * `eventRange` ([[PrefixSum.valueBucket]]); no window runs: one
    * exchange (`repartition` by bucket, which AQE may coalesce), a sort
    * within partitions and one [[BucketScan]] per bucket give each
    * bucket's [[Summary]], folded exactly on the driver ([[foldExact]]),
    * decimals rescaled. A running sum that leaves the long range throws an
    * `ArithmeticException` naming the resource. A given `eventRange` (the
    * events' [min, max] instant) saves an eager min/max action; instants
    * are near-uniform over the analysis window, so its even split
    * balances the buckets, and an off range costs balance, never
    * correctness.
    *
    * A NULL delta counts as 0, as SQL sums skip it; a resource whose
    * every delta is NULL has a NULL maximum.
    */
  def maxima(kept: DataFrame, deltas: Seq[(String, Column)],
      eventRange: Option[(Double, Double)] = None): Row = {
    val names = "count" +: deltas.map(_._1)
    // each result column keeps the type of its SQL running sum
    val types = LongType +: kept.select(deltas.map(d => sum(d._2)): _*)
      .schema.map(_.dataType)
    val scales = names.zip(types).map {
      case (_, LongType) => 0
      case (_, t: DecimalType) => t.scale
      case (n, t) => throw new IllegalArgumentException(
        s"sweep: resource '$n' sums as $t; deltas must be integer or decimal")
    }
    val unscaled = deltas.zip(scales.tail).map {
      case ((n, d), 0) => d.cast(LongType).as(s"u_$n")
      case ((n, d), s) =>
        (d * lit(java.math.BigDecimal.TEN.pow(s))).cast(LongType).as(s"u_$n")
    }
    val ev = events(kept.select(Seq(col("query_id"), col("admitted_us"),
      col("end_us")) ++ unscaled: _*), deltas.map { case (n, _) =>
        n -> col(s"u_$n") })
    val range = eventRange.getOrElse {
      val mm = ev.agg(min("ts_us").cast("double"), max("ts_us").cast("double"))
        .head()
      if (mm.isNullAt(0)) (0.0, 0.0) else (mm.getDouble(0), mm.getDouble(1))
    }
    val k = names.size
    val pods = names.indexOf("pods")
    import kept.sparkSession.implicits._
    val rows = ev
      .withColumn("__bucket", PrefixSum.valueBucket(ev, "ts_us", Some(range)))
      .repartition(col("__bucket"))
      .sortWithinPartitions(col("__bucket") +: eventOrder: _*)
      .select(col("__bucket") +: col("ts_us") +: col("kind") +:
        names.map(n => col(s"d_$n")): _*)
      .mapPartitions { it =>
        val in = it.buffered
        Iterator.continually(in).takeWhile(_.hasNext).map { _ =>
          val bucket = in.head.getInt(0)
          val scan = new BucketScan(names, pods)
          val valued = new Array[Boolean](k)
          while (in.hasNext && in.head.getInt(0) == bucket) {
            val r = in.next()
            var i = 0
            while (i < k) { // NULL sweeps as 0
              if (!r.isNullAt(i + 3)) {
                scan.add(i, r.getLong(i + 3))
                valued(i) = true
              }
              i += 1
            }
            scan.event(r.getLong(1), r.getInt(2) == 1)
          }
          (scan.summary(bucket), valued.toSeq)
        }
      }
    val summaries = try rows.collect().toSeq catch {
      case e: SparkException if e.getCause.isInstanceOf[ArithmeticException] =>
        throw e.getCause
    }
    val fields = ("queries" +: deltas.map(_._1)).zip(types).map {
      case (n, t) => StructField(s"max_concurrent_$n", t) } :+
      StructField("max_pods_at_us", LongType)
    val values = foldExact(summaries.map(_._1), names, pods)
      .flatMap(s => s.peak.map(_.zip(scales).zipWithIndex.map {
        case (_, i) if !summaries.exists(_._2(i)) => null // no delta
        case ((v, 0), _) => v
        case ((v, s), _) => java.math.BigDecimal.valueOf(v, s)
      } :+ s.peakAtUs)).getOrElse(Seq.fill(fields.size)(null))
    new GenericRowWithSchema(values.toArray, StructType(fields))
  }
}
