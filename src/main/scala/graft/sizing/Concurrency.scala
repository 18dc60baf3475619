package graft.sizing

import graft.plans.PrefixSum
import java.math.MathContext
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

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
  * max(m₁, t₁ + m₂)) — [[fold]]. [[maxima]] builds the summaries in SQL,
  * [[graft.streaming.StreamingConcurrency]] per closed bucket in state.
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
    * `pods` is the pods resource's position). Exact on long or decimal.
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

  /** Conditional maxima (py:381–396) over the [[events]] of `kept` (one
    * delta named `pods`): one row of `max_concurrent_queries`, a
    * `max_concurrent_<name>` per delta (BIGINT for integer deltas, the
    * running sum's DECIMAL for decimal ones) and `max_pods_at_us`, all
    * NULL without events. Events split into value buckets by an even
    * split of `eventRange` ([[PrefixSum.valueBucket]]); a window partitioned
    * by bucket and an aggregate on the same key (one exchange) give each
    * bucket's [[Summary]], [[fold]]ed on the driver. A given `eventRange`
    * (the events' [min, max] instant) saves an eager min/max action;
    * instants are near-uniform over the analysis window, so its even split
    * balances the buckets, and an off range costs balance, never
    * correctness.
    *
    * A NULL delta counts as 0, as SQL sums skip it; a resource whose
    * every delta is NULL has a NULL maximum.
    */
  def maxima(kept: DataFrame, deltas: Seq[(String, Column)],
      eventRange: Option[(Double, Double)] = None): Row = {
    val ev = events(kept, deltas)
    val range = eventRange.getOrElse {
      val mm = ev.agg(min("ts_us").cast("double"), max("ts_us").cast("double"))
        .head()
      if (mm.isNullAt(0)) (0.0, 0.0) else (mm.getDouble(0), mm.getDouble(1))
    }
    val names = "count" +: deltas.map(_._1)
    val w = Window.partitionBy("__bucket").orderBy(eventOrder: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = ev
      .withColumn("__bucket", PrefixSum.valueBucket(ev, "ts_us", Some(range)))
      .select(col("*") +:
        names.map(n => sum(s"d_$n").over(w).as(s"run_$n")): _*)
    val start = col("d_count") > 0
    // per bucket: nets, peaks (the count peak is NULL iff no start) and
    // the pods peak's instant (py:384 `>=`: the LATEST start wins ties)
    val aggs = names.map(n => sum(s"d_$n")) ++
      names.map(n => max(when(start, col(s"run_$n")))) :+
      max_by(col("ts_us"), when(start, struct("run_pods", "ts_us")))
        .cast("long")
    val k = names.size
    def exact(r: Row, i: Int) = // a long or a decimal; NULL sweeps as 0
      BigDecimal(Option(r.get(i)).fold("0")(_.toString), MathContext.UNLIMITED)
    val rows = local.groupBy("__bucket").agg(aggs.head, aggs.tail: _*)
      .collect().toSeq
    val summaries = rows.map(r => Summary(r.getInt(0).toLong,
      (1 to k).map(exact(r, _)), Option.when(!r.isNullAt(k + 1))(
        (k + 1 to 2 * k).map(exact(r, _))), r.getAs[Long](2 * k + 1)))
    val types = names.map(n => local.schema(s"run_$n").dataType)
    val fields = ("queries" +: deltas.map(_._1)).zip(types).map {
      case (n, t) => StructField(s"max_concurrent_$n", t) } :+
      StructField("max_pods_at_us", LongType)
    val values = fold(summaries, names.indexOf("pods")).flatMap(s =>
      s.peak.map(_.zip(types).zipWithIndex.map {
        case (_, i) if rows.forall(_.isNullAt(i + 1)) => null // no delta
        case ((v, LongType), _) => v.toLongExact
        case ((v, _), _) => v.bigDecimal
      } :+ s.peakAtUs)).getOrElse(Seq.fill(fields.size)(null))
    new GenericRowWithSchema(values.toArray, StructType(fields))
  }
}
