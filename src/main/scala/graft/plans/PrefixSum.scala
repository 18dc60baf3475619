package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distributed running (prefix) sums over a global ordering.
  *
  * A naive `Window.orderBy(ts)` with no partitionBy collapses the whole
  * dataset into ONE task — correct at 60k rows, dead at 100 TB. This is the
  * classic two-pass parallel scan instead (SURVEY §2.6 scale note):
  *
  *   1. Split the order-key domain into ~numShufflePartitions contiguous
  *      value buckets ([[valueBucket]]), bounded by `approxQuantile` over the
  *      primary order column or by an even split of a known range.
  *   2. Per-bucket running sums via a window PARTITIONED by bucket id
  *      (parallel, no global sort bottleneck).
  *   3. Per-bucket totals (≤ numBuckets rows — tiny) become exclusive
  *      carry-in offsets via an unpartitioned window over the totals
  *      (one task on O(parallelism) rows), broadcast-joined back — all
  *      lazy, so the whole scan is one eager bounds pass + one job.
  *
  * Every pass is builtin ops — no custom Catalyst work needed. Cost: the
  * input is evaluated three times (bounds pass, totals branch, local
  * scan branch); callers scanning an expensive upstream should persist
  * it first.
  *
  * The order defined by `orderCols` MUST be total (include a unique
  * tiebreak column) or running values at ties are nondeterministic.
  */
object PrefixSum {

  /** Adds a running-sum column `dst` for each `(src, dst)` in `sumCols`,
    * over the global `orderCols` ordering — or, when `groupCols` is
    * non-empty, one independent running sum PER GROUP, all computed in
    * the same two-pass scan. `bucketCol` names a numeric column that is
    * the leading component of `orderCols` — it drives the range
    * bucketing; ties on it never straddle buckets. Sums are computed
    * on the source column's own type (use integer/decimal deltas for
    * exact, associativity-safe accumulation; see caller notes).
    *
    * Grouped mode: bucket boundaries stay GLOBAL over `bucketCol` (one
    * bounds pass shared by every group — a dominant group dominates the
    * quantiles, which is exactly the group that needed splitting), the
    * local window partitions by (group, bucket), and carry-ins chain per
    * group. The carry frame is ~nGroups × nBuckets rows; the grouped
    * scan targets FEW HUGE groups (the case where a per-group window
    * serializes into one task), so the broadcast stays tiny — with very
    * many small groups a plain per-group window needs no scan at all.
    * NULL group values are real keys end-to-end (null-safe carry join).
    */
  def scan(df: DataFrame, bucketCol: String, orderCols: Seq[Column],
      sumCols: Seq[(String, String)],
      knownRange: Option[(Double, Double)] = None,
      groupCols: Seq[String] = Nil): DataFrame = {
    val bucketed =
      df.withColumn("__bucket", valueBucket(df, bucketCol, knownRange))

    val w = Window
      .partitionBy((groupCols.map(col) :+ col("__bucket")): _*)
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = sumCols.foldLeft(bucketed) { case (d, (src, dst)) =>
      d.withColumn(dst, sum(col(src)).over(w))
    }

    // Per-bucket totals → exclusive prefix (carry-ins), computed LAZILY:
    // an unpartitioned window over the ≤ nBuckets total rows (one task on
    // O(parallelism) rows — not a scale risk). Keeping the carries inside
    // the plan instead of collect()ing them saves one blocking job +
    // driver roundtrip per scan and keeps the driver out of the data
    // path. Sums run on the source column types (long/decimal), so the
    // exclusive prefix is exact and associativity-safe.
    val srcs = sumCols.map(_._1)
    val totals = bucketed.groupBy(("__bucket" +: groupCols).map(col): _*)
      .agg(sum(col(srcs.head)).as(srcs.head),
        srcs.tail.map(s => sum(col(s)).as(s)): _*)
    // Grouped: carries chain per group — each group's totals frame is
    // ≤ nBuckets rows, windows run in parallel across groups.
    val carryW = (if (groupCols.isEmpty) Window.orderBy("__bucket")
      else Window.partitionBy(groupCols.map(col): _*).orderBy("__bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // Join keys aliased __c*: group columns join NULL-SAFELY (<=>) so a
    // NULL group — a real key to the window and the groupBy — keeps its
    // carry-in instead of silently losing it to equi-join null semantics.
    val carries = totals.select(
      (col("__bucket").as("__cbucket") +:
        groupCols.map(g => col(g).as(s"__cg_$g"))) ++
        srcs.map(s => sum(col(s)).over(carryW).as(s"__carry_$s")): _*)
    val joinCond = ((col("__bucket") === col("__cbucket")) +:
      groupCols.map(g => col(g) <=> col(s"__cg_$g"))).reduce(_ && _)

    val joined = local.join(broadcast(carries), joinCond, "left")
    sumCols.foldLeft(joined) { case (d, (src, dst)) =>
      // Carry-in is exact decimal; cast back to the running column's type
      // so integer-delta scans stay integral end-to-end. A decimal carry is
      // a DECIMAL(38, s) window sum, and Spark types `dst + carry` wider
      // than 38 digits, so its precision-loss rule would drop scale and
      // round every bucket after the first. Both operands at
      // DECIMAL(min(p, 37), s) add exactly at the column's own scale; a
      // running sum outside the column's type overflows loudly (ANSI).
      val t = d.schema(dst).dataType
      val add: Column => Column = t match {
        case d: DecimalType if d.scale < DecimalType.MAX_PRECISION =>
          _.cast(DecimalType(
            math.min(d.precision, DecimalType.MAX_PRECISION - 1), d.scale))
        case _ => identity
      }
      d.withColumn(dst,
        (add(col(dst)) + add(coalesce(col(s"__carry_$src"), lit(0))))
          .cast(t))
    }.drop(Seq("__bucket", "__cbucket") ++ groupCols.map(g => s"__cg_$g") ++
      srcs.map(s => s"__carry_$s"): _*)
  }

  /** The value bucket of `df`'s numeric `c`, one per shuffle partition:
    * a when-chain counting the bounds `c` exceeds — a PURE FUNCTION OF THE
    * ROW VALUE, so ties never straddle buckets. Never
    * `spark_partition_id()`: AQE may partition an input recomputed across
    * jobs differently each time, and pid-based buckets would silently
    * mis-assign carry-ins. Bounds are an even split of `range` = (lo, hi)
    * when given (one bucket when lo == hi), else Greenwald-Khanna
    * quantiles of `c` (no RNG; robust to any value distribution; one
    * eager sketch pass over `df`).
    */
  def valueBucket(df: DataFrame, c: String,
      range: Option[(Double, Double)]): Column = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val probs = (1 until n).map(_.toDouble / n)
    val bounds = range match {
      case Some((lo, hi)) =>
        if (lo == hi) Nil else probs.map(p => lo + (hi - lo) * p)
      case None => if (probs.isEmpty) Nil
        else df.stat.approxQuantile(c, probs.toArray, 0.001).toSeq
    }
    bounds.distinct.sorted.map(b => when(col(c) > lit(b), 1).otherwise(0))
      .reduceOption(_ + _).getOrElse(lit(0))
  }

  /** `row_number()` per group under a total order, WITHOUT the per-group
    * single-task sort: an inclusive grouped running count of 1 via
    * [[scan]]. `Window.partitionBy(k).orderBy(...)` ranks serialize into
    * one task per distinct key — fine for high-cardinality keys, a
    * measured scale-killer when the key has a handful of values
    * (l_returnflag: 3; at sf10 each task sorts 20M rows and spills —
    * q109 clocked 14.5× for the 10× step before this path). Requirements
    * are scan's: `bucketCol` numeric and the LEADING component of
    * `orderCols`, and the order total (unique tiebreak), else ranks at
    * ties are nondeterministic. The output column is LongType (the SQL
    * function's is int) — callers compare/cast, never subtract across
    * types. Cost: the scan's three input evaluations — callers with a
    * non-trivial upstream should localCheckpoint first.
    */
  def rowNumber(df: DataFrame, bucketCol: String, orderCols: Seq[Column],
      dst: String, groupCols: Seq[String] = Nil): DataFrame =
    scan(df.withColumn("__one", lit(1L)), bucketCol, orderCols,
      Seq("__one" -> dst), groupCols = groupCols).drop("__one")
}
