package graft.sizing

import graft.SparkTestBase
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.GraftListenerAccess
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Sweep-line invariants (SURVEY §5.2): the distributed operator must
  * equal a brute-force interval-overlap count, running sums must return
  * to zero after all ends, and the end-before-start tiebreak must hold.
  */
// Top-level: Spark encoders cannot instantiate a class nested in the
// suite (no outer-scope instance on executors).
case class ConcQ(id: String, start: Long, end: Long, pods: Long)

class ConcurrencySpec extends SparkTestBase {

  private type Q = ConcQ
  private def Q(id: String, start: Long, end: Long, pods: Long): Q =
    ConcQ(id, start, end, pods)

  /** Both payloads' source columns: the integer ones scale pods, and the
    * report's decimal ones make its `pods` delta pods/8 and its `cache`
    * delta pods/4 (exact in DECIMAL(38,9)).
    */
  private def withPayloads(df: DataFrame) = df
    .withColumn("cache_b_per_backend", col("min_executor_pod") * 10)
    .withColumn("mem_b_per_backend", col("min_executor_pod") * 100)
    .withColumn("cpu_mv_per_backend", col("min_executor_pod") * 7)
    .withColumn("spill_b_per_backend", lit(1L))
    .withColumn("ratio_data", col("min_executor_pod") / 8)
    .withColumn("ratio_mem", lit(0.0))
    .withColumn("ratio_cpu", lit(0.0))
    .withColumn("ratio_spill", lit(0.0))
    .withColumn("num_backends", lit(4))
    .withColumn("reqd_cache_gb", col("min_executor_pod").cast("double"))
    .withColumn("reqd_agg_mem", lit(1.0))
    .withColumn("memory_spilled_gb", lit(0.0))
    .withColumn("avg_vcores_per_node", lit(0.5))
    .withColumn("avg_data_rate_per_node", lit(0.25))

  private def kept(qs: Seq[Q]): DataFrame = {
    import spark.implicits._
    withPayloads(
      qs.toDF("query_id", "admitted_us", "end_us", "min_executor_pod"))
  }

  private def maxima(qs: Seq[Q],
      deltas: Seq[(String, Column)] = Concurrency.integerDeltas,
      eventRange: Option[(Double, Double)] = None) =
    Concurrency.maxima(kept(qs), deltas, eventRange)

  /** Brute force with the engine's tiebreak: at instant t a query counts
    * iff start <= t < end (ends sort before starts at equal instants).
    */
  private def bruteMax(qs: Seq[Q], weight: Q => Long): Long =
    qs.map(_.start).distinct.map { t =>
      qs.filter(q => q.start <= t && t < q.end).map(weight).sum
    }.max

  private def seeded: Seq[Q] = {
    val rnd = new scala.util.Random(11)
    (1 to 200).map { i =>
      val s = rnd.nextInt(1000).toLong
      Q(f"q$i%04d", s, s + 1 + rnd.nextInt(300), 1 + rnd.nextInt(5))
    }
  }

  test("max concurrency equals brute force on random intervals (seeded)") {
    val qs = seeded
    val m = maxima(qs)
    assert(m.getAs[Long]("max_concurrent_queries") == bruteMax(qs, _ => 1L))
    assert(m.getAs[Long]("max_concurrent_pods") == bruteMax(qs, _.pods))
  }

  test("the report's decimal payload equals brute force on the same intervals") {
    val qs = seeded
    val m = maxima(qs, Pipeline.reportDeltas)
    def dec(name: String) = BigDecimal(m.getAs[java.math.BigDecimal](name))
    assert(m.getAs[Long]("max_concurrent_queries") == bruteMax(qs, _ => 1L))
    assert(dec("max_concurrent_pods") == BigDecimal(bruteMax(qs, _.pods)) / 8)
    assert(dec("max_concurrent_cache") == BigDecimal(bruteMax(qs, _.pods)) / 4)
  }

  test("a row with a null end_us is excluded from the sweep") {
    // its end event would sort at the null instant, before every start,
    // and depress the running sums of the queries it overlaps
    import spark.implicits._
    val qs = Seq(Q("a", 0, 100, 3), Q("b", 10, 50, 5))
    val withNull = qs.map(q => (q.id, q.start, Option(q.end), q.pods)) :+
      (("c", 5L, Option.empty[Long], 7L))
    val input = withPayloads(withNull
      .toDF("query_id", "admitted_us", "end_us", "min_executor_pod"))
    val swept = Concurrency.sweep(input, Concurrency.integerDeltas)
    assert(swept.filter(col("query_id") === "c").count() == 0L)
    val m = Concurrency.maxima(input, Concurrency.integerDeltas)
    assert(m.getAs[Long]("max_concurrent_queries") == 2L)
    assert(m.getAs[Long]("max_concurrent_pods") == 8L)
  }

  test("running sums return to zero after the last end") {
    val rnd = new scala.util.Random(5)
    val qs = (1 to 80).map { i =>
      val s = rnd.nextInt(100).toLong
      Q(s"q$i", s, s + 1 + rnd.nextInt(50), 1 + rnd.nextInt(3))
    }
    val last = Concurrency.sweep(kept(qs), Concurrency.integerDeltas)
      .orderBy(col("ts_us").desc, col("kind").desc, col("query_id").desc)
      .head
    assert(last.getAs[Long]("run_count") == 0L)
    assert(last.getAs[Long]("run_pods") == 0L)
  }

  test("a query ending exactly when another starts does not overlap") {
    val qs = Seq(Q("a", 0, 100, 3), Q("b", 100, 200, 5))
    val m = maxima(qs)
    assert(m.getAs[Long]("max_concurrent_queries") == 1L)
    assert(m.getAs[Long]("max_concurrent_pods") == 5L)
  }

  test("max_pods tie keeps the LATEST start (py:384 >= semantics)") {
    // two disjoint single-query peaks with equal pods
    val qs = Seq(Q("a", 0, 10, 4), Q("b", 20, 30, 4))
    val m = maxima(qs)
    assert(m.getAs[Long]("max_pods_at_us") == 20L)
  }

  test("maxima are observed only at start events") {
    // footprint between [5,10) is 2 queries; end events at 10/12 never
    // create a new candidate — max is what a start saw.
    val qs = Seq(Q("a", 0, 10, 1), Q("b", 5, 12, 1), Q("c", 11, 13, 1))
    val m = maxima(qs)
    assert(m.getAs[Long]("max_concurrent_queries") == 2L)
  }

  test("a wrong eventRange moves bucket balance only, never the maxima") {
    val qs = seeded
    // starts lie in [0, 1000), ends up to 1300: under the suite's 4
    // buckets, (-1000, 3000) splits at 0, 1000 and 2000, so its third
    // bucket holds only end events and its fourth none
    assert(qs.forall(_.start < 1000) && qs.exists(_.end > 1000))
    def podsAt(t: Long) =
      qs.filter(q => q.start <= t && t < q.end).map(_.pods).sum
    val pods = bruteMax(qs, _.pods)
    val podsAtUs = qs.map(_.start).filter(podsAt(_) == pods).max
    def dec(m: org.apache.spark.sql.Row, name: String) =
      BigDecimal(m.getAs[java.math.BigDecimal](name))
    // narrower than the events, wider, and lo == hi (one bucket)
    Seq((400.0, 600.0), (-1000.0, 3000.0), (500.0, 500.0)).foreach { range =>
      val m = maxima(qs, eventRange = Some(range))
      assert(m.getAs[Long]("max_concurrent_queries") == bruteMax(qs, _ => 1L),
        range)
      assert(m.getAs[Long]("max_concurrent_pods") == pods, range)
      assert(m.getAs[Long]("max_concurrent_cache_b") == pods * 10, range)
      assert(m.getAs[Long]("max_pods_at_us") == podsAtUs, range)
      val d = maxima(qs, Pipeline.reportDeltas, Some(range))
      assert(d.getAs[Long]("max_concurrent_queries") ==
        bruteMax(qs, _ => 1L), range)
      assert(dec(d, "max_concurrent_pods") == BigDecimal(pods) / 8, range)
      assert(dec(d, "max_concurrent_cache") == BigDecimal(pods) / 4, range)
      assert(d.getAs[Long]("max_pods_at_us") == podsAtUs, range)
    }
  }

  test("a NULL delta sweeps as 0; an all-NULL resource has a NULL maximum") {
    val qs = seeded
    // under the range's 4 buckets, (250, 500] is the second: no start
    // there has a cache value, and no event at all has a spill value
    def noCache(q: Q) = q.start > 250 && q.start <= 500
    val nulls = col("admitted_us") > 250 && col("admitted_us") <= 500
    val input = kept(qs)
      .withColumn("cache_b_per_backend",
        when(!nulls, col("cache_b_per_backend")))
      .withColumn("reqd_cache_gb", when(!nulls, col("reqd_cache_gb")))
      .withColumn("spill_b_per_backend", lit(null).cast("long"))
      .withColumn("memory_spilled_gb", lit(null).cast("double"))
    val cache = bruteMax(qs, q => if (noCache(q)) 0L else q.pods)
    val range = Some((0.0, 1000.0))
    val m = Concurrency.maxima(input, Concurrency.integerDeltas, range)
    assert(m.getAs[Long]("max_concurrent_pods") == bruteMax(qs, _.pods))
    assert(m.getAs[Long]("max_concurrent_cache_b") == cache * 10)
    assert(m.isNullAt(m.fieldIndex("max_concurrent_spill_b")))
    val d = Concurrency.maxima(input, Pipeline.reportDeltas, range)
    assert(BigDecimal(d.getAs[java.math.BigDecimal]("max_concurrent_cache"))
      == BigDecimal(cache) / 4)
    assert(d.isNullAt(d.fieldIndex("max_concurrent_spill")))
  }

  test("no event: maxima is the all-NULL row") {
    val m = maxima(seeded.take(0), Pipeline.reportDeltas)
    assert(m.schema.fieldNames.toSeq == Seq("max_concurrent_queries",
      "max_concurrent_pods", "max_concurrent_cache", "max_concurrent_mem",
      "max_concurrent_cpu", "max_concurrent_data_rate",
      "max_concurrent_spill", "max_pods_at_us"))
    assert(m.toSeq.forall(_ == null))
  }

  test("maxima runs one exchange: the bucket window and the summary aggregate share it") {
    val sc = spark.sparkContext
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    GraftListenerAccess.drain(sc)
    spark.listenerManager.register(listener)
    try {
      maxima(seeded, eventRange = Some((0.0, 1300.0)))
      GraftListenerAccess.drain(sc)
    } finally spark.listenerManager.unregister(listener)
    assert(plans.size == 1) // the given range saves the min/max action
    val finalPlan = plans.peek match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // query stages (the result stage too) are leaves over their plans
    def exchanges(p: SparkPlan): Seq[Exchange] = p match {
      case q: QueryStageExec => exchanges(q.plan)
      case e: Exchange => e +: e.children.flatMap(exchanges)
      case _ => p.children.flatMap(exchanges)
    }
    assert(exchanges(finalPlan).size == 1, finalPlan.treeString)
  }
}
