package graft.sizing

import graft.SparkTestBase
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

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

  private def run(qs: Seq[Q],
      deltas: Seq[(String, Column)] = Concurrency.integerDeltas) = {
    import spark.implicits._
    Concurrency.sweep(withPayloads(
      qs.toDF("query_id", "admitted_us", "end_us", "min_executor_pod")), deltas)
  }

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
    val m = Concurrency.maxima(run(qs)).head
    assert(m.getAs[Long]("max_concurrent_queries") == bruteMax(qs, _ => 1L))
    assert(m.getAs[Long]("max_concurrent_pods") == bruteMax(qs, _.pods))
  }

  test("the report's decimal payload equals brute force on the same intervals") {
    val qs = seeded
    val m = Concurrency.maxima(run(qs, Pipeline.reportDeltas)).head
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
    val swept = Concurrency.sweep(withPayloads(withNull
      .toDF("query_id", "admitted_us", "end_us", "min_executor_pod")),
      Concurrency.integerDeltas)
    assert(swept.filter(col("query_id") === "c").count() == 0L)
    val m = Concurrency.maxima(swept).head
    assert(m.getAs[Long]("max_concurrent_queries") == 2L)
    assert(m.getAs[Long]("max_concurrent_pods") == 8L)
  }

  test("running sums return to zero after the last end") {
    val rnd = new scala.util.Random(5)
    val qs = (1 to 80).map { i =>
      val s = rnd.nextInt(100).toLong
      Q(s"q$i", s, s + 1 + rnd.nextInt(50), 1 + rnd.nextInt(3))
    }
    val last = run(qs)
      .orderBy(col("ts_us").desc, col("kind").desc, col("query_id").desc)
      .head
    assert(last.getAs[Long]("run_count") == 0L)
    assert(last.getAs[Long]("run_pods") == 0L)
  }

  test("a query ending exactly when another starts does not overlap") {
    val qs = Seq(Q("a", 0, 100, 3), Q("b", 100, 200, 5))
    val m = Concurrency.maxima(run(qs)).head
    assert(m.getAs[Long]("max_concurrent_queries") == 1L)
    assert(m.getAs[Long]("max_concurrent_pods") == 5L)
  }

  test("max_pods tie keeps the LATEST start (py:384 >= semantics)") {
    // two disjoint single-query peaks with equal pods
    val qs = Seq(Q("a", 0, 10, 4), Q("b", 20, 30, 4))
    val m = Concurrency.maxima(run(qs)).head
    assert(m.getAs[Long]("max_pods_at_us") == 20L)
  }

  test("maxima are observed only at start events") {
    // footprint between [5,10) is 2 queries; end events at 10/12 never
    // create a new candidate — max is what a start saw.
    val qs = Seq(Q("a", 0, 10, 1), Q("b", 5, 12, 1), Q("c", 11, 13, 1))
    val m = Concurrency.maxima(run(qs)).head
    assert(m.getAs[Long]("max_concurrent_queries") == 2L)
  }
}
