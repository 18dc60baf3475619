package graft.streaming

import graft.SparkTestBase
import graft.sizing.Concurrency
import graft.streaming.StreamingConcurrency._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}

// Top-level: Spark encoders cannot instantiate a class nested in the
// suite (no outer-scope instance on executors).
case class KernelQ(query_id: String, admitted_us: Long, end_us: Long,
    pods: Long, cache: Option[Long], mem: Long, cpu: Long,
    spill: Option[Long])

/** One bucket scan for batch and stream ([[Concurrency.BucketScan]]):
  * `maxima` at 1, 4 and 16 buckets, the stream's `scanBucket` +
  * `GlobalAccumulator.fold` at several bucket widths, and a brute-force
  * interval count agree on seeded intervals with exact-instant ties,
  * end == start boundaries, NULL deltas and an all-NULL resource; a
  * running sum past the long range throws, naming the resource.
  */
class SweepKernelSpec extends SparkTestBase {

  import spark.implicits._

  private val deltas: Seq[(String, Column)] =
    Seq("pods", "cache", "mem", "cpu", "spill").map(n => n -> col(n))

  /** Instants on a coarse grid, so starts tie with starts and ends with
    * starts; every interval is non-empty; `cache` is sometimes NULL and
    * `spill` always.
    */
  private def intervals(seed: Int): Seq[KernelQ] = {
    val rnd = new scala.util.Random(seed)
    (1 to 150).map { i =>
      val s = rnd.nextInt(60) * 1000L
      KernelQ(f"q$i%04d", s, s + (1 + rnd.nextInt(12)) * 1000L,
        1 + rnd.nextInt(5),
        Option.when(rnd.nextInt(4) > 0)(rnd.nextInt(1000).toLong),
        rnd.nextInt(1 << 20).toLong, rnd.nextInt(16).toLong, None)
    }
  }

  private def brute(qs: Seq[KernelQ], w: KernelQ => Long): Seq[(Long, Long)] =
    qs.map(_.admitted_us).distinct.sorted.map { t =>
      t -> qs.filter(q => q.admitted_us <= t && t < q.end_us).map(w).sum
    }

  private def withPartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, old)
  }

  private def streamed(qs: Seq[KernelQ], bucketUs: Long): Maxima = {
    val evs = qs.flatMap { q =>
      def ev(us: Long, kind: Int, s: Long) = Event(Math.floorDiv(us, bucketUs),
        usTs(us), kind, q.query_id, s, s * q.pods, s * q.cache.getOrElse(0L),
        s * q.mem, s * q.cpu, s * q.spill.getOrElse(0L))
      Seq(ev(q.admitted_us, 1, 1L), ev(q.end_us, 0, -1L))
    }
    GlobalAccumulator.fold(evs.groupBy(_.bucket).toSeq.map { case (b, es) =>
      scanBucket(b, es.toList) }).get
  }

  test("maxima at 1, 4 and 16 buckets equals the stream's scanBucket fold " +
      "and brute force") {
    Seq(3, 17, 29).foreach { seed =>
      val qs = intervals(seed)
      val pods = brute(qs, _.pods)
      val top = pods.map(_._2).max
      val want = Seq(brute(qs, _ => 1L), pods, brute(qs, _.cache.getOrElse(0L)),
        brute(qs, _.mem), brute(qs, _.cpu)).map(_.map(_._2).max)
      val atUs = pods.filter(_._2 == top).map(_._1).max
      val kept = qs.toDF()
      Seq(1, 4, 16).foreach { n =>
        val m = withPartitions(n)(Concurrency.maxima(kept, deltas))
        assert(m.toSeq == want ++ Seq(null, atUs), (seed, n))
      }
      Seq(1L, 7000L, 20000L, 1L << 40).foreach { b =>
        val s = streamed(qs, b)
        assert(Seq(s.maxConcurrentQueries, s.maxPods, s.maxCache, s.maxMem,
          s.maxCpu) == want, (seed, b))
        assert(s.maxSpill == 0L && s.maxPodsAtUs == atUs, (seed, b))
      }
    }
  }

  /** Two overlapping queries whose `big` delta is just over half the long
    * range, swept under `eventRange`.
    */
  private val half = Long.MaxValue / 2 + 1
  private def overlapping(big: Column): DataFrame =
    Seq(("a", 0L, 100L), ("b", 10L, 110L))
      .toDF("query_id", "admitted_us", "end_us").withColumn("big", big)

  private def overflows(kept: DataFrame, resource: String,
      range: (Double, Double)): Unit = {
    val e = intercept[ArithmeticException](Concurrency.maxima(kept,
      Seq("pods" -> lit(1L), resource -> col("big")), Some(range)))
    assert(e.getMessage.contains(s"'$resource'"), e.getMessage)
  }

  test("a running sum past the long range throws, naming the resource, " +
      "for an integer and a decimal delta") {
    val decimal = lit(new java.math.BigDecimal(BigInt(half).bigInteger, 9))
      .cast("decimal(38,9)")
    Seq(lit(half) -> "cache", decimal -> "spill").foreach { case (big, r) =>
      // one bucket (the overflow in the bucket scan), then the two starts
      // in separate buckets (the overflow in the driver's fold)
      overflows(overlapping(big), r, (0.0, 0.0))
      withPartitions(4)(overflows(overlapping(big), r, (0.0, 20.0)))
    }
    // below the range the same fixture sweeps exactly
    val m: Row = Concurrency.maxima(overlapping(lit(half / 2)),
      Seq("pods" -> lit(1L), "cache" -> col("big")), Some((0.0, 0.0)))
    assert(m.getAs[Long]("max_concurrent_cache") == 2 * (half / 2))
  }

  test("the stream's bucket scan and global fold throw on the same " +
      "overflow") {
    val t = usTs(0L)
    val evs = List("a", "b").map(id => Event(0, t, 1, id, 1L, half, 0, 0, 0, 0))
    val e = intercept[ArithmeticException](scanBucket(0, evs))
    assert(e.getMessage.contains("'pods'"), e.getMessage)
    // one start per bucket: only the carry across buckets overflows
    val buckets = evs.zipWithIndex.map { case (ev, b) =>
      scanBucket(b, List(ev.copy(bucket = b))) }
    val g = intercept[ArithmeticException](GlobalAccumulator.fold(buckets))
    assert(g.getMessage.contains("'pods'"), g.getMessage)
  }
}
