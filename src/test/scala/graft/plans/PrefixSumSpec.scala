package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The distributed two-pass prefix scan must equal the sequential running
  * sum for any input — bucket boundaries, carry-ins, and tiebreaks are the
  * failure surface (SURVEY §2.6 scale note).
  */
class PrefixSumSpec extends SparkTestBase {

  private def check(rows: Seq[(Long, Long, Long)]): Unit = {
    import spark.implicits._
    val df = rows.toDF("ts", "id", "delta").repartition(4)
    val got = PrefixSum
      .scan(df, "ts", Seq(col("ts"), col("id")), Seq("delta" -> "run"))
      .select("ts", "id", "run")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    var acc = 0L
    val want = rows.sortBy(t => (t._1, t._2)).map { case (ts, id, d) =>
      acc += d; (ts, id, acc)
    }
    assert(got.toSeq == want)
  }

  test("matches sequential scan on random data (seeded)") {
    val rnd = new scala.util.Random(42)
    val rows = (1L to 500L).map(i =>
      (rnd.nextInt(100).toLong, i, rnd.nextInt(21) - 10L))
    check(rows)
  }

  test("heavy ties on the bucket column stay within one bucket") {
    // all rows share 3 ts values — buckets must split BETWEEN values only
    val rnd = new scala.util.Random(7)
    check((1L to 300L).map(i => (i % 3, i, rnd.nextInt(5).toLong)))
  }

  test("single row and empty input") {
    check(Seq((5L, 1L, 3L)))
    import spark.implicits._
    val empty = Seq.empty[(Long, Long, Long)].toDF("ts", "id", "delta")
    val out = PrefixSum.scan(empty, "ts", Seq(col("ts"), col("id")),
      Seq("delta" -> "run"))
    assert(out.count() == 0)
  }

  test("running column keeps the source integer type") {
    import spark.implicits._
    val df = Seq((1L, 1L, 2L)).toDF("ts", "id", "delta")
    val out = PrefixSum.scan(df, "ts", Seq(col("ts"), col("id")),
      Seq("delta" -> "run"))
    assert(out.schema("run").dataType.typeName == "long")
  }

  test("a DECIMAL(38,9) running sum keeps its scale past the first bucket") {
    import spark.implicits._
    // 1e-9 per row over an even 0..99 range split into several buckets:
    // every carry-in add must stay at scale 9, not round to 8 places
    val df = (0L until 100L).map(i => (i, i)).toDF("ts", "id")
      .withColumn("delta", lit("0.000000001").cast("decimal(38,9)"))
      .repartition(4)
    val out = PrefixSum.scan(df, "ts", Seq(col("ts"), col("id")),
      Seq("delta" -> "run"), knownRange = Some((0.0, 99.0)))
    assert(out.schema("run").dataType ==
      org.apache.spark.sql.types.DecimalType(38, 9))
    val got = out.select("ts", "run").collect()
      .map(r => r.getLong(0) -> r.getDecimal(1)).sortBy(_._1)
    assert(got.length == 100)
    got.foreach { case (ts, run) =>
      assert(run.compareTo(java.math.BigDecimal.valueOf(ts + 1, 9)) == 0,
        s"ts=$ts run=$run")
    }
  }

  test("uniformBounds stays correct on skewed keys (only balance degrades)") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    // 90% of keys in [0,10), rest spread to 10000 — uniform split puts
    // most rows in bucket 0; the result must still be exact
    val rows = (1L to 400L).map { i =>
      val ts = if (rnd.nextInt(10) < 9) rnd.nextInt(10).toLong
        else rnd.nextInt(10000).toLong
      (ts, i, rnd.nextInt(11) - 5L)
    }
    val df = rows.toDF("ts", "id", "delta").repartition(4)
    val keys = rows.map(_._1.toDouble)
    val got = PrefixSum.scan(df, "ts", Seq(col("ts"), col("id")),
        Seq("delta" -> "run"), knownRange = Some((keys.min, keys.max)))
      .select("ts", "id", "run").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    var acc = 0L
    val want = rows.sortBy(t => (t._1, t._2)).map { case (ts, id, d) =>
      acc += d; (ts, id, acc)
    }
    assert(got.toSeq == want)
  }

  test("grouped scan runs one independent prefix sum per group") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // 3 groups (incl. a NULL group) interleaved over a shared ts domain —
    // carries must chain within a group only, and the NULL group must
    // keep its carry-ins through the null-safe join
    val rows = (1L to 400L).map { i =>
      val g = rnd.nextInt(3) match {
        case 0 => "x"; case 1 => "y"; case _ => null
      }
      (g, rnd.nextInt(60).toLong, i, rnd.nextInt(15) - 7L)
    }
    val df = rows.toDF("g", "ts", "id", "delta").repartition(4)
    val got = PrefixSum.scan(df, "ts", Seq(col("ts"), col("id")),
        Seq("delta" -> "run"), groupCols = Seq("g"))
      .select("g", "ts", "id", "run").collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2),
        r.getLong(3)))
      .sortBy(t => (t._1.getOrElse(""), t._2, t._3))
    val want = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
      var acc = 0L
      rs.sortBy(t => (t._2, t._3)).map { case (_, ts, id, d) =>
        acc += d; (Option(g), ts, id, acc)
      }
    }.sortBy(t => (t._1.getOrElse(""), t._2, t._3))
    assert(got.toSeq == want)
  }

  test("multiple sum columns scan independently") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val rows = (1L to 200L).map(i =>
      (rnd.nextInt(50).toLong, i, rnd.nextInt(9) - 4L, rnd.nextInt(100).toLong))
    val df = rows.toDF("ts", "id", "a", "b").repartition(3)
    val got = PrefixSum.scan(df, "ts", Seq(col("ts"), col("id")),
        Seq("a" -> "ra", "b" -> "rb"))
      .select("ts", "id", "ra", "rb").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    var (sa, sb) = (0L, 0L)
    val want = rows.sortBy(t => (t._1, t._2)).map { case (ts, id, a, b) =>
      sa += a; sb += b; (ts, id, sa, sb)
    }
    assert(got.toSeq == want)
  }
}
