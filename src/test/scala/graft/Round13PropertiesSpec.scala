package graft

import graft.ops.{Graph, Stats, Temporal}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property pins for the round-13 operators, against brute-force
  * replays on generated inputs (PropertiesSpec's fixed-seed scheme).
  */
class Round13PropertiesSpec extends SparkTestBase {

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("weightedMedian equals the sequential definition on random input") {
    import spark.implicits._
    val gen = Gen.listOfN(80,
      Gen.zip(Gen.chooseNum(-50L, 50L), Gen.chooseNum(1L, 9L)))
    samples(gen, 6).foreach { rows =>
      val got = Stats.weightedMedian(
          rows.map { case (v, w) => ("g", v, w) }.toDF("g", "v", "w")
            .repartition(3),
          "g", "v", "w")
        .collect().map(r => (r.getLong(1), r.getLong(2))).head
      // brute force: walk values ascending, first v with 2*cum >= total
      val total = rows.map(_._2).sum
      val byV = rows.groupBy(_._1).view.mapValues(_.map(_._2).sum)
        .toSeq.sortBy(_._1)
      var cum = 0L
      val expect = byV.collectFirst {
        case (v, wv) if { cum += wv; 2 * cum >= total } => v
      }.get
      assert(got === ((expect, total)))
    }
  }

  test("CUSUM identity: cumsum - running-min equals the clamped fold") {
    // the q172 rewrite s_i = c_i - min(0, min_{j<=i} c_j) vs the
    // sequential recurrence s_i = max(0, s_{i-1} + y_i)
    val gen = Gen.listOfN(200, Gen.chooseNum(-1000L, 1000L))
    samples(gen, 10).foreach { ys =>
      var c = 0L; var m = 0L; var s = 0L
      ys.foreach { y =>
        c += y; m = math.min(m, c)
        val viaIdentity = c - math.min(0L, m)
        s = math.max(0L, s + y)
        assert(viaIdentity == s, s"identity diverged on $ys")
      }
    }
  }

  test("doubled tie-averaged ranks are exact integers matching definition") {
    // q185's 2·avgrank = 2·cb + cnt + 1 vs the textbook average of the
    // tie block's ranks, on random multisets
    val gen = Gen.listOfN(60, Gen.chooseNum(0L, 15L))
    samples(gen, 8).foreach { vs =>
      val sorted = vs.sorted
      val byV = sorted.distinct.map { v =>
        val first = sorted.indexOf(v) + 1L
        val cnt = sorted.count(_ == v).toLong
        // average of ranks first..first+cnt-1, doubled
        val avg2 = (2 * first + cnt - 1)
        val cb = first - 1
        (v, avg2, 2 * cb + cnt + 1)
      }
      byV.foreach { case (v, defn, formula) =>
        assert(defn == formula, s"value $v in $vs")
      }
    }
  }

  test("merkleBucketDiff finds exactly the mutated leaves (sound+complete)") {
    val gen = Gen.listOfN(5, Gen.chooseNum(0L, 1023L))
    samples(gen, 5).foreach { mutKeys =>
      val v1 = spark.range(0, 1024).selectExpr("id AS k",
        "id * 7 AS payload")
      val muts = mutKeys.distinct.toSet
      val v2 = v1.withColumn("payload",
        when(col("k").isin(muts.toSeq: _*), col("payload") + 1)
          .otherwise(col("payload")))
      val dirty = Temporal.merkleBucketDiff(v1, v2, "k",
          "concat_ws('|', CAST(k AS STRING), CAST(payload AS STRING))",
          leafSize = 64, fanout = 4)
        .select("leaf").collect().map(_.getLong(0)).toSet
      assert(dirty === muts.map(_ / 64), s"mutated $muts")
    }
  }

  test("merkleBucketDiff flags content MOVED between sibling leaves") {
    // payloads of keys 5 and 70 (leaves 0 and 1, same parent at
    // fanout 4) swap content; a raw row-XOR parent would cancel and
    // prune the real divergence — the node-triple parent must not
    val v1 = spark.range(0, 256).selectExpr("id AS k", "id * 7 AS payload")
    val v2 = v1.withColumn("payload",
      when(col("k") === 5, lit(70L * 7))
        .when(col("k") === 70, lit(5L * 7))
        .otherwise(col("payload")))
    val dirty = Temporal.merkleBucketDiff(v1, v2, "k",
        "concat_ws('|', CAST(payload AS STRING))",
        leafSize = 64, fanout = 4)
      .select("leaf").collect().map(_.getLong(0)).toSet
    // rowKey deliberately EXCLUDES the key, so the two rows' hashes
    // swap between leaf 0 and leaf 1 — exact cancellation at a
    // bare-XOR parent; counts are unchanged too
    assert(dirty === Set(0L, 1L))
  }

  test("subtreeRollup equals the recursive reference on random forests") {
    import spark.implicits._
    val gen = Gen.listOfN(40, Gen.chooseNum(0L, 99L))
    samples(gen, 5).foreach { vals =>
      val n = vals.size
      // node i's parent = (i-1)/3 (3-ary tree rooted at 0)
      val nodes = vals.zipWithIndex.map { case (v, i) =>
        (i.toLong, if (i == 0) None else Some((i - 1L) / 3), v)
      }
      val df = nodes.toDF("id", "parent", "value").repartition(3)
      val depth = (math.log((n + 1).toDouble) / math.log(3.0)).ceil.toInt + 1
      val got = Graph.subtreeRollup(df, "value", depth)
        .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4)))
        .toMap
      // recursive reference
      val children = nodes.groupBy(_._2.getOrElse(-1L))
      def ref(i: Long): (Long, Long) = {
        val kids = children.getOrElse(i, Nil).filter(_._1 != i)
          .map(k => ref(k._1))
        (vals(i.toInt) + kids.map(_._1).sum, 1L + kids.map(_._2).sum)
      }
      nodes.foreach { case (i, _, _) =>
        assert(got(i) === ref(i), s"node $i of $n nodes")
      }
    }
  }
}
