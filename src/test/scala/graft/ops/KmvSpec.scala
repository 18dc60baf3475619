package graft.ops

import graft.SparkTestBase

/** Pins [[Stats.kmvDistinct]] (q239) and [[Stats.kmvJaccard]] (q240) —
  * the KMV bottom-k distinct synopsis and its coordinated-Jaccard
  * composition — on small-set exactness, the estimator's internal
  * identity, and real-corpus contracts.
  */
class KmvSpec extends SparkTestBase {

  import spark.implicits._

  test("small groups report exactly (the KMV <= k guarantee)") {
    val rows = Seq(
      ("g1", "a"), ("g1", "b"), ("g1", "c"), ("g1", "a"),
      ("g2", "p"), ("g2", "q"), ("g2", "r"), ("g2", "s"), ("g2", "t")
    ).toDF("source", "t")
    val got = Stats.kmvDistinct(rows, "source", "t").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(3), r.getString(4), r.getLong(5))))
      .toMap
    assert(got === Map(
      "g1" -> ((3L, 3L, "exact", 0L)),
      "g2" -> ((5L, 5L, "exact", 0L))))
  }

  test("kmv mode: estimator matches its own closed form, sane band") {
    // 200 distinct values in one group forces the sketch path (k=64).
    val rows = (0 until 200).map(i => ("g", s"tok$i")).toDF("source", "t")
    val r = Stats.kmvDistinct(rows, "source", "t").collect().head
    assert(r.getString(4) === "kmv")
    val (nH, hK, est) = (r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nH === 200L)
    // the same IEEE double ops the plan runs (division then multiply
    // then floor) — pinned here so a formula drift fails loudly
    val expect =
      math.floor(63.0 * (1.152921504606846976e18 / hK.toDouble)).toLong
    assert(est === expect)
    assert(est >= 50L && est <= 800L, s"est=$est far off n=200")
    assert(r.getLong(5) === 1000L * math.abs(est - 200L) / 200L)
  }

  test("coordinated Jaccard is exact when both sets fit the sketch") {
    val rows = Seq(
      ("A", "a"), ("A", "b"), ("A", "c"),
      ("B", "b"), ("B", "c"), ("B", "d"),
      ("C", "x"), ("C", "y")
    ).toDF("source", "t")
    val got = Stats.kmvJaccard(rows, "source", "t").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(got === Map(
      ("A", "B") -> ((4L, 2L, 500L, 500L)),
      ("A", "C") -> ((5L, 0L, 0L, 0L)),
      ("B", "C") -> ((5L, 0L, 0L, 0L))))
  }

  test("real corpus: one row per source/pair, bounded, deterministic") {
    val dir = "/root/testdata/sf0.001"
    val d1 = graft.SparkEntry.queries("q239_kmv_distinct")(spark, dir)
      .collect()
    assert(d1.length === 20) // 20 sources
    d1.foreach { r =>
      assert(r.getLong(3) >= 1L) // est
      assert(r.getLong(5) === // err identity
        1000L * math.abs(r.getLong(3) - r.getLong(1)) / r.getLong(1))
    }
    val j1 = graft.SparkEntry.queries("q240_kmv_jaccard")(spark, dir)
      .collect()
    assert(j1.length === 190) // C(20, 2) pairs
    j1.foreach { r =>
      assert(r.getString(0) < r.getString(1))
      assert(r.getLong(2) >= 1L && r.getLong(2) <= 64L)
      assert(r.getLong(4) >= 0L && r.getLong(4) <= 1000L)
      assert(r.getLong(5) >= 0L && r.getLong(5) <= 1000L)
    }
    val j2 = graft.SparkEntry.queries("q240_kmv_jaccard")(spark, dir)
      .collect()
    assert(j1.map(_.toSeq).toSet === j2.map(_.toSeq).toSet)
  }

  test("streaming merge: gate bits true, estimate re-derives from " +
      "the synopsis alone") {
    val dir = "/root/testdata/sf0.001"
    // ParityGate throws if the drained synopsis differs from the batch
    // sketch or fewer than 2 micro-batches ran — reaching collect()
    // with true bits IS the parity assertion
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def scratch = tmp.list().filter(_.startsWith("graft-q241")).toSet
    val before = scratch
    val rows = graft.SparkEntry.queries("q241_stream_kmv_merge")(
      spark, dir).collect()
    assert((scratch -- before).isEmpty, "q241 left a scratch dir behind")
    assert(rows.length === 20)
    rows.foreach { r =>
      assert(r.getBoolean(5) && r.getBoolean(6))
      val (nIn, hK, est, mode) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))
      assert(nIn >= 1L && nIn <= 64L)
      if (nIn < 64L) {
        assert(mode === "exact" && est === nIn)
      } else {
        assert(mode === "kmv")
        assert(est === math.floor(
          63.0 * (1.152921504606846976e18 / hK.toDouble)).toLong)
      }
    }
  }
}
