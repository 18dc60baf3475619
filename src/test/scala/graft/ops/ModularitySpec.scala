package graft.ops

import graft.SparkTestBase

/** Pins [[Graph.modularityMicro]] (q218) on hand-computable fixtures. */
class ModularitySpec extends SparkTestBase {

  import spark.implicits._

  // two triangles bridged by one edge — the textbook two-community graph
  private def bridgedTriangles = Seq(
    (1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 1L),
    (4L, 5L, 1L), (5L, 6L, 1L), (4L, 6L, 1L),
    (3L, 4L, 1L)).toDF("a", "b", "w")

  test("two-community fixture: Q matches the hand-computed rational") {
    // 2m = 14; per community: w_in = 6 (both directions), deg = 7
    // term_micro = (10^6*6) div 14 - ((10^3*7) div 14)^2
    //            = 428571 - 500^2 = 178571; Q_micro = 357142
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 4L), (5L, 4L), (6L, 4L)).toDF("vid", "lbl")
    val r = Graph.modularityMicro(bridgedTriangles, labels).collect()
    assert(r.length === 1)
    assert(r(0).getLong(0) === 2L, "n_communities")
    assert(r(0).getLong(1) === 6L, "n_vertices")
    assert(r(0).getLong(2) === 14L, "two_m")
    assert(r(0).getLong(3) === 12L, "intra_w (both directions)")
    assert(r(0).getLong(4) === 357142L, "q_micro")
  }

  test("all-in-one labeling scores exactly zero") {
    val labels = (1L to 6L).map(v => (v, 0L)).toDF("vid", "lbl")
    val r = Graph.modularityMicro(bridgedTriangles, labels).collect()
    assert(r(0).getLong(4) === 0L,
      "single community: w_in/2m = 1 and (deg/2m)^2 = 1 cancel")
  }

  test("singletons labeling is strictly negative") {
    val labels = (1L to 6L).map(v => (v, v)).toDF("vid", "lbl")
    val r = Graph.modularityMicro(bridgedTriangles, labels).collect()
    assert(r(0).getLong(3) === 0L, "no intra edges")
    assert(r(0).getLong(4) < 0L, "pure -sum of squared degree fractions")
  }

  test("good labeling beats bad labeling on the same graph") {
    val good = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 4L), (5L, 4L), (6L, 4L)).toDF("vid", "lbl")
    // split ACROSS the structure: one triangle vertex swapped per side
    val bad = Seq((1L, 1L), (2L, 1L), (6L, 1L),
      (4L, 4L), (5L, 4L), (3L, 4L)).toDF("vid", "lbl")
    val qGood = Graph.modularityMicro(bridgedTriangles, good)
      .collect()(0).getLong(4)
    val qBad = Graph.modularityMicro(bridgedTriangles, bad)
      .collect()(0).getLong(4)
    assert(qGood > qBad)
  }
}
