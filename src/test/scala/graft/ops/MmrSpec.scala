package graft.ops

import graft.SparkTestBase

/** Pins [[Similarity.mmrDiversify]] (q222) on a hand-computed greedy
  * trajectory.
  */
class MmrSpec extends SparkTestBase {

  import spark.implicits._

  private val shortlist = Seq(
    (1L, 10L, 1000L, Seq("a", "b", "c")),
    (1L, 11L, 900L, Seq("a", "b", "c")), // near-dup of 10: echo
    (1L, 12L, 800L, Seq("x", "y")),
    (1L, 13L, 700L, Seq("a", "x")))
    .toDF("qid", "cid", "rel_milli", "tk")

  test("hand-computed 3-step trajectory: diversity beats the echo") {
    // λ=700: step1 scores 1000/930/860/790 → pick 10;
    // step2: 11 jac=1000→630, 12 jac=0→860, 13 jac=250→715 → pick 12;
    // step3: 11 maxjac=1000→630, 13 maxjac=333→690 → pick 13.
    val got = Similarity.mmrDiversify(shortlist, selectK = 3)
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSeq.sortBy(_._2)
    assert(got === Seq((10L, 1, 1000L), (12L, 2, 860L), (13L, 3, 690L)))
  }

  test("λ=1000 is pure relevance order") {
    val got = Similarity.mmrDiversify(shortlist, selectK = 3,
        lambdaMilli = 1000)
      .collect().map(r => (r.getLong(1), r.getInt(2)))
      .toSeq.sortBy(_._2).map(_._1)
    assert(got === Seq(10L, 11L, 12L))
  }

  test("selectK beyond the shortlist stops at the shortlist") {
    val small = Seq(
      (2L, 20L, 1000L, Seq("p")), (2L, 21L, 500L, Seq("q")))
      .toDF("qid", "cid", "rel_milli", "tk")
    val got = Similarity.mmrDiversify(small, selectK = 5).collect()
    assert(got.length === 2)
  }

  test("empty-token rows are dropped, never selected") {
    val withEmpty = shortlist.unionByName(
      Seq((1L, 14L, 999L, Seq.empty[String]))
        .toDF("qid", "cid", "rel_milli", "tk"))
    val got = Similarity.mmrDiversify(withEmpty, selectK = 4)
      .collect().map(_.getLong(1)).toSet
    assert(!got.contains(14L))
  }
}
