package graft.ops

import graft.SparkTestBase

/** Pins [[Similarity.semDeDup]] (q236) — within-cluster cosine pruning
  * after adaptive-k Lloyd clustering — on the adaptive-k shift search,
  * a hand-built four-region fixture (drop rule, min-id survivor,
  * sub-τ pair kept), and contract properties over the real corpus.
  */
class SemDeDupSpec extends SparkTestBase {

  import spark.implicits._

  test("adaptiveKClusters: shift search floors at 4, caps at 4096") {
    assert(Similarity.adaptiveKClusters(1L) === 4)
    assert(Similarity.adaptiveKClusters(2048L) === 4)   // 4·512 = 2048
    assert(Similarity.adaptiveKClusters(2049L) === 8)
    assert(Similarity.adaptiveKClusters(512L * 4096L) === 4096)
    assert(Similarity.adaptiveKClusters(512L * 4096L + 1L) === 4096)
  }

  test("hand fixture: collinear in-cluster pairs drop, sub-tau pair " +
      "and min-id members survive") {
    // Four regions, one per adaptive cluster (n=8 -> k=4, seeds =
    // ids 1..4). R1 at the origin holds an ORTHOGONAL pair (cos 0,
    // kept); R2/R3 each hold a collinear pair (cos 1, the larger id
    // drops); R4's pair sits at cos ≈ 0.989 < τ = 0.99 (kept).
    val pts = Seq(
      (1L, Seq(10f, 0f)), (5L, Seq(0f, 10f)),
      (2L, Seq(1000f, 1000f)), (6L, Seq(1010f, 1010f)),
      (3L, Seq(-1000f, 1000f)), (7L, Seq(-1010f, 1010f)),
      (4L, Seq(0f, -1000f)), (8L, Seq(150f, -1000f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.semDeDup(pts, tau = 0.99, rounds = 1)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(got === Map(
      6L -> ((2L, 1.0, 1L)),
      7L -> ((3L, 1.0, 1L))))
  }

  test("real corpus: drops non-empty, ordered, above tau, deterministic") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("q236_semdedup")(spark, dir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) > r.getLong(1),
        "drop_id must exceed its keeper") // min-id survivor convention
      assert(r.getDouble(2) >= 0.35 - 1e-7)
      assert(r.getLong(3) >= 1L)
    }
    // drops are unique docs, and strictly fewer than the corpus
    val n = graft.Tables.load(spark, dir, "embeddings").count()
    assert(rows.map(_.getLong(0)).distinct.length === rows.length)
    assert(rows.length < n)
    val rows2 = graft.SparkEntry.queries("q236_semdedup")(spark, dir)
      .collect()
    assert(rows.map(_.toSeq).toSet === rows2.map(_.toSeq).toSet)
  }
}
