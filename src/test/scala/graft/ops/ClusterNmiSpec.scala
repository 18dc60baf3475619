package graft.ops

import graft.SparkTestBase

/** Pins [[Similarity.clusterNmi]] (q235) — normalized mutual information
  * of the q207 Lloyd clustering against the label column — on two
  * hand-computed fixtures (the perfect-match identity and exact
  * independence) and on contract properties over the real corpus.
  */
class ClusterNmiSpec extends SparkTestBase {

  import spark.implicits._

  private def row(df: org.apache.spark.sql.DataFrame) = {
    val rs = df.collect()
    assert(rs.length === 1)
    rs.head
  }

  test("hand fixture: perfect clustering -> nmi_micro = 1e6 exactly") {
    // Two tight regions, labels ≡ regions. Contingency is diagonal, so
    // every MI cell term equals the matching H(C) term equals the
    // matching H(L) term: iw = hc = hl = 4·floor(ln(7/4)·1000)
    // + 3·floor(ln(7/3)·1000) = 4·559 + 3·847 = 4777, and
    // nmi = (2e6·4777) div (2·4777) = 1_000_000 exactly — the
    // quantization cancels in the perfect-match case by construction.
    val pts = Seq(
      (1L, Seq(0f, 0f), 7), (3L, Seq(1f, 0f), 7),
      (5L, Seq(0f, 1f), 7), (7L, Seq(1f, 1f), 7),
      (2L, Seq(100f, 100f), 9), (4L, Seq(101f, 100f), 9),
      (6L, Seq(100f, 101f), 9)
    ).toDF("vec_id", "embedding", "label")
    val r = row(Similarity.clusterNmi(pts, k = 2, rounds = 1))
    assert(r.getLong(0) === 7L)                     // n_points
    assert(r.getLong(1) === 2L && r.getLong(2) === 2L)
    assert(r.getLong(3) === 4777L)                  // i_milli_w
    assert(r.getLong(4) === 4777L && r.getLong(5) === 4777L)
    assert(r.getLong(6) === 1000000L)               // nmi_micro
  }

  test("hand fixture: exact independence -> i_milli_w = 0, nmi = 0") {
    // Two regions of 4, each half label 7 / half label 9: every cell has
    // n=2, nc=4, nl=4, N=8 -> ln(8·2/16) = ln(1) = 0 for all four cells.
    // Marginal entropies: hc = hl = 2·4·floor(ln(2)·1000) = 5544.
    val pts = Seq(
      (1L, Seq(0f, 0f), 7), (3L, Seq(1f, 0f), 7),
      (5L, Seq(0f, 1f), 9), (7L, Seq(1f, 1f), 9),
      (2L, Seq(100f, 100f), 7), (4L, Seq(101f, 100f), 7),
      (6L, Seq(100f, 101f), 9), (8L, Seq(101f, 101f), 9)
    ).toDF("vec_id", "embedding", "label")
    val r = row(Similarity.clusterNmi(pts, k = 2, rounds = 1))
    assert(r.getLong(3) === 0L)
    assert(r.getLong(4) === 5544L && r.getLong(5) === 5544L)
    assert(r.getLong(6) === 0L)
  }

  test("degenerate: one cluster and one label -> nmi_micro NULL") {
    val pts = Seq(
      (1L, Seq(0f, 0f), 7), (2L, Seq(1f, 0f), 7),
      (3L, Seq(0f, 1f), 7)
    ).toDF("vec_id", "embedding", "label")
    val r = row(Similarity.clusterNmi(pts, k = 1, rounds = 1))
    assert(r.getLong(3) === 0L && r.getLong(4) === 0L
      && r.getLong(5) === 0L)
    assert(r.isNullAt(6))
  }

  test("real corpus: components recompose, counts match, deterministic") {
    val dir = "/root/testdata/sf0.001"
    val r = row(
      graft.SparkEntry.queries("q235_cluster_nmi")(spark, dir))
    assert(r.getLong(0) ===
      graft.Tables.load(spark, dir, "embeddings").count())
    assert(r.getLong(1) >= 1L && r.getLong(1) <= 4L) // ≤ k clusters
    assert(r.getLong(2) === 10L)                     // 10 labels
    val (iw, hcw, hlw) = (r.getLong(3), r.getLong(4), r.getLong(5))
    assert(hcw >= 0L && hlw >= 0L && hcw + hlw > 0L)
    // the output's own normalization identity (floor division)
    val num = BigInt(2000000L) * BigInt(iw)
    val den = BigInt(hcw + hlw)
    val expect = (num - (((num % den) + den) % den)) / den
    assert(r.getLong(6) === expect.toLong)
    // quantization keeps nmi in a hair of [0, 1e6]
    assert(r.getLong(6) >= -1000L && r.getLong(6) <= 1001000L)
    val r2 = row(
      graft.SparkEntry.queries("q235_cluster_nmi")(spark, dir))
    assert(r.toSeq === r2.toSeq)
  }
}
