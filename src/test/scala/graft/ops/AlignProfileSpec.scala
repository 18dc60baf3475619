package graft.ops

import graft.SparkTestBase

/** Round-17 profiling/alignment entries: q245 (column profiler), q246
  * (functional-dependency profile), q247 (mutual-NN alignment gate).
  */
class AlignProfileSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private def q(name: String) =
    graft.SparkEntry.queries(name)(spark, sf)

  // --- q245 ---------------------------------------------------------------

  test("q245: per-column invariants hold and the PK column profiles as " +
      "unique") {
    val rows = q("q245_column_profile").collect()
    assert(rows.length === 6)
    val n = graft.Tables.load(spark, sf, "orders").count()
    rows.foreach { r =>
      assert(r.getLong(1) === n, s"${r.getString(0)}: n_rows")
      val nNull = r.getLong(2); val ndv = r.getLong(3)
      assert(nNull >= 0L && ndv >= 1L && ndv <= n - nNull)
      assert(r.getString(4) <= r.getString(5), "min_val > max_val")
      assert(r.getLong(7) >= 1L, "top_n")
    }
    val pk = rows.find(_.getString(0) == "o_orderkey").get
    assert(pk.getLong(3) === n, "o_orderkey NDV != n — not profiled " +
      "as a key")
    assert(pk.getLong(7) === 1L)
  }

  // --- q246 ---------------------------------------------------------------

  test("q246: the structural candidate holds exactly; strengths are " +
      "internally consistent") {
    val rows = q("q246_fd_profile").collect()
    assert(rows.length === 5)
    val pk = rows.find(_.getString(0) == "shipdate->shipyear").get
    assert(pk.getBoolean(4) && pk.getLong(3) === 0L,
      "a date must determine its own year")
    rows.foreach { r =>
      val n = r.getLong(1); val viol = r.getLong(3)
      assert(viol >= 0L && viol < n)
      assert(r.getBoolean(4) === (viol == 0L))
      assert(r.getLong(5) === 1000L * (n - viol) / n,
        s"${r.getString(0)}: strength_milli mismatch")
      assert(r.getLong(2) <= n, "more groups than rows")
    }
  }

  // --- q247 ---------------------------------------------------------------

  test("q247: mutual pairs form a partial matching (no id reused)") {
    val rows = q("q247_mutual_nn").collect()
    assert(rows.nonEmpty)
    val as = rows.map(_.getLong(0)); val bs = rows.map(_.getLong(1))
    assert(as.distinct.length === as.length, "a_id reused — not a matching")
    assert(bs.distinct.length === bs.length, "b_id reused — not a matching")
    assert(as.forall(_ % 50 == 0) && bs.forall(_ % 50 == 1))
  }

  test("q247: reciprocity gate drops hub matches (crafted fixture)") {
    import spark.implicits._
    // A = {0, 50}, B = {1, 51}. v1 sits next to v0, so b1's NN is a0
    // and the (a50 -> b1) edge is one-directional; b51's NN is a50 but
    // a50 prefers b1. Exactly ONE reciprocal pair must survive: (0, 1).
    val dir = java.nio.file.Files
      .createTempDirectory("graft-mnn-spec").toString
    try {
      Seq(
        (0L, Seq(1.0f, 0.0f), 0),
        (50L, Seq(0.5f, 0.5f), 0),
        (1L, Seq(0.9f, 0.1f), 1),
        (51L, Seq(0.0f, 1.0f), 1))
        .toDF("vec_id", "embedding", "label")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/embeddings.parquet")
      val rows = graft.SparkEntry.queries("q247_mutual_nn")(spark, dir)
        .collect()
      assert(rows.length === 1, rows.mkString(";"))
      assert(rows.head.getLong(0) === 0L && rows.head.getLong(1) === 1L)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(dir))
    }
  }
}
