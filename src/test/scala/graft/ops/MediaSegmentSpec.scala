package graft.ops

import graft.SparkTestBase

/** Round-17 batch 4: q250 (streaming zone-map manifest maintenance)
  * and q251 (shot-boundary detection).
  */
class MediaSegmentSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private def q(name: String) =
    graft.SparkEntry.queries(name)(spark, sf)

  test("q250: streamed manifest merges to the batch manifest and " +
      "serves a pruning decision") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def scratch = tmp.list().filter(_.startsWith("graft-q250")).toSet
    val before = scratch
    val r = q("q250_stream_zonemap").head()
    assert((scratch -- before).isEmpty, "q250 left a scratch dir behind")
    assert(r.getLong(0) > 0L, "no files in the manifest")
    assert(r.getLong(1) <= r.getLong(0))
    assert(r.getLong(2) > 0L, "the probe window matched no file")
    assert(r.getBoolean(3), "streamed manifest != batch manifest")
    assert(r.getBoolean(4), "stream collapsed to a single micro-batch")
  }

  test("q251: per-kind shot identities hold on the corpus") {
    val rows = q("q251_shot_boundaries").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(4) === r.getLong(1) + r.getLong(3),
        s"${r.getString(0)}: shots != media + boundaries")
      assert(r.getLong(5) <= SbSpecMax,
        s"${r.getString(0)}: more shots than frames per payload")
      assert(r.getLong(6) === 1000L * r.getLong(2) / r.getLong(4))
    }
  }
  private val SbSpecMax = 16L

  test("q251: constant payload is one shot, alternating payload cuts " +
      "every frame (crafted fixture)") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-shot-spec").toString
    try {
      // doc 0: 256 identical bytes -> 16 equal-luma frames, 1 shot.
      // doc 3: 16-byte blocks alternating 'a'/'z' -> every consecutive
      // frame differs by 16*25 = 400 > tau, 15 boundaries, 16 shots.
      // Both doc_ids are 0 mod 3 -> one 'image' output row.
      val flat = "a" * 256
      val cuts = (0 until 16).map(f =>
        (if (f % 2 == 0) "a" else "z").toString * 16).mkString
      Seq((0L, flat), (3L, cuts)).toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      val rows = graft.SparkEntry
        .queries("q251_shot_boundaries")(spark, dir).collect()
      assert(rows.length === 1 && rows.head.getString(0) === "image")
      val r = rows.head
      assert(r.getLong(1) === 2L && r.getLong(2) === 32L)
      assert(r.getLong(3) === 15L, s"boundaries ${r.getLong(3)}")
      assert(r.getLong(4) === 17L && r.getLong(5) === 16L)
      assert(r.getLong(6) === 32000L / 17L)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(dir))
    }
  }
}
