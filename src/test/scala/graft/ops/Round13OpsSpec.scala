package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Round-13 operator pins: OHLC struct-ordering determinism, MaxSim
  * late-interaction scoring, weighted-median edges, link prediction on a
  * known graph, subtree rollup convergence, Merkle-diff localization.
  */
class Round13OpsSpec extends SparkTestBase {

  test("ohlcBars: open/close pick by (ts, id) even at tied instants") {
    import spark.implicits._
    // two ticks share ts=5 — event_id must break the tie for close;
    // open is the earliest instant regardless of value magnitude
    val ticks = Seq(
      (1L, 5L, "a", 100L),
      (2L, 5L, "a", 50L), // same instant, later id → this is the close
      (3L, 1L, "a", 999L), // earliest instant → open, also high
      (4L, 3L, "a", 7L), // low
      (5L, 86400000005L, "a", 42L) // next day → its own bar
    ).toDF("event_id", "ts_us", "sym", "v")
    val out = Temporal.ohlcBars(ticks, "sym", "ts_us", "event_id", "v")
      .orderBy("day")
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(out === Seq(
      (0L, 999L, 999L, 7L, 50L, 4L, 1156L),
      (1L, 42L, 42L, 42L, 42L, 1L, 42L)))
  }

  test("maxSimTopK with one token equals plain dot-product ranking") {
    import spark.implicits._
    val cands = Seq(
      (10L, Array(1f, 0f)),
      (11L, Array(0f, 1f)),
      (12L, Array(2f, 2f))
    ).toDF("cid", "cv")
    val qs = Seq((0L, Array(1f, 1f))).toDF("qid", "qv")
    val out = Similarity.maxSimTopK(cands, qs, tokens = 1, dim = 2, k = 3)
      .orderBy("rn").collect()
      .map(r => (r.getLong(1), r.getDouble(2)))
    // dots: 12 → 4, 10 → 1, 11 → 1 (tie broken by cid)
    assert(out === Seq((12L, 4.0), (10L, 1.0), (11L, 1.0)))
  }

  test("maxSimTopK: per-token max beats pooled dot when tokens differ") {
    import spark.implicits._
    // query token A = (1,0), token B = (0,1).
    // cand 20 matches A strongly in its FIRST token and B in its SECOND:
    // maxsim = 3 + 2 = 5. cand 21 has the same pooled sum spread so its
    // per-token maxes are 2 + 1 = 3 < 5.
    val cands = Seq(
      (20L, Array(3f, 0f, 0f, 2f)),
      (21L, Array(2f, 1f, 1f, 0f))
    ).toDF("cid", "cv")
    val qs = Seq((0L, Array(1f, 0f, 0f, 1f))).toDF("qid", "qv")
    val out = Similarity.maxSimTopK(cands, qs, tokens = 2, dim = 2, k = 2)
      .orderBy("rn").collect()
      .map(r => (r.getLong(1), r.getDouble(2)))
    assert(out === Seq((20L, 5.0), (21L, 2.0 + 1.0)))
  }

  test("weightedMedian: lower median pinned at the even-split boundary") {
    import spark.implicits._
    // group g1: weights 1,1 on values 10,20 → 2·cw(10)=2 ≥ tw=2 → 10
    // group g2: dominant weight on 30 → 30
    // group g3: single value
    val df = Seq(
      ("g1", 10L, 1L), ("g1", 20L, 1L),
      ("g2", 5L, 1L), ("g2", 30L, 5L),
      ("g3", 77L, 3L)
    ).toDF("g", "v", "w")
    val out = Stats.weightedMedian(df, "g", "v", "w")
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out === Seq(("g1", 10L, 2L), ("g2", 30L, 6L), ("g3", 77L, 3L)))
  }

  test("linkPredictionScores: path graph A-B-C predicts only (A,C)") {
    import spark.implicits._
    val und = Seq(("A", "B"), ("B", "C")).toDF("u", "v")
    val out = Graph.linkPredictionScores(und).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))
    // A and C share neighbor B (deg 2): cn=1, jaccard=1/(1+1-1)=1,
    // ra = 1000000 div 2
    assert(out === Seq(("A", "C", 1L, 1.0, 500000L)))
  }

  test("linkPredictionScores excludes pairs that are already edges") {
    import spark.implicits._
    // triangle + pendant: D-A, A-B, B-C, A-C. (A,C) IS an edge → only
    // non-edges (B,D) via A and (C,D) via A appear.
    val und = Seq(("A", "B"), ("B", "C"), ("A", "C"), ("A", "D"))
      .toDF("u", "v")
    val out = Graph.linkPredictionScores(und)
      .orderBy("x", "y").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(out === Seq(("B", "D", 1L), ("C", "D", 1L)))
  }

  test("subtreeRollup: exact totals on a 3-level tree; extra rounds idempotent") {
    import spark.implicits._
    //        1(v=10)
    //       /  \
    //   2(20)   3(30)
    //    |
    //   4(40)
    val nodes = Seq(
      (1L, Option.empty[Long], 10L),
      (2L, Some(1L), 20L),
      (3L, Some(1L), 30L),
      (4L, Some(2L), 40L)
    ).toDF("id", "parent", "value")
    def run(depth: Int) = Graph.subtreeRollup(nodes, "value", depth)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
    val exact = Seq((1L, 100L, 4L), (2L, 60L, 2L), (3L, 30L, 1L),
      (4L, 40L, 1L))
    assert(run(2) === exact) // height = 2 suffices
    assert(run(5) === exact) // overshoot converges to the same fixpoint
  }

  test("merkleBucketDiff localizes a single mutated row to its leaf") {
    val v1 = spark.range(0, 4096).select(col("id").as("k"),
      (col("id") * 3).as("payload"))
    // one mutation at k=1000 (leaf 3 under leafSize 256), one drop at
    // k=4000 (leaf 15)
    val v2 = v1.filter(col("k") =!= 4000)
      .withColumn("payload",
        when(col("k") === 1000, lit(-1L)).otherwise(col("payload")))
    val out = Temporal.merkleBucketDiff(v1, v2, "k",
        "concat_ws('|', CAST(k AS STRING), CAST(payload AS STRING))")
      .orderBy("leaf").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._1).toSeq === Seq(3L, 15L))
    assert(out(0)._2 === 256L && out(0)._3 === 256L) // mutated, not dropped
    assert(out(1)._2 === 256L && out(1)._3 === 255L) // one row dropped
  }

  test("merkleBucketDiff: identical tables produce an empty diff") {
    val v = spark.range(0, 1000).select(col("id").as("k"),
      (col("id") % 7).as("payload"))
    assert(Temporal.merkleBucketDiff(v, v, "k",
      "concat_ws('|', CAST(k AS STRING), CAST(payload AS STRING))")
      .count() === 0L)
  }
}
