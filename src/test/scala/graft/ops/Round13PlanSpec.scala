package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame

/** Plan-shape pins for the round's operators — the 100 TB arguments in
  * their scaladocs, asserted against the actual physical plans so a
  * refactor that silently adds a shuffle or drops a broadcast fails here,
  * not at scale.
  */
class Round13PlanSpec extends SparkTestBase {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def count(pat: String, p: String): Int =
    ("\\b" + pat + "\\b").r.findAllIn(p).size

  test("ohlcBars: one Exchange, partial-aggregating, no Window") {
    import spark.implicits._
    val ticks = Seq((1L, 5L, "a", 10L), (2L, 7L, "a", 20L))
      .toDF("event_id", "ts_us", "sym", "v")
    val p = plan(Temporal.ohlcBars(ticks, "sym", "ts_us", "event_id", "v"))
    assert(count("Exchange", p) == 1, s"expected 1 Exchange:\n$p")
    assert(count("Window", p) == 0, s"expected no Window:\n$p")
    // struct min/max buffers force SortAggregate — the map-side combine
    // must still be there (partial_min/max before the Exchange)
    assert(p.contains("partial_min"), s"expected map-side partials:\n$p")
  }

  test("weightedMedian: windows share ONE key shuffle over the value domain") {
    import spark.implicits._
    val df = Seq(("g", 1L, 1L), ("g", 2L, 3L)).toDF("g", "v", "w")
    val p = plan(Stats.weightedMedian(df, "g", "v", "w"))
    // pre-agg (1 exchange on (g, v)) + window/final agg repartition on g
    assert(count("Exchange", p) <= 2, s"expected <= 2 Exchanges:\n$p")
    assert(count("CartesianProduct", p) == 0)
  }

  test("maxSimTopK: query side broadcast, no cartesian, no full sort") {
    import spark.implicits._
    val cands = Seq((10L, Array(1f, 0f))).toDF("cid", "cv")
    val qs = Seq((0L, Array(1f, 1f))).toDF("qid", "qv")
    val p = plan(Similarity.maxSimTopK(cands, qs, tokens = 1, dim = 2))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), s"expected broadcast join:\n$p")
    assert(count("CartesianProduct", p) == 0, s"no unbroadcast product:\n$p")
  }

  test("target encoding (q178): no Window operator — a pure map stage") {
    val p = plan(Stats.queries("q178_target_encoding")
      .apply(spark, "/root/testdata/sf0.001"))
    assert(count("Window", p) == 0, s"expected no Window:\n$p")
    assert(p.contains("BroadcastExchange"), s"category stats broadcast:\n$p")
  }

  test("merkleBucketDiff: dirty-parent probe is a broadcast semi join") {
    val v = spark.range(0, 512).selectExpr("id AS k", "id * 2 AS payload")
    val p = plan(Temporal.merkleBucketDiff(v, v, "k",
      "concat_ws('|', CAST(k AS STRING), CAST(payload AS STRING))"))
    assert(p.contains("BroadcastExchange"), s"expected broadcast:\n$p")
    assert(count("CartesianProduct", p) == 0)
  }

  test("linkPredictionScores: equi-join wedges only, never a cross product") {
    import spark.implicits._
    val und = Seq(("A", "B"), ("B", "C")).toDF("u", "v")
    val p = plan(Graph.linkPredictionScores(und))
    assert(count("CartesianProduct", p) == 0, s"no cross product:\n$p")
    assert(count("BroadcastNestedLoopJoin", p) == 0,
      s"wedge join must be an equi join:\n$p")
  }
}
