package graft.sizing

import graft.SparkTestBase
import org.apache.spark.sql.functions.col

/** Three-way skip/keep/prune routing (SURVEY §2.3, F2–F4). */
class RoutingSpec extends SparkTestBase {

  private def raw = {
    import spark.implicits._
    Seq(
      // (id, pool, dur_ms, cpu_s, backends, cache_gb, mem_gb (null=skip), spill_gb)
      ("keep1", "etl", 1000L, 1.0, 1, 100.0, Some(100.0), 0.0),
      ("keep2", "bi", 1000L, 1.0, 1, 500.0, Some(10.0), 0.0),
      ("skip1", "etl", 1000L, 1.0, 1, 100.0, None, 0.0),
      // missing metric AND an over-limit cache ratio: skip wins over prune
      ("skip2", "etl", 1000L, 1.0, 1, 150000.0, None, 0.0),
      // cache ratio 150000/1000 = 150 pods > default podLimit 100 => prune
      ("prune1", "etl", 1000L, 1.0, 1, 150000.0, Some(1.0), 0.0)
    ).toDF("query_id", "pool", "duration_millis", "cpu_time_sec",
      "num_backends", "reqd_cache_gb", "reqd_agg_mem", "memory_spilled_gb")
  }

  /** (skipped, kept, pruned): the flows of the one routed frame. */
  private def flows(cfg: SizingConfig) = {
    val routed = Routing.route(raw, cfg)
    def flow(name: String) = routed.filter(col("flow") === name)
    (flow("skipped"), flow("kept"), flow("pruned"))
  }

  test("skip/keep/prune split (F2+F4)") {
    val (skipped, kept, pruned) = flows(SizingConfig())
    assert(skipped.select("query_id").collect().map(_.getString(0)).toSet
      == Set("skip1", "skip2"))
    assert(kept.select("query_id").collect().map(_.getString(0)).toSet
      == Set("keep1", "keep2"))
    assert(pruned.select("query_id").collect().map(_.getString(0)).toSet
      == Set("prune1"))
  }

  test("pool filter applies before routing when configured (F3)") {
    val (skipped, kept, pruned) = flows(SizingConfig(pool = Some("etl")))
    assert(skipped.count() == 2)
    assert(kept.select("query_id").collect().map(_.getString(0)).toSet
      == Set("keep1"))
    assert(pruned.count() == 1)
  }

  test("total_queries counts kept+pruned, not skipped (Q10 stance)") {
    val (_, kept, pruned) = flows(SizingConfig())
    assert(kept.count() + pruned.count() == 3)
  }
}
