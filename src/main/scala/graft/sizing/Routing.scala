package graft.sizing

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Predicate routing (SURVEY §2.3, F2–F4): one input stream, each row
  * tagged with the one flow it belongs to — skip / prune / keep, mirroring
  * the reference's three output files (py:197–200, 262–269, 336).
  *
  * The consumers (sinks, report) are filters on the `flow` column of ONE
  * frame, so a caller that caches it reads and derives the log once.
  */
object Routing {

  /** The routed querylog: the pool-filtered rows (F3, py:211–212) with
    * every [[Formulas.derive]] column and a `flow` column —
    *  - `skipped` when `reqd_agg_mem` is NULL (F2, py:197–200);
    *  - `pruned` when the rounded overall pod count exceeds `podLimit`
    *    (F4, py:262–269);
    *  - `kept` otherwise.
    * The skip test comes first: skipped rows carry derived columns too,
    * but theirs are computed from a missing metric and mean nothing.
    * NOTE Q10: the reference counts total_queries BEFORE the prune split,
    * so A1 aggregates over `kept` and `pruned` together.
    */
  def route(raw: DataFrame, cfg: SizingConfig): DataFrame = {
    val pooled = cfg.pool.fold(raw)(p => raw.filter(col("pool") === lit(p)))
    Formulas.derive(pooled, cfg).withColumn("flow",
      when(col("reqd_agg_mem").isNull, "skipped")
        .when(col("min_executor_pod") > cfg.podLimit, "pruned")
        .otherwise("kept"))
  }
}
