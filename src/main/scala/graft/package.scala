package object graft {

  /** Library-wide replacement for `Dataset.localCheckpoint`: identical
    * semantics and lineage truncation, but the statistics carried into
    * the checkpointed leaf are clamped into the 64-bit regime (see
    * [[org.apache.spark.sql.GraftPlanStats]]). Every iterative operator
    * (connected components, k-core, Louvain, PageRank, SSSP, HITS,
    * k-means, …) checkpoints per round; with the stock method the
    * size-only join estimator's BigInt sizeInBytes DOUBLES ITS BIT
    * LENGTH per checkpointed self-join and the driver ends up spending
    * seconds per round in BigInteger.multiply during physical planning.
    * Plan CHOICES are unaffected: stats that fit a long are passed
    * through untouched, and a clamped Long.MaxValue compares identically
    * to the astronomic original against every planner threshold.
    */
  implicit final class CkptLocalOps(
      private val df: org.apache.spark.sql.DataFrame) extends AnyVal {
    def ckptLocal(eager: Boolean = true): org.apache.spark.sql.DataFrame =
      org.apache.spark.sql.GraftPlanStats.clampedLocalCheckpoint(df, eager)

    /** Eager [[ckptLocal]] that also counts the checkpointed rows — all
      * of them, or those matching `where` — in the SAME Spark execution:
      * the count rides the checkpoint's job as a `Dataset.observe`
      * metric, so an iterative loop's per-round "checkpoint, then test
      * the fixpoint" costs one execution instead of two. The observation
      * is read only after the checkpoint returned, so a frame whose
      * evaluation raises throws that error here and never waits on it.
      */
    def ckptCounted(
        where: org.apache.spark.sql.Column =
          org.apache.spark.sql.functions.lit(true))
        : (org.apache.spark.sql.DataFrame, Long) = {
      import org.apache.spark.sql.functions.{count, lit, when}
      val obs = org.apache.spark.sql.Observation()
      val ck = org.apache.spark.sql.GraftPlanStats.clampedLocalCheckpoint(
        df.observe(obs, count(when(where, lit(1))).as("n")), eager = true)
      (ck, obs.get("n").asInstanceOf[Long])
    }
  }
}
