package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every operator module's query battery. Each entry has a
  * matching DuckDB oracle SQL in [[oracleSql]] unless the op is not
  * SQL-expressible (then the driver records a rows-only check).
  */
object SparkEntry {

  private val modules: Seq[QueryModule] =
    Seq(ops.Relational, ops.Sizing, ops.TextAnalysis, ops.Dedup,
      ops.Similarity, ops.Multimodal, ops.Temporal, ops.Typed, ops.Stats,
      ops.StreamSweep, ops.RestGate, ops.Graph, ops.Formats, ops.Behavior)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.Relational.queries("q5_multiway_join")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Lazy: the
    * merge + collision check is a one-time structural invariant, not a
    * per-lookup cost (Bench/Verify index this inside per-query loops).
    */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    merged(modules.map(_.queries), "queries")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    *
    * Timestamp layout note: the oracle dialect reads `events.ts` as a
    * DuckDB TIMESTAMP (`epoch_us(ts)` for µs) regardless of whether the
    * parquet carries TIMESTAMP(NANOS) or TIMESTAMP(MICROS, NTZ); the
    * Spark side pins the matching internal contract (ts = epoch nanos as
    * BIGINT) once, in [[Tables.normalizeEvents]].
    */
  lazy val oracleSql: Map[String, String] =
    merged(modules.map(_.oracleSql), "oracleSql")

  /** `++` silently keeps the LAST duplicate — a name collision between
    * two modules would shadow one battery entry and shrink the gate
    * without any signal. Fail at access time instead.
    */
  private def merged[V](maps: Seq[Map[String, V]], what: String)
      : Map[String, V] = {
    val m = maps.reduce(_ ++ _)
    require(m.size == maps.map(_.size).sum,
      s"duplicate battery $what name across modules: " +
        maps.flatMap(_.keys).groupBy(identity).collect {
          case (k, vs) if vs.size > 1 => k
        }.mkString(", "))
    m
  }
}

/** A group of related operators exposing driver-checkable queries. */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracleSql: Map[String, String]
}

/** Small filesystem helpers shared by the scratch-writing entries, the
  * streaming harnesses and the specs.
  */
object Fs {
  /** Scratch root for an entry that writes files: sink→source round
    * trips, streamed inputs, foreachBatch state and stream checkpoints.
    * Honors `spark.graft.scratch.dir` (any Hadoop-FS URI — set it to a
    * SHARED filesystem on a multi-node cluster, where a driver-local /tmp
    * would silently lose every executor-written partition): the root is
    * a fresh `<tag>-<uuid>` under it. Unset, the root is a fresh
    * driver-local temp dir `graft-<tag>-*`, which is correct only in
    * local mode. Either way `body` gets the root's URI and the root is
    * deleted after it, through the Hadoop FileSystem API so both schemes
    * delete the same way.
    */
  def withScratch[A](s: SparkSession, tag: String)(body: String => A): A = {
    val root = s.conf.getOption("spark.graft.scratch.dir") match {
      case Some(base) => new Path(base, s"$tag-${java.util.UUID.randomUUID()}")
      case None => new Path("file", null, java.nio.file.Files
        .createTempDirectory(s"graft-$tag-").toAbsolutePath.toString)
    }
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    try body(root.toString) finally fs.delete(root, true)
  }

  /** Whether `path` (a scratch-root URI or below) exists, through the
    * same Hadoop FileSystem API [[withScratch]] deletes with.
    */
  def exists(s: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Recursive delete that CLOSES the walk stream (Files.walk holds open
    * directory handles; without close they live until GC).
    */
  def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    }
  }
}

/** Fail-loud gate for the no-oracle battery entries (q38, q73–q78, q84,
  * q96).
  *
  * Those entries are rows-only checked by the driver (the DuckDB oracle
  * cannot execute a stream or an engine-specific sketch); their real
  * assertion is an in-row boolean (`matches_batch`, `within_5pct`,
  * `within_1pct`). Without this gate a stream/batch divergence at the
  * driver's scale (sf0.01/sf0.1) would still produce a green-looking
  * rows-only row. The gate injects an `assert_true` over the bit columns
  * into the query's own plan: any false (or NULL) bit raises at execution
  * time, so the divergence lands in CORRECTNESS's `err` field instead.
  *
  * In-plan rather than a driver-side collect: the assertion runs
  * distributed, where the rows are — the same contract at 100 TB as at
  * sf0.001 — and adds no extra action or data movement (`coalesce(
  * assert_true(...), true)` is a per-row filter the optimizer cannot
  * fold away because the bit is not statically known).
  */
object ParityGate {
  import org.apache.spark.sql.functions._

  /** Gate `df` on its boolean `bits` columns, fail-loud.
    *
    * A per-row assertion can never fire on ZERO rows, so a stream/batch
    * pair that both emit nothing (misconfigured source, over-aggressive
    * eviction) would be vacuously green. The `guardNonEmpty` branch closes
    * that: a 1-row global-count subtree over the pre-gate frame, broadcast
    * cross-joined in, asserts count > 0 inside the same plan (the
    * broadcast side builds first, so the assertion fires even when the
    * streamed side is empty). The guard re-executes `df`'s plan — free for
    * the streaming entries (their parity frames are driver-local arrays),
    * but a full second scan for the sketch aggregates q38/q76, which pass
    * `guardNonEmpty = false`: a grouped aggregate is empty only when its
    * source table is, which the driver's rows-only check already exposes
    * as `spark_rows: 0`.
    */
  def apply(df: DataFrame, qname: String, bits: String*): DataFrame =
    apply(df, qname, guardNonEmpty = true, bits: _*)

  def apply(df: DataFrame, qname: String, guardNonEmpty: Boolean,
      bits: String*): DataFrame = {
    val allBits = bits.map(b => col(b).isNotNull && col(b)).reduce(_ && _)
    val gated = df.where(coalesce(
      assert_true(allBits, concat_ws(" ",
        lit(s"$qname: parity/accuracy bit false (${bits.mkString(",")}) in row"),
        to_json(struct(df.columns.map(col): _*)))),
      lit(true)))
    if (!guardNonEmpty) gated
    else {
      val guard = df.groupBy().agg(count(lit(1)).as("__n"))
        .select(coalesce(
          assert_true(col("__n") > 0,
            lit(s"$qname: gated result is EMPTY — no parity bit was ever " +
              "evaluated (vacuously green)")),
          lit(true)).as("__nonempty"))
      // The guard must be the PRESERVED side of an outer join: a collected
      // empty stream result is a statically-empty LocalRelation, and
      // PropagateEmptyRelation deletes an inner/cross join outright when
      // either input is provably empty — which would silently delete the
      // guard in exactly the case it exists for. A left-outer join with
      // the 1-row guard on the left instead optimizes to
      // Project(guard, null-extended gated) — the global count still
      // executes and the assert fires. The filter on __nonempty (not a
      // bare drop) keeps column pruning from discarding the assert; the
      // null-extended phantom row can never escape because the assert
      // raises first (count = 0 is the only way that row exists).
      guard.join(gated, lit(true), "left_outer")
        .where(col("__nonempty"))
        .select(df.columns.map(col): _*)
    }
  }
}
