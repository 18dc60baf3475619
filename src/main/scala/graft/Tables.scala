package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Every query entry point takes an `sfDir` (e.g. `/root/testdata/sf0.01`)
  * and reads only the tables it needs — Catalyst prunes columns and pushes
  * filters into the parquet scan, so "load" here is just a lazy plan node.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // Older generator layouts carried events.ts as TIMESTAMP(NANOS), which
    // the vectorized reader rejects unless nanos are surfaced as a long
    // column. Runtime-settable, idempotent, and a no-op for µs layouts.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events") normalizeEvents(df) else df
  }

  /** The streaming twin of [[load]]: a file-source stream over table
    * `name` under `dir` (a driver table directory, or a scratch root the
    * leg wrote `<name>.parquet` into), with the same `nanosAsLong`
    * setting and events normalization. The schema comes from one batch
    * probe of `<dir>/<name>.parquet`; `filesPerTrigger` caps the files per
    * micro-batch (`maxFilesPerTrigger`).
    *
    * The glob is `<name>.parquet*`: the file source requires a
    * glob or a directory (a bare file path throws "basePath must be a
    * directory" on the single-file fixtures), but the suffix-star form
    * still pins the exact name the batch side reads in BOTH layouts
    * (single file at sf0.01, part-file directory at sf1) — unlike a
    * broader `<name>*.parquet`, a sibling `orders_v2.parquet` cannot slip
    * into the stream and desynchronize its parity gate.
    */
  def stream(spark: SparkSession, dir: String, name: String,
      filesPerTrigger: Option[Int] = None): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$dir/$name.parquet").schema
    val reader = filesPerTrigger.foldLeft(spark.readStream.schema(schema))(
      (r, n) => r.option("maxFilesPerTrigger", n.toLong))
    val df = reader.parquet(s"$dir/$name.parquet*")
    if (name == "events") normalizeEvents(df) else df
  }

  /** Normalize the events frame to the library's internal contract:
    * `ts` = epoch NANOS as BIGINT. The generator has shipped two physical
    * layouts — TIMESTAMP(NANOS) (surfaced as a nanos long via
    * `legacy.parquet.nanosAsLong`) and TIMESTAMP(MICROS, NTZ) — and every
    * temporal operator (and its DuckDB oracle twin) is pinned to integer
    * nanos arithmetic, so the conversion happens ONCE here rather than in
    * each consumer. The NTZ value is naive UTC by the generator's
    * convention; the session timezone is pinned to UTC everywhere
    * (builder + javaOptions), so the LTZ cast below is value-preserving.
    * Works on streaming frames too (a stateless projection) — [[stream]]
    * routes its events frame through it.
    */
  def normalizeEvents(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.LongType
    if (!df.schema.fieldNames.contains("ts") ||
        df.schema("ts").dataType == LongType) df
    else df.withColumn("ts",
      org.apache.spark.sql.functions.expr(
        "unix_micros(CAST(ts AS TIMESTAMP_LTZ)) * 1000"))
  }

  /** Register all tables as temp views so `spark.sql` users get the same
    * relational surface the reference exposes through its CSV pipeline.
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    All.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
