package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Partitioned-write management: directory layout, file-count bounds,
  * file-level clustering, and compaction of a scattered layout.
  */
class OutputSpec extends SparkTestBase {

  private def parquetFiles(dir: String): Map[String, Int] = {
    val root = new java.io.File(dir)
    root.listFiles().filter(_.getName.startsWith("day="))
      .map(d => d.getName ->
        d.listFiles().count(_.getName.endsWith(".parquet")))
      .toMap
  }

  test("writePartitioned bounds files per partition and keeps layout") {
    import spark.implicits._
    val dir = tempDir("graft-out").toFile.getAbsolutePath
    val df = (1L to 1000L).map(i => (i, s"d${i % 4}", i * 1.5))
      .toDF("id", "day", "amt")
    Output.writePartitioned(df, dir, Seq("day"), Seq("id"),
      maxRowsPerFile = 100)

    val files = parquetFiles(dir)
    assert(files.keySet == Set("day=d0", "day=d1", "day=d2", "day=d3"))
    // 250 rows per day, ≤100 rows per file → ≥3 files, but bounded: the
    // range partitioner sends each day to FEW tasks, so no task-scatter
    files.values.foreach(n => assert(n >= 3 && n <= 6, files.toString))

    // round-trips and still prunes on the partition column
    val back = spark.read.parquet(dir)
    assert(back.count() == 1000)
    val pruned = back.filter(col("day") === "d2")
    assert(pruned.count() == 250)
    assert(pruned.queryExecution.executedPlan.toString
      .contains("PartitionFilters"))
  }

  test("compact collapses a task-scattered layout into bounded files") {
    import spark.implicits._
    val scattered = tempDir("graft-scatter").toFile.getAbsolutePath
    // worst case: high task parallelism × partition values = many shards
    (1L to 1000L).map(i => (i, s"d${i % 4}", i * 1.5))
      .toDF("id", "day", "amt")
      .repartition(32)
      .write.mode("overwrite").partitionBy("day").parquet(scattered)
    val before = parquetFiles(scattered)
    assert(before.values.sum > 50, before.toString) // scatter confirmed

    val compacted = tempDir("graft-compact").toFile.getAbsolutePath
    Output.compact(spark.read.parquet(scattered), compacted,
      Seq("day"), Seq("id"), maxRowsPerFile = 500)
    val after = parquetFiles(compacted)
    assert(after.values.forall(_ <= 2), after.toString)
    assert(spark.read.parquet(compacted).count() == 1000)
    // identical content after the rewrite
    assert(spark.read.parquet(compacted).exceptAll(
      spark.read.parquet(scattered)).isEmpty)
  }
}
