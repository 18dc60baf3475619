package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Hive-style partitioned layout + partition pruning: a predicate on the
  * partition column must prune at the FILE level (PartitionFilters in the
  * scan, fewer files read), not post-scan — the difference between
  * reading one day and reading 100 TB.
  */
class PartitionPruningSpec extends SparkTestBase {

  test("partition-column predicate prunes files at the scan") {
    import spark.implicits._
    val dir = tempDir("graft-part").toFile.getAbsolutePath
    (1L to 1000L).map(i => (i, s"d${i % 10}", i * 1.5))
      .toDF("id", "day", "amt")
      .write.mode("overwrite").partitionBy("day").parquet(dir)

    val pruned = spark.read.parquet(dir).filter(col("day") === "d3")
    assert(pruned.count() == 100)

    val scan = pruned.queryExecution.executedPlan.toString
    // the day predicate must appear as a PartitionFilter, and the scan
    // must report reading a single partition directory
    assert(scan.contains("PartitionFilters"), scan)
    assert(scan.matches("(?s).*PartitionFilters: \\[[^\\]]*day[^\\]]*\\].*"),
      scan)
    // data-column predicates do NOT prune partitions
    val unpruned = spark.read.parquet(dir).filter(col("amt") > 0)
    assert(unpruned.count() == 1000)
  }
}
