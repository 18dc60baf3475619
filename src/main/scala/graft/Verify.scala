package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Ends with one
  * stderr line naming the entries that failed. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // dev-only third arg: comma-separated entry names to dump (fast
    // targeted parity iteration); the driver always passes two args
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession("graft-verify")
    val failed = dump(spark, sfDir, outDir, only)
    val n = SparkEntry.queries.keys.count(selected(only))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    System.err.println(
      s"[verify] ${failed.size}/$n entries failed: ${failed.mkString(",")}")
    spark.stop()
  }

  private def selected(only: Option[Set[String]])(name: String): Boolean =
    only.forall(_.contains(name))

  /** Writes each selected entry's result to `outDir/<name>` as one parquet
    * file and returns the names of the entries that failed, in run order.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq
      .filter { case (name, _) => selected(only)(name) }
      .flatMap { case (name, fn) =>
        val failed =
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            None
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            Some(name)
          }
        spark.catalog.clearCache() // drop per-query persisted intermediates
        failed
      }
  }
}
