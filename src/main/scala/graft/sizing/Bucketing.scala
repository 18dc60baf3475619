package graft.sizing

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** T-shirt-size range bucketing (SURVEY §2.4, B1/B2).
  *
  * The reference linear-scans a dict of "lo_hi" string ranges
  * (impala_query_sizing.py:71–84; dicts py:14–28). Quirk stances:
  *  - Q1: the cache-GB range dict (py:22–28) is dead code — every call
  *    site passes a ttype != 'cache' (py:252–259, 370) so the pod ranges
  *    apply everywhere. We replicate that as the default and keep the
  *    cache ranges available behind [[tsizeCacheGb]].
  *  - Q2: the reference returns None for values > 999 (py:79–84); we make
  *    the function total with CUSTOM as the open-ended top bucket.
  *
  * A CASE WHEN chain is the Spark-idiomatic mapping: codegen'd, constant-
  * folded, no join, no UDF — at 100 TB this is a free per-row expression.
  */
object Bucketing {

  /** Pod-count ranges (py:14–20): 0–2 XSMALL, 3–10 SMALL, 11–20 MEDIUM,
    * 21–40 LARGE, 41+ CUSTOM. Bounds are inclusive on ceil'd values. The
    * one threshold table behind [[tsize]], [[tsizeValue]], [[tsizeSql]]
    * and the `graft_tsize` SQL function: (inclusive upper bound, label).
    */
  val PodBuckets: Seq[(Long, String)] =
    Seq(2L -> "XSMALL", 10L -> "SMALL", 20L -> "MEDIUM", 40L -> "LARGE")

  /** Label above the last bound — Q2: total (reference: None above 999). */
  val TopBucket = "CUSTOM"

  /** Every label, smallest first: the report's matrix row order. */
  val Sizes: Seq[String] = PodBuckets.map(_._2) :+ TopBucket

  def tsize(pods: Column): Column = {
    val (hi0, l0) = PodBuckets.head
    PodBuckets.tail
      .foldLeft(when(pods <= hi0, l0)) { case (c, (hi, l)) =>
        c.when(pods <= hi, l)
      }
      .otherwise(TopBucket)
  }

  /** [[tsize]] as the label's position in [[Sizes]] (an INT; NULL pods
    * land in the top bucket, like [[tsize]]): an integer the report's
    * matrix cells compare instead of a string.
    */
  def tsizeIndex(pods: Column): Column =
    PodBuckets.zipWithIndex.tail
      .foldLeft(when(pods <= PodBuckets.head._1, 0)) {
        case (c, ((hi, _), i)) => c.when(pods <= hi, i)
      }
      .otherwise(PodBuckets.size)

  /** The reference's dead cache-GB ranges (py:22–28), kept for parity
    * experiments (Q1).
    */
  def tsizeCacheGb(gb: Column): Column =
    when(gb <= 400, "XSMALL")
      .when(gb <= 2000, "SMALL")
      .when(gb <= 4000, "MEDIUM")
      .when(gb <= 8000, "LARGE")
      .otherwise("CUSTOM")

  /** Driver-side scalar twin of [[tsize]] (report assembly, py:370). */
  def tsizeValue(pods: Long): String =
    PodBuckets.collectFirst { case (hi, l) if pods <= hi => l }
      .getOrElse(TopBucket)

  /** SQL text of [[tsize]] over a named column — shared with oracle SQL so
    * the DuckDB side is guaranteed textually identical.
    */
  def tsizeSql(colName: String): String =
    PodBuckets.map { case (hi, l) => s"WHEN $colName <= $hi THEN '$l'" }
      .mkString("CASE ", "\n     ", s"\n     ELSE '$TopBucket' END")
}
