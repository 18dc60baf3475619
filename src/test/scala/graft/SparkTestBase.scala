package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole suite — Spark startup is ~5s,
  * per-suite sessions would dominate `sbt test` wall-clock. Pinned to 4
  * cores and 4 shuffle partitions whatever the host has.
  */
object SparkTestBase {
  lazy val spark: SparkSession =
    GraftSession(GraftSession.builder("graft-test", cores = 4))
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
}
