package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.GraftListenerAccess
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole suite — Spark startup is ~5s,
  * per-suite sessions would dominate `sbt test` wall-clock. Pinned to 4
  * cores and 4 shuffle partitions whatever the host has.
  */
object SparkTestBase {
  lazy val spark: SparkSession =
    GraftSession(GraftSession.builder("graft-test", cores = 4))
}

abstract class SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.spark

  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]

  /** A fresh temp directory named `prefix*`, deleted with everything in
    * it when the suite ends, whether its tests pass or fail.
    */
  def tempDir(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir
  }

  /** The SQL executions `body` runs, counted by a QueryExecutionListener
    * after the listener bus has delivered every event.
    */
  def sqlExecutions(body: => Any): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val counter = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        n.incrementAndGet()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        n.incrementAndGet()
    }
    GraftListenerAccess.drain(sc)
    spark.listenerManager.register(counter)
    try {
      body
      GraftListenerAccess.drain(sc)
    } finally spark.listenerManager.unregister(counter)
    n.get
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach(d => Fs.deleteRecursively(d))
    finally super.afterAll()
}
