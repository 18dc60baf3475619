package graft

import org.apache.spark.sql.SparkSession

/** The one place that sets the engine's shared session settings: a local
  * master with one core per shuffle partition, the UTC session time zone
  * (`RestGate.apiDocs` and q101 are correct only in UTC) and no UI.
  *
  * The core count is `SPARK_GRAFT_CPUS` when set, else every core the JVM
  * sees; a caller that needs a fixed count (the test suite) passes it.
  */
object GraftSession {

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(appName: String, cores: Int = cpus): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** Starts (or joins) the session and quiets Spark's INFO logging. */
  def apply(builder: SparkSession.Builder): SparkSession = {
    val s = builder.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def apply(appName: String): SparkSession = apply(builder(appName))
}
