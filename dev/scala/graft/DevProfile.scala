package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.GraftListenerAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Dev-only: the one timing and plan runner for battery entries.
  *
  * Usage: `runMain graft.DevProfile <sfDir>[,<sfDir>…] <entry…|all>
  * [--runs n] [--plan]`
  *
  * Each entry is warmed once on sf0.001 (JIT, codegen and parquet
  * footers are paid before any timed run), every entry once more on
  * the first directory before any is timed, then each is run `n`
  * times (default 3) on every scale directory through [[Bench.exec]],
  * the bench's noop-sink execution, with `clearCache()` after each run.
  * Output is one line per entry:
  *
  * {{{PROFILE <entry> <sf>=<min s> … x=<last/first> jobs=<n>}}}
  *
  * where `<sf>` is the directory's last path component, `<min s>` the
  * fastest of the runs (-1 if any run failed), `x` the ratio of the
  * last directory's minimum to the first's (-1 on a failure) and `jobs`
  * the number of Spark jobs the entry's last run started. `--plan`
  * prints the formatted physical plan on the first directory before the
  * entry is timed.
  *
  * `--runs 1` in a fresh JVM per decade is the harness for entries that
  * localCheckpoint per round: their checkpoint blocks are not freed by
  * `clearCache()` and pile up across repeated runs (see the verify
  * skill's gotchas). Findings of the probes this runner replaced are in
  * PERF.md, "Deleted dev probes".
  */
object DevProfile {
  private val Usage =
    "usage: DevProfile <sfDir>[,<sfDir>…] <entry…|all> [--runs n] [--plan]"

  def main(args: Array[String]): Unit = {
    def parse(rest: List[String], runs: Int, plan: Boolean,
        pos: List[String]): (Int, Boolean, List[String]) = rest match {
      case "--runs" :: n :: tail => parse(tail, n.toInt, plan, pos)
      case "--plan" :: tail => parse(tail, runs, plan = true, pos)
      case a :: tail => parse(tail, runs, plan, a :: pos)
      case Nil => (runs, plan, pos.reverse)
    }
    val (runs, plan, pos) = parse(args.toList, 3, plan = false, Nil)
    require(pos.size >= 2 && runs >= 1, Usage)
    val dirs = pos.head.split(',').toSeq.filter(_.nonEmpty)
    val all = SparkEntry.queries.keys.toSeq.sorted
    val names = if (pos.tail == List("all")) all else pos.tail
    names.foreach(n => require(all.contains(n), s"unknown entry '$n'"))

    val spark = GraftSession(GraftSession.builder("graft-dev-profile")
      // q126's complete-mode gate collects ~1 GiB on the driver at sf10;
      // the default 1 GiB cap kills its stream
      .config("spark.driver.maxResultSize", "4g"))
    def label(dir: String) = dir.split('/').filter(_.nonEmpty).last
    val jobs = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    var lastJobs = 0
    // a failed run reports -1, never a time-to-failure; the job count is
    // read once every event of the run has reached the listener
    def timed(name: String, dir: String): Double = {
      GraftListenerAccess.drain(spark.sparkContext)
      jobs.set(0)
      val t0 = System.nanoTime()
      val t =
        try { Bench.exec(spark, name, dir); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(s"[profile] $name @ $dir FAILED: ${e.getMessage}")
          -1.0
        }
      GraftListenerAccess.drain(spark.sparkContext)
      lastJobs = jobs.get
      spark.catalog.clearCache()
      t
    }

    // one untimed pass of every entry at the first target scale: after
    // the sf0.001 warm-up alone, or one extra run of the first entry only,
    // a fresh JVM still timed its first entry 1.3-1.7x a later repeat
    // (PERF.md, "One graph vocabulary")
    names.foreach(timed(_, dirs.head))
    names.foreach { name =>
      timed(name, Bench.WarmDir)
      if (plan) {
        println(s"==== $name @ ${dirs.head} ====")
        SparkEntry.queries(name)(spark, dirs.head).explain("formatted")
        spark.catalog.clearCache()
      }
      val mins = dirs.map { dir =>
        val ts = Seq.fill(runs)(timed(name, dir))
        if (ts.contains(-1.0)) -1.0 else ts.min
      }
      val x = if (mins.contains(-1.0)) -1.0 else mins.last / mins.head
      val cells = dirs.zip(mins).map { case (d, t) => f"${label(d)}=$t%.2fs" }
      println(f"PROFILE $name ${cells.mkString(" ")} x=$x%.2f jobs=$lastJobs")
    }
    spark.stop()
  }
}
