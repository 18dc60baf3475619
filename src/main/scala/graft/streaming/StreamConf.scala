package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** The streaming parity harness: [[drain]], the one start → drain → read
  * → stop path every streamed battery leg runs through, and the
  * session-conf scoping it applies.
  *
  * A Structured Streaming query captures `spark.sql.shuffle.partitions`
  * at START as its STATE partition count, and every micro-batch then
  * pays a state-store commit per partition. The battery's parity
  * harnesses carry tiny state (10²–10⁴ keys), so the session's 32
  * batch-shuffle partitions are pure commit overhead — measured at
  * sf0.1: 32 parts ≈ 1.9 s per processAllAvailable vs 4 parts ≈ 1.2 s
  * (DevQ75Probe, PERF.md "Deleted dev probes"). A production stream sizes this to its state volume
  * (state-rows ÷ target-rows-per-store), exactly as this helper's `n`;
  * the number is a deployment knob, not a semantic one.
  */
object StreamConf {
  /** Harness default: generous for 10⁴-key state, ¼ of the test cores. */
  val HarnessStateParts = 4

  /** State store backend knob, read from session conf
    * `spark.graft.stream.stateStore` — `rocksdb` (default) or `hdfs`
    * (Spark's JVM-heap HDFSBackedStateStoreProvider).
    *
    * RocksDB is the DEFAULT because the heap-backed store is the one
    * named 100 TB scale-killer of the streaming battery: keyed state
    * (q74's dedup keys, q77's per-event join horizon) grows with the
    * stream, and an on-heap HashMap of it competes with execution memory
    * until the executor OOMs, while RocksDB keeps state off-heap on
    * local disk with incremental checkpointing to the checkpoint
    * location. The provider is a per-query capture of
    * `spark.sql.streaming.stateStore.providerClass` at START — semantics
    * are identical by contract (same keyed-state API), which the battery
    * proves: every ParityGated entry runs its streamed leg under RocksDB
    * and must still match its oracle-checked batch twin bit-for-bit.
    */
  val StateStoreKey = "spark.graft.stream.stateStore"

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  // Changelog checkpointing: commit the per-batch delta instead of a full
  // RocksDB snapshot upload each micro-batch — the recommended pairing for
  // frequent small commits (snapshots still happen, asynchronously, every
  // `minDeltasForSnapshot` batches), and the difference between O(state)
  // and O(delta) per-batch checkpoint cost at 100 TB keyed state.
  private val ChangelogKey =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  private def providerClass(s: SparkSession): Option[String] =
    s.conf.getOption(StateStoreKey).getOrElse("rocksdb") match {
      case "rocksdb" => Some(RocksDbProvider)
      case "hdfs"    => None // Spark's default heap-backed provider
      case other => throw new IllegalArgumentException(
        s"$StateStoreKey must be rocksdb|hdfs, got: $other")
    }

  /** Run `body` (which must both START and fully DRAIN its streaming
    * query) with `spark.sql.shuffle.partitions` = `n` and the state
    * store provider from [[StateStoreKey]], restoring the caller's
    * values after — batch twins in the same entry keep the session's
    * partitioning (and batch plans never read the provider conf).
    *
    * SINGLE-THREADED BY ASSUMPTION: this mutates the session-global
    * conf and restores it on exit, which is only safe because battery
    * entries run sequentially on one session. A concurrent entry — or a
    * BATCH plan built inside `body`, which would capture `n` as its
    * shuffle parallelism — would be silently misconfigured. Keep batch
    * twins OUTSIDE the block (as every current call site does) and
    * never call this from parallel test suites sharing a session.
    */
  def withStateParts[T](s: SparkSession, n: Int = HarnessStateParts)(
      body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = s.conf.get(key)
    val oldProvider = s.conf.getOption(ProviderKey)
    val oldChangelog = s.conf.getOption(ChangelogKey)
    s.conf.set(key, n.toString)
    providerClass(s).foreach { p =>
      s.conf.set(ProviderKey, p)
      s.conf.set(ChangelogKey, "true")
    }
    def restore(k: String, v: Option[String]): Unit = v match {
      case Some(x) => s.conf.set(k, x)
      case None    => s.conf.unset(k)
    }
    try body finally {
      s.conf.set(key, old)
      restore(ProviderKey, oldProvider)
      restore(ChangelogKey, oldChangelog)
    }
  }

  /** What [[drain]] hands a leg's read body: the leg's scratch root and
    * its running query. `out` is the memory sink's frame (memory-sink
    * legs only; a foreachBatch leg reads what its function wrote under
    * `root`).
    */
  final case class Leg(root: String, query: StreamingQuery) {
    def out: DataFrame = query.sparkSession.table(query.name)
  }

  /** Run one streamed leg end to end — the battery's only start/drain/
    * stop.
    *
    * Makes the leg's scratch root ([[graft.Fs.withScratch]], tag `tag`)
    * and hands it to `stream`, which writes whatever input the leg
    * streams from its own files and returns the streaming frame; it runs
    * OUTSIDE the state-parts scope, so batch writes in it keep the
    * session's partitioning. The query then starts in `outputMode` on a
    * memory sink, or on `foreachBatch` (given the root) when set, with its
    * checkpoint at `<root>/chk` — under [[withStateParts]]`(n)` for
    * `stateParts = Some(n)`, unscoped for `None` (a foreachBatch body
    * that runs batch plans would capture `n` as their parallelism).
    * `processAllAvailable` drains it and `read` gets the [[Leg]] inside
    * the same scope. In `finally` the query stops, the memory view is
    * dropped and the root is deleted: nothing `read` returns may still
    * read files under the root (collect it, or checkpoint it eagerly).
    */
  def drain[T](s: SparkSession, tag: String, outputMode: String,
      stateParts: Option[Int] = Some(HarnessStateParts),
      foreachBatch: Option[String => (DataFrame, Long) => Unit] = None)(
      stream: String => DataFrame)(read: Leg => T): T =
    graft.Fs.withScratch(s, tag) { root =>
      val df = stream(root)
      val name = s"${tag}_${System.nanoTime()}"
      def run(): T = {
        val w = df.writeStream.queryName(name).outputMode(outputMode)
          .option("checkpointLocation", s"$root/chk")
        val q = foreachBatch.fold(w.format("memory"))(
          f => w.foreachBatch(f(root))).start()
        try { q.processAllAvailable(); read(Leg(root, q)) }
        finally { q.stop(); s.catalog.dropTempView(name) }
      }
      stateParts.fold(run())(n => withStateParts(s, n)(run()))
    }
}
