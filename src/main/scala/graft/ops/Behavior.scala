package graft.ops

import graft.CkptLocalOps
import graft.{QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Behavioral analytics over event streams (SURVEY §2.8 widened): weekly
  * cohort retention and the windowed conversion funnel — the two queries
  * every product-analytics engine (and the reference's querylog-style
  * event data) ultimately answers.
  *
  * All time arithmetic is integer microseconds (`epoch_us` twins on the
  * oracle side): day = floor-div by 86 400 000 000, week = day div 7 —
  * no calendar/session-time-zone surface anywhere, so results are
  * bit-identical across engines and partitionings.
  */
object Behavior extends QueryModule {

  private val UsPerDay = 86400000000L
  private val UsPerWeek = 7L * UsPerDay

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        expr("ts div 1000").as("ts_us"))

  // --- q116: weekly cohort retention ---------------------------------------
  // Cohort = week of the user's FIRST event of any type; "retained at
  // offset k" = made a purchase during cohort_week + k. Two aggregates
  // on user_id (the per-user min and the distinct active weeks) share
  // one shuffle key, the cohort⋈activity join is again user_id-keyed,
  // and the final counts/sizes tables are cohort-cardinality — tiny, so
  // the sizes side is broadcast. At 100 TB nothing here materializes
  // more than (users) and (users × active weeks) rows, both linear
  // passes with map-side partial aggregation.
  private def q116(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
      .withColumn("day", expr(s"ts_us div $UsPerDay"))
    // persisted: cohort feeds BOTH the activity join and the sizes
    // aggregate — uncached, each branch would re-run the full events
    // scan + user_id shuffle (the battery harness clearCache()s per
    // entry, so the block is released before the next query)
    val cohort = e.groupBy("user_id")
      .agg(expr("min(day) div 7").as("cohort_week"))
      .persist()
    val active = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("day div 7").as("week"))
      .distinct()
    val counts = active.join(cohort, "user_id")
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      // (user, week) is distinct by construction, so the count is the
      // distinct-user count without a second dedup
      .agg(count(lit(1)).as("n_active"))
    val sizes = cohort.groupBy("cohort_week")
      .agg(count(lit(1)).as("n_cohort"))
    counts.join(broadcast(sizes), "cohort_week")
      .select(col("cohort_week"), col("week_offset"), col("n_active"),
        col("n_cohort"),
        expr("(n_active * 1000) div n_cohort").as("per_mille"))
  }

  private val q116Sql =
    """WITH e AS (
      |  SELECT user_id, event_type,
      |    epoch_us(ts) // 86400000000 AS day
      |  FROM events
      |), cohort AS (
      |  SELECT user_id, MIN(day) // 7 AS cohort_week FROM e GROUP BY user_id
      |), active AS (
      |  SELECT DISTINCT user_id, day // 7 AS week
      |  FROM e WHERE event_type = 'purchase'
      |), counts AS (
      |  SELECT c.cohort_week, a.week - c.cohort_week AS week_offset,
      |    COUNT(*) AS n_active
      |  FROM active a JOIN cohort c USING (user_id) GROUP BY 1, 2
      |), sizes AS (
      |  SELECT cohort_week, COUNT(*) AS n_cohort FROM cohort GROUP BY 1
      |)
      |SELECT c.cohort_week, c.week_offset, c.n_active, s.n_cohort,
      |  (c.n_active * 1000) // s.n_cohort AS per_mille
      |FROM counts c JOIN sizes s USING (cohort_week)""".stripMargin

  // --- q117: windowed conversion funnel ------------------------------------
  // view → click → purchase, each step strictly after the previous AND
  // within 24 h of it — the ClickHouse `windowFunnel` contract, built
  // from per-user sequential min-aggregates: t1 = first view; t2 = first
  // click in (t1, t1+24 h]; t3 = first purchase in (t2, t2+24 h].
  // Output per first-view cohort week: users reaching each stage plus
  // exact total/max end-to-end conversion time in microseconds.
  //
  // Scale shape: the step dependency is inherently sequential (t2 needs
  // t1), so the plan is a chain of user_id-keyed aggregate→join stages —
  // every shuffle is on the SAME key, the step tables shrink
  // monotonically (each stage filters its predecessor), and no stage
  // ever holds more than one row per user. This composition is how a
  // funnel stays expressible to Catalyst (predicate pushdown reaches
  // the event-type filters in the scan) instead of a per-user
  // collect-and-replay UDF.
  private val FunnelWindowUs = 24L * 3600L * 1000000L

  /** First `stepType` event strictly after `prev.tPrev` and within
    * `windowUs` of it, as (`user_id`, `tCol`): one filtered join +
    * min-aggregate per funnel stage.
    */
  private def nextStep(e: DataFrame, prev: DataFrame, prevCol: String,
      stepType: String, tCol: String, windowUs: Long): DataFrame =
    e.filter(col("event_type") === stepType)
      .join(prev.select(col("user_id"), col(prevCol)), "user_id")
      .filter(col("ts_us") > col(prevCol) &&
        col("ts_us") <= col(prevCol) + windowUs)
      .groupBy("user_id")
      .agg(min(col("ts_us")).as(tCol))

  private def q117(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val s1 = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts_us")).as("t1"))
    val s2 = nextStep(e, s1, "t1", "click", "t2", FunnelWindowUs)
    val s3 = nextStep(e, s2, "t2", "purchase", "t3", FunnelWindowUs)
    s1.join(s2, Seq("user_id"), "left")
      .join(s3, Seq("user_id"), "left")
      .groupBy(expr(s"t1 div $UsPerWeek").as("cohort_week"))
      .agg(
        count(col("t1")).as("n_view"),
        count(col("t2")).as("n_click"),
        count(col("t3")).as("n_purchase"),
        sum(col("t3") - col("t1")).as("sum_convert_us"),
        max(col("t3") - col("t1")).as("max_convert_us"))
  }

  private val q117Sql =
    s"""WITH e AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
       |), s1 AS (
       |  SELECT user_id, MIN(ts_us) AS t1
       |  FROM e WHERE event_type = 'view' GROUP BY user_id
       |), s2 AS (
       |  SELECT e.user_id, MIN(e.ts_us) AS t2
       |  FROM e JOIN s1 ON e.user_id = s1.user_id
       |  WHERE e.event_type = 'click'
       |    AND e.ts_us > s1.t1 AND e.ts_us <= s1.t1 + $FunnelWindowUs
       |  GROUP BY e.user_id
       |), s3 AS (
       |  SELECT e.user_id, MIN(e.ts_us) AS t3
       |  FROM e JOIN s2 ON e.user_id = s2.user_id
       |  WHERE e.event_type = 'purchase'
       |    AND e.ts_us > s2.t2 AND e.ts_us <= s2.t2 + $FunnelWindowUs
       |  GROUP BY e.user_id
       |)
       |SELECT s1.t1 // 604800000000 AS cohort_week,
       |  COUNT(s1.t1) AS n_view, COUNT(s2.t2) AS n_click,
       |  COUNT(s3.t3) AS n_purchase,
       |  CAST(SUM(s3.t3 - s1.t1) AS BIGINT) AS sum_convert_us,
       |  MAX(s3.t3 - s1.t1) AS max_convert_us
       |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
       |GROUP BY 1""".stripMargin

  // --- q138: Markov transition matrix over event sequences -----------------
  // For each (prev event type → next event type) pair across all per-user
  // event sequences: the transition count and its per-mille probability
  // among all transitions leaving prev — the first-order Markov model
  // behind next-action prediction and anomaly scoring on clickstreams.
  //
  // Scale shape: one window (lag) partitioned by user_id — each user's
  // sequence sorts locally within its hash partition, no global sort —
  // then a (prev, next)-keyed count whose cardinality is |types|², tiny.
  // The per-prev denominator joins back from a |types|-row broadcast.
  // The order is pinned by (ts_us, event_id) — the battery-wide total-
  // order tiebreak — and the probability is integer per-mille (floor
  // div), so results are bit-identical across engines and partitionings.
  /** First-order Markov transition matrix over per-key ordered
    * sequences: one row per observed (prev_state → next_state) pair
    * with its count, the total transitions leaving prev_state, and the
    * integer per-mille probability. `orderCols` must be a TOTAL order
    * within each key (ties would make the sequence — and therefore the
    * matrix — partition-dependent). One key-partitioned lag window
    * (local sort per hash partition), then a |states|²-keyed count; the
    * tiny matrix is persisted so the denominator branch re-aggregates
    * it rather than re-running the scan+window (|states|² rows — the
    * one documented exception to the lazy-localCheckpoint convention).
    * NULL states are dropped up front and the sequence SPLICES across
    * them (A, null, B yields A→B): no null-keyed matrix row ever
    * appears, and rows-per-key minus one equals the key's transition
    * count after the drop. Callers who want null to BREAK sequences
    * should pre-map it to a sentinel state instead.
    */
  def transitionMatrix(df: DataFrame, keyCol: String, stateCol: String,
      orderCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // project first: the window shuffles only the columns it needs, and
    // the internal prev_state/next_state names cannot collide with
    // caller columns
    val base = df
      .select((keyCol +: stateCol +: orderCols).distinct.map(col): _*)
      .filter(col(stateCol).isNotNull)
    val seq = base
      .withColumn("prev_state", lag(col(stateCol), 1).over(
        Window.partitionBy(keyCol).orderBy(orderCols.map(col): _*)))
      .filter(col("prev_state").isNotNull)
    val trans = seq.groupBy(col("prev_state"),
        col(stateCol).as("next_state"))
      .agg(count(lit(1)).as("n_trans"))
      .persist()
    val outTotals = trans.groupBy("prev_state")
      .agg(sum(col("n_trans")).as("n_out"))
    trans.join(broadcast(outTotals), "prev_state")
      .select(col("prev_state"), col("next_state"), col("n_trans"),
        col("n_out"),
        expr("(n_trans * 1000) div n_out").as("per_mille"))
  }

  private def q138(s: SparkSession, dir: String): DataFrame =
    transitionMatrix(
      Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("event_id"),
          expr("ts div 1000").as("ts_us")),
      keyCol = "user_id", stateCol = "event_type",
      orderCols = Seq("ts_us", "event_id"))
      .withColumnRenamed("prev_state", "prev_type")
      .withColumnRenamed("next_state", "next_type")

  private val q138Sql =
    """WITH seq AS (
      |  SELECT event_type,
      |    LAG(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS prev_type
      |  FROM events
      |), trans AS (
      |  SELECT prev_type, event_type AS next_type, COUNT(*) AS n_trans
      |  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
      |), tot AS (
      |  SELECT prev_type, CAST(SUM(n_trans) AS BIGINT) AS n_out
      |  FROM trans GROUP BY 1
      |)
      |SELECT t.prev_type, t.next_type, t.n_trans, o.n_out,
      |  (t.n_trans * 1000) // o.n_out AS per_mille
      |FROM trans t JOIN tot o USING (prev_type)""".stripMargin

  // --- q141: time-weighted value averages ----------------------------------
  // Per event type: the time-weighted average of `value` over each
  // user's timeline — every consecutive event pair contributes the
  // STARTING event's value weighted by the interval it was "in effect"
  // (step-function integral / Σdt, the monitoring-metrics semantics
  // where a gauge holds its reading until the next sample).
  //
  // Exact integers end-to-end: value is floored to cents once (q115's
  // v100 contract), intervals are integer MILLIseconds (µs div 10³ —
  // v100·dt_ms ≤ 10⁴·10⁸ = 10¹² per pair keeps Σ far inside int64 up to
  // ~10⁶ pairs/type at the battery's day-scale spans; beyond that the
  // sum column moves to DECIMAL), and the final average is one floor
  // div. Scale shape: one user-partitioned lead window (local sort per
  // hash partition), then a |types|-row aggregate.
  private def q141(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("ts div 1000").as("ts_us"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("v100"))
      .withColumn("next_us", lead(col("ts_us"), 1).over(w))
      .filter(col("next_us").isNotNull)
      .withColumn("dt_ms", expr("(next_us - ts_us) div 1000"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_intervals"),
        sum(col("dt_ms")).as("total_ms"),
        sum(expr("v100 * dt_ms")).as("vdt"),
        expr("sum(v100 * dt_ms) div sum(dt_ms)").as("twa_cents"))
  }

  private val q141Sql =
    """WITH seq AS (
      |  SELECT event_type,
      |    CAST(floor(value * 100) AS BIGINT) AS v100,
      |    epoch_us(ts) AS ts_us,
      |    LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS next_us
      |  FROM events
      |), iv AS (
      |  SELECT event_type, v100, (next_us - ts_us) // 1000 AS dt_ms
      |  FROM seq WHERE next_us IS NOT NULL
      |)
      |SELECT event_type, COUNT(*) AS n_intervals,
      |  CAST(SUM(dt_ms) AS BIGINT) AS total_ms,
      |  CAST(SUM(v100 * dt_ms) AS BIGINT) AS vdt,
      |  CAST(SUM(v100 * dt_ms) // SUM(dt_ms) AS BIGINT) AS twa_cents
      |FROM iv GROUP BY event_type""".stripMargin

  // --- q142: top event paths (order-2 sequence mining) ---------------------
  // The 10 most common 3-step event-type paths across user timelines —
  // the "what do users actually do" path-analysis complement to q138's
  // first-order transitions (a 3-gram is the order-2 context q138
  // cannot see). Two stacked lags in ONE window pass (same partition
  // and sort ⇒ one Exchange + one local sort), a |types|³-bounded
  // count, then a global top-10 with the (count DESC, path ASC)
  // total-order tiebreak — the sort input is category-cardinality,
  // never data-sized.
  private def q142(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("ts div 1000").as("ts_us"))
      .withColumn("t1", lag(col("event_type"), 2).over(w))
      .withColumn("t2", lag(col("event_type"), 1).over(w))
      .filter(col("t1").isNotNull)
      .select(concat_ws(">", col("t1"), col("t2"), col("event_type"))
        .as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path").asc)
      .limit(10)
  }

  private val q142Sql =
    """WITH seq AS (
      |  SELECT event_type,
      |    LAG(event_type, 2) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS t1,
      |    LAG(event_type, 1) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS t2
      |  FROM events
      |)
      |SELECT t1 || '>' || t2 || '>' || event_type AS path,
      |  COUNT(*) AS n
      |FROM seq WHERE t1 IS NOT NULL
      |GROUP BY 1 ORDER BY n DESC, path ASC LIMIT 10""".stripMargin

  // --- q143: STREAMING transition-matrix monitor ---------------------------
  // The incremental side of q138: a complete-mode streaming aggregate
  // accumulates each user's TIMELINE (the sorted (ts, id, type) event
  // log) in keyed state as files arrive — the streaming-sessionization
  // store pattern — and at drain the transition matrix is derived from
  // the stream-built state with the SAME (ts, event_id) total order and
  // compared count-for-count against oracle-checked q138 (transitive
  // parity, fail-loud via ParityGate).
  //
  // Order robustness is the point of timeline-in-state: transitions
  // cannot be folded incrementally under out-of-order file arrival
  // (a late event splices INTO a user's sequence, retroactively
  // rewriting two transitions), so the state carries the per-user log
  // and the matrix is a view over it.
  //
  // State is BOUNDED: the log lives in
  // [[graft.functions.BoundedTimelineAgg]] — each user's FIRST `CapK`
  // events by (ts, id, type), an O(CapK) buffer per key forever, not
  // `collect_list`'s grow-with-history state (a 10M-event power user
  // would otherwise hold a 10M-struct buffer in the store). The
  // documented semantics at deployment scale: the matrix covers each
  // user's first CapK events; the complementary eviction knob is a
  // session watermark (close a sequence when its gap exceeds the
  // horizon). Truncation is fail-loud, not silent — a paired count(*)
  // exposes `size(timeline) < n_events`, and this entry REQUIRES zero
  // truncation because its contract is exact count-for-count parity
  // with batch q138 over full timelines (the fixture's max/user is ~99,
  // two orders under the cap). Runs on the RocksDB store like the rest
  // of the streaming battery.
  private def q143(s: SparkSession, dir: String): DataFrame = {
    val CapK = 4096
    val capTimeline = udaf(new graft.functions.BoundedTimelineAgg(CapK),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[(Long, Long, String)]())
    val fromStream = graft.streaming.StreamConf.drain(s, "q143", "complete")(
      _ => Tables.stream(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000").as("ts_us"),
          col("event_id"), col("event_type"))
        .groupBy("user_id")
        .agg(
          capTimeline(col("ts_us"), col("event_id"), col("event_type"))
            .as("tl"),
          count(lit(1)).as("n_events"))) { leg =>
      val truncated = leg.out.filter(expr("size(tl) < n_events")).count()
      require(truncated == 0L,
        s"q143: $truncated user timelines exceeded the $CapK-event " +
          "cap — count-for-count parity with batch q138 requires the " +
          "fixture inside the cap")
      leg.out
        .select(expr(
          """transform(tl, t -> named_struct(
            |  'ts_us', t._1, 'event_id', t._2, 'event_type', t._3))"""
            .stripMargin).as("timeline"))
        .select(explode(expr(
          """arrays_zip(slice(timeline, 1, size(timeline) - 1),
            |           slice(timeline, 2, size(timeline) - 1))"""
            .stripMargin)).as("pair"))
        .groupBy(
          col("pair.0.event_type").as("prev_type"),
          col("pair.1.event_type").as("next_type"))
        .agg(count(lit(1)).as("n_trans"))
        .collect()
    }
    val batch = q138(s, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    import s.implicits._
    graft.ParityGate(
      fromStream.toSeq.map { r =>
        val k = (r.getString(0), r.getString(1))
        (k._1, k._2, r.getLong(2),
          batch.get(k).contains(r.getLong(2)) &&
            batch.size == fromStream.length)
      }.toDF("prev_type", "next_type", "n_trans", "matches_batch"),
      "q143_stream_transitions", "matches_batch")
  }

  // Round-14 conversion (StreamSweep.oracleSql's scheme): the bit
  // asserts the stream-built timelines reproduce q138's transition
  // counts; the oracle replays q138's trans CTE with the bit pinned.
  private val q143Sql =
    """WITH seq AS (
      |  SELECT event_type,
      |    LAG(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS prev_type
      |  FROM events
      |)
      |SELECT prev_type, event_type AS next_type, COUNT(*) AS n_trans,
      |  TRUE AS matches_batch
      |FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2""".stripMargin

  // --- q144: exact sliding-window distinct counts (rolling actives) --------
  // Distinct active users per rolling 7-day window, daily cadence — the
  // WAU curve. DISTINCT does not compose over overlapping windows (a
  // user active on two days of one window must count once), so the
  // standard exact decomposition: collapse to distinct (user, day)
  // FIRST (one map-side-combinable aggregate — the big shuffle shrinks
  // to active-pairs), then explode each pair into the ≤7 windows it
  // contributes to (bounded fan-out = window span), dedup (user,
  // window), count. Windows clipped to those fully inside the data span
  // so every reported count covers a complete 7 days. At 100 TB the
  // ±2% relaxation is per-window HLL merge (q38); this is the exact
  // path.
  /** Exact distinct `entityCol` count per sliding window of `span`
    * consecutive `bucketCol` values (daily cadence when buckets are
    * days). Distinct does not compose over overlapping windows, so:
    * distinct (entity, bucket) collapse first, bounded explode into the
    * ≤span covering windows, (entity, window) dedup, count. Only
    * complete windows (fully inside the data's bucket span) are
    * reported, and an EMPTY complete window produces no row (join
    * against your expected window ends and coalesce to 0 if a dense
    * curve is needed). The distinct collapse materializes once as a
    * lazy localCheckpoint (freed when the result is unreferenced —
    * repeated library calls do not accumulate cache entries; see
    * Dedup.minHashLshPairs for the lineage-truncation trade).
    */
  def slidingDistinct(df: DataFrame, entityCol: String, bucketCol: String,
      span: Int = 7): DataFrame = {
    require(span >= 1, "window span must be >= 1")
    val ud = df
      .select(col(entityCol).as("entity"), col(bucketCol).as("bucket"))
      .distinct()
      .ckptLocal(false)
    val bounds = broadcast(ud.agg(
      min(col("bucket")).as("d0"), max(col("bucket")).as("d1")))
    ud.crossJoin(bounds)
      .select(col("entity"), col("d0"), col("d1"),
        explode(expr(s"sequence(bucket, bucket + ${span - 1})"))
          .as("win_end"))
      // complete windows only: [win_end-(span-1), win_end] within [d0, d1]
      .filter(col("win_end") - (span - 1) >= col("d0") &&
        col("win_end") <= col("d1"))
      .select(col("entity"), col("win_end")).distinct()
      .groupBy("win_end")
      .agg(count(lit(1)).as("n_distinct"))
  }

  private def q144(s: SparkSession, dir: String): DataFrame =
    slidingDistinct(
      events(s, dir)
        .select(col("user_id"), expr(s"ts_us div $UsPerDay").as("day")),
      entityCol = "user_id", bucketCol = "day")
      .withColumnRenamed("n_distinct", "n_active_7d")

  private val q144Sql =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      |  FROM events
      |), span AS (
      |  SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ud
      |), uw AS (
      |  SELECT DISTINCT user_id, day + o AS win_end
      |  FROM ud CROSS JOIN span
      |  CROSS JOIN (SELECT unnest(range(0, 7)) AS o)
      |  WHERE day + o - 6 >= d0 AND day + o <= d1
      |)
      |SELECT win_end, COUNT(*) AS n_active_7d
      |FROM uw GROUP BY win_end""".stripMargin

  // --- q191: behavioral sequence alignment ----------------------------------
  // "Which users behave alike" by EDIT DISTANCE over their event-type
  // sequences — order-sensitive where q138's transition matrix and q144's
  // distinct counts are not (v,c,p vs p,c,v have identical histograms
  // but distance 2). Each user's timeline renders as a string of
  // event-type initials ((ts, event_id)-ordered, capped at the first 128
  // events — levenshtein is O(len²) per pair, so the cap bounds the
  // per-pair cost at any scale), the anchor set is the 20 smallest-hash
  // users (q94/q148's deterministic rank primitive), and only
  // anchor×anchor pairs (a < b) align — 190 pairs via one broadcast
  // self-join, never users². Distance also normalized to milli by the
  // longer string (integer div). The oracle replays the identical
  // string build (string_agg ORDER BY) and DuckDB's levenshtein —
  // byte-identical inputs, same DP recurrence, exact integers out.
  //
  // The 128-cap is enforced BEFORE the collect, not after: a rank
  // filter (row_number ≤ 128 over (user ORDER BY ts, event_id, c) —
  // the same total order array_sort uses on the struct) compiles to
  // WindowGroupLimit, so map tasks pre-trim each user to ≤ 128 events
  // and the collect_list aggregation buffer is bounded at 128 structs.
  // Collect-then-truncate would materialize a power user's full 10M-
  // event timeline in ONE aggregation buffer before the substring cap
  // discarded it (Round14PlanSpec pins the WindowGroupLimit).
  // Pre-trim contract: keeping the first 128 EVENTS equals the oracle's
  // 128-CHAR substring cap only because each event contributes exactly
  // one char (`c` = substring(event_type, 1, 1)); an empty event_type
  // would contribute zero chars and the trimmed sequence would come up
  // short. The events fixture pins non-empty event_type values
  // (verified by r12 oracle hash parity); if the table ever admits
  // empties, trim on cumulative CHAR count instead of row_number.
  private def q191(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seqs = Tables.load(s, dir, "events")
      .select(col("user_id"), expr("ts div 1000").as("ts_us"),
        col("event_id"), expr("substring(event_type, 1, 1)").as("c"))
      .withColumn("rn", row_number().over(Window.partitionBy("user_id")
        .orderBy(col("ts_us"), col("event_id"), col("c"))))
      .filter(col("rn") <= 128)
      .drop("rn")
      .groupBy("user_id")
      .agg(expr(
        "substring(concat_ws('', transform(array_sort(" +
          "collect_list(struct(ts_us, event_id, c))), t -> t.c)), 1, 128)")
        .as("seq"))
    val anchors = seqs
      .withColumn("h", expr(graft.ops.Dialect.sparkHash60(
        "CAST(user_id AS STRING)")))
      .orderBy(col("h").asc, col("user_id").asc)
      .limit(20)
      .select(col("user_id"), col("seq"))
    val a = anchors.select(col("user_id").as("u1"), col("seq").as("s1"))
    val b = anchors.select(col("user_id").as("u2"), col("seq").as("s2"))
    a.join(broadcast(b), col("u1") < col("u2"))
      .select(col("u1"), col("u2"),
        expr("CAST(levenshtein(s1, s2) AS BIGINT)").as("dist"),
        expr("CAST(length(s1) AS BIGINT)").as("len1"),
        expr("CAST(length(s2) AS BIGINT)").as("len2"))
      .withColumn("dist_milli",
        expr("(1000 * dist) div greatest(len1, len2)"))
  }

  private val q191Sql = {
    val h = graft.ops.Dialect.duckHash60("CAST(user_id AS VARCHAR)")
    s"""WITH seqs AS (
       |  SELECT user_id,
       |    substr(string_agg(substr(event_type, 1, 1), ''
       |      ORDER BY epoch_us(ts) ASC, event_id ASC), 1, 128) AS seq
       |  FROM events GROUP BY user_id
       |), anchors AS (
       |  SELECT user_id, seq FROM seqs
       |  ORDER BY $h ASC, user_id ASC LIMIT 20
       |)
       |SELECT a.user_id AS u1, b.user_id AS u2,
       |  CAST(levenshtein(a.seq, b.seq) AS BIGINT) AS dist,
       |  CAST(length(a.seq) AS BIGINT) AS len1,
       |  CAST(length(b.seq) AS BIGINT) AS len2,
       |  (1000 * CAST(levenshtein(a.seq, b.seq) AS BIGINT))
       |    // greatest(length(a.seq), length(b.seq)) AS dist_milli
       |FROM anchors a JOIN anchors b ON a.user_id < b.user_id""".stripMargin
  }

  // --- q249: multi-touch conversion attribution ----------------------------
  // The marketing-analytics fold of the event stream: every `purchase`
  // is a conversion; the `click`/`view`/`signup` touches since the
  // user's PREVIOUS purchase form its path; three standard credit
  // models (first-touch, last-touch, linear) split 1000 credit-milli
  // per conversion across the path's channels, with touchless
  // conversions credited to `direct`. Credit is conserved by
  // construction — every model sums to exactly 1000 × conversions
  // (linear's floor-div remainder goes to the first touch), which the
  // spec pins.
  //
  // Scale shape: one per-user rank window + one per-user forward-frame
  // window (each user's sequence sorts locally in its hash partition —
  // no global sort), then all three models fold from a
  // (user, conversion)-grain frame whose width is the channel count.
  // Total order is pinned by (ts_us, event_id) battery-wide; the
  // first/last selections ride min_by/arg_min on the UNIQUE per-user
  // rank, so no float, no tie, no partition dependence anywhere.
  private def q249(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("ts div 1000").as("ts_us"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val seq = e
      .withColumn("rn", row_number().over(w))
      .withColumn("npr",
        min(when(col("event_type") === "purchase", col("rn")))
          .over(w.rowsBetween(Window.currentRow,
            Window.unboundedFollowing)))
      .ckptLocal(eager = false) // conversion + touch legs
    val conv = seq.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("rn").as("npr"))
    val touches = seq
      .filter(col("event_type") =!= "purchase" && col("npr").isNotNull)
    val paths = touches.groupBy("user_id", "npr").agg(
      count(lit(1)).as("k"),
      expr("min_by(event_type, rn)").as("first_type"),
      expr("max_by(event_type, rn)").as("last_type"))
    val byType = touches.groupBy("user_id", "npr", "event_type")
      .agg(count(lit(1)).as("ct"))
    val convPaths = conv.join(paths, Seq("user_id", "npr"), "left")
      .ckptLocal(eager = false) // three model legs
    val first = convPaths.select(lit("first_touch").as("model"),
      coalesce(col("first_type"), lit("direct")).as("channel"),
      lit(1000L).as("credit"))
    val last = convPaths.select(lit("last_touch").as("model"),
      coalesce(col("last_type"), lit("direct")).as("channel"),
      lit(1000L).as("credit"))
    val linTouched = byType
      .join(convPaths.filter(col("k").isNotNull),
        Seq("user_id", "npr"))
      .select(lit("linear").as("model"), col("event_type").as("channel"),
        (col("ct") * expr("1000 DIV k") +
          when(col("event_type") === col("first_type"),
            expr("1000 % k")).otherwise(0L)).as("credit"))
    val linDirect = convPaths.filter(col("k").isNull)
      .select(lit("linear").as("model"), lit("direct").as("channel"),
        lit(1000L).as("credit"))
    Seq(first, last, linTouched, linDirect).reduce(_ unionByName _)
      .groupBy("model", "channel")
      .agg(count(lit(1)).as("n_rows"), sum(col("credit"))
        .as("credit_milli"))
  }

  private val q249Sql =
    """WITH e AS (
      |  SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us
      |  FROM events
      |), seq0 AS (
      |  SELECT user_id, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts_us, event_id) AS rn
      |  FROM e
      |), seq AS (
      |  SELECT user_id, event_type, rn,
      |    MIN(CASE WHEN event_type = 'purchase' THEN rn END)
      |      OVER (PARTITION BY user_id ORDER BY rn
      |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS npr
      |  FROM seq0
      |), conv AS (
      |  SELECT user_id, rn AS npr FROM seq
      |  WHERE event_type = 'purchase'
      |), touches AS (
      |  SELECT * FROM seq
      |  WHERE event_type <> 'purchase' AND npr IS NOT NULL
      |), paths AS (
      |  SELECT user_id, npr, COUNT(*) AS k,
      |    arg_min(event_type, rn) AS first_type,
      |    arg_max(event_type, rn) AS last_type
      |  FROM touches GROUP BY 1, 2
      |), bytype AS (
      |  SELECT user_id, npr, event_type, COUNT(*) AS ct
      |  FROM touches GROUP BY 1, 2, 3
      |), cp AS (
      |  SELECT conv.user_id, conv.npr, k, first_type, last_type
      |  FROM conv LEFT JOIN paths
      |    ON conv.user_id = paths.user_id AND conv.npr = paths.npr
      |), credits AS (
      |  SELECT 'first_touch' AS model,
      |    COALESCE(first_type, 'direct') AS channel,
      |    CAST(1000 AS BIGINT) AS credit FROM cp
      |  UNION ALL
      |  SELECT 'last_touch', COALESCE(last_type, 'direct'),
      |    CAST(1000 AS BIGINT) FROM cp
      |  UNION ALL
      |  SELECT 'linear', b.event_type,
      |    CAST(b.ct * (1000 // c.k) + CASE WHEN b.event_type =
      |      c.first_type THEN 1000 % c.k ELSE 0 END AS BIGINT)
      |  FROM bytype b JOIN cp c
      |    ON b.user_id = c.user_id AND b.npr = c.npr
      |  WHERE c.k IS NOT NULL
      |  UNION ALL
      |  SELECT 'linear', 'direct', CAST(1000 AS BIGINT)
      |  FROM cp WHERE k IS NULL
      |)
      |SELECT model, channel, COUNT(*) AS n_rows,
      |  CAST(SUM(credit) AS BIGINT) AS credit_milli
      |FROM credits GROUP BY 1, 2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q249_attribution" -> q249 _,
    "q191_behavior_align" -> q191 _,
    "q116_cohort_retention" -> q116 _,
    "q117_funnel" -> q117 _,
    "q138_markov_transitions" -> q138 _,
    "q141_time_weighted" -> q141 _,
    "q142_event_paths" -> q142 _,
    "q143_stream_transitions" -> q143 _,
    "q144_sliding_distinct" -> q144 _)

  val oracleSql: Map[String, String] = Map(
    "q249_attribution" -> q249Sql,
    "q191_behavior_align" -> q191Sql,
    "q116_cohort_retention" -> q116Sql,
    "q117_funnel" -> q117Sql,
    "q138_markov_transitions" -> q138Sql,
    "q143_stream_transitions" -> q143Sql,
    "q141_time_weighted" -> q141Sql,
    "q142_event_paths" -> q142Sql,
    "q144_sliding_distinct" -> q144Sql)
}
