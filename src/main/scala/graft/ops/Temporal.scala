package graft.ops

import graft.CkptLocalOps
import graft.{QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join/windowing operators over the `events` stream (SURVEY
  * §2.8 joins row — the as-of / range-join shapes Spark has no native
  * operator for, composed scale-first from builtins):
  *
  *  - q34 as-of join: union-tag + partitioned `last(_, ignoreNulls)`
  *    running window — one shuffle on the join key, no point-lookup loop,
  *    no theta-join blowup. The standard Spark as-of pattern.
  *  - q35 range join: time-bucketed equi-join. A naive `a.ts BETWEEN
  *    b.ts AND b.ts + w` theta join degenerates to a per-key cross
  *    product; bucketing by the window width turns it into an equi-join
  *    on (key, bucket) with ≤ 2 candidate buckets per probe row — the
  *    classic distributed range-join rewrite.
  *  - q36 sessionization: gap > 300s starts a new session — lag +
  *    running sum of session-start flags per user, then a tiny histogram.
  *
  * Timestamps: events.ts is parquet TIMESTAMP(NANOS); Spark reads raw
  * nanos as long (`ts div 1000` → µs), DuckDB truncates to µs
  * (`epoch_us`) — both sides compute on identical integers.
  */
object Temporal extends QueryModule {

  // ======================= public operator API ============================

  /** As-of join — the operator Spark lacks natively, composed scale-first:
    * union-tag both sides and take a partitioned running
    * `last(_, ignoreNulls)` — ONE shuffle on the key, no point-lookup
    * loop, no theta-join blowup. For each `left` row: the value/id of the
    * latest `right` row of the same key at-or-before its instant
    * (right-before-left at equal instants; later right id wins among
    * simultaneous rights). Both inputs need (keyCol, tsCol, idCol);
    * `right` additionally valCol. Output = left rows + `asof_val`,
    * `asof_event` (NULL when no right row precedes).
    */
  def asOfJoin(left: DataFrame, right: DataFrame,
      keyCol: String = "user_id", tsCol: String = "ts_us",
      idCol: String = "event_id", valCol: String = "value"): DataFrame = {
    // Left keeps ALL its columns (the payload is the point of an as-of
    // join); right contributes only key/ts/id/val. unionByName with
    // allowMissingColumns null-fills the payload on the right side, and
    // the __-prefixed working columns are dropped from the output. The
    // null placeholders take the RIGHT side's actual id/value types (no
    // forced casts — a string id or decimal value column works as-is).
    val l = left
      .withColumn("__side", lit(1))
      .withColumn("__r_val", lit(null).cast(right.schema(valCol).dataType))
      .withColumn("__r_id", lit(null).cast(right.schema(idCol).dataType))
    val r = right.select(col(keyCol), col(tsCol), lit(0).as("__side"),
      col(idCol), col(valCol).as("__r_val"), col(idCol).as("__r_id"))
    val w = Window.partitionBy(keyCol)
      .orderBy(col(tsCol), col("__side"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r, allowMissingColumns = true)
      .withColumn("asof_val", last(col("__r_val"), ignoreNulls = true).over(w))
      .withColumn("asof_event",
        last(col("__r_id"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .drop("__side", "__r_val", "__r_id")
  }

  /** Bucketed range join: all pairs (a, b) of same-key rows with b's
    * instant in (a_ts, a_ts + windowUs] (ties on the instant ordered by
    * id). A naive BETWEEN theta join degenerates to a per-key cross
    * product; bucketing by the window width makes b's bucket one of a's
    * two exploded bucket keys — a pure equi-join on (key, bucket), even
    * distribution, each qualifying pair joined exactly once.
    */
  def rangeJoinPairs(ev: DataFrame, windowUs: Long = WindowUs,
      keyCol: String = "user_id", tsCol: String = "ts_us",
      idCol: String = "event_id"): DataFrame = {
    val a = ev.select(col(keyCol), col(tsCol).as("a_ts"),
      col(idCol).as("a_id"),
      explode(expr(s"array($tsCol div ${windowUs}L," +
        s" $tsCol div ${windowUs}L + 1)")).as("bucket"))
    val b = ev.select(col(keyCol), col(tsCol).as("b_ts"),
      col(idCol).as("b_id"),
      expr(s"$tsCol div ${windowUs}L").as("bucket"))
    a.join(b, Seq(keyCol, "bucket"))
      .filter(
        (col("b_ts") > col("a_ts") && col("b_ts") <= col("a_ts") + windowUs)
          || (col("b_ts") === col("a_ts") && col("b_id") > col("a_id")))
      // the bucket working column is join plumbing, not pair output
      .drop("bucket")
  }

  /** Gap sessionization: per-key (n_sessions, n_events) via lag +
    * cumulative session-start flags. A new session starts when the gap to
    * the previous event STRICTLY exceeds gapUs — the same
    * touching-sessions-merge semantics as Spark's `session_window`
    * (pinned by StreamSweepSpec's exact-gap boundary test).
    */
  def sessionCounts(ev: DataFrame, gapUs: Long = GapUs,
      keyCol: String = "user_id", tsCol: String = "ts_us",
      idCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(idCol))
    ev.withColumn("prev_ts", lag(col(tsCol), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col(tsCol) - col("prev_ts") > gapUs, 1L).otherwise(0L))
      .groupBy(keyCol)
      .agg(
        sum(col("new_session")).as("n_sessions"),
        count(lit(1)).as("n_events"))
  }

  /** LOCF gap fill (the time-series "rollforward"): per `keyCol`, build
    * the complete `bucketUs`-resolution time grid between that key's
    * first and last observation and carry the last observed `valCol`
    * forward across empty buckets. Output per (key, bucket): event count
    * (0 for gaps), the bucket's own last value (NULL for gaps), and the
    * forward-filled value. Last-in-bucket is deterministic: (ts, id)
    * DESC row_number, never a tie-arbitrary max_by. A row whose `valCol`
    * is NULL still counts in `n_events` and still WINS last-in-bucket if
    * latest — its bucket reports last_val NULL and the carry then skips
    * it (last ignoreNulls), i.e. an observed NULL never overwrites the
    * carried value.
    *
    * Scale shape: the per-bucket reduce collapses events to
    * key × active-bucket rows BEFORE the grid join; the grid explode is
    * bounded by each key's own active span (never the global span); the
    * fill window orders each key's grid — rows per key = its span in
    * buckets, not its event count.
    */
  def gapFill(ev: DataFrame, keyCol: String = "user_id",
      tsCol: String = "ts_us", valCol: String = "value",
      idCol: String = "event_id",
      bucketUs: Long = 86400000000L): DataFrame =
    gapFillMulti(ev, keyCol, tsCol, Seq(valCol -> "filled"), idCol, bucketUs)
      .withColumnRenamed(s"last_$valCol", "last_val")

  /** Multi-column [[gapFill]]: each `(valCol, outCol)` pair rolls
    * forward independently — a NULL observation in one column never
    * blocks another column's carry (real feature pipelines roll several
    * readings per key). Output per (key, bucket): `n_events`, then per
    * pair the bucket's own `last_<valCol>` and the forward-filled
    * `outCol`. All fills share ONE window spec (single sort, N
    * last-ignoreNulls projections — no extra shuffle per column).
    */
  def gapFillMulti(ev: DataFrame, keyCol: String, tsCol: String,
      valCols: Seq[(String, String)], idCol: String,
      bucketUs: Long): DataFrame = {
    require(valCols.nonEmpty, "gapFillMulti: at least one (valCol, outCol)")
    // one combined namespace: srcs, dsts, the generated last_<src>
    // columns, and the fixed output columns must all be distinct — a dst
    // named "last_<someSrc>" (or "bucket"/"n_events") would emit two
    // same-named columns and poison downstream name resolution
    val emitted = valCols.flatMap { case (src, dst) =>
      Seq(s"last_$src", dst) } ++ Seq(keyCol, "bucket", "n_events")
    require(emitted.distinct.size == emitted.size &&
      valCols.map(_._1).distinct.size == valCols.size,
      s"gapFillMulti: colliding value/output column names in $valCols " +
        s"(emitted namespace: ${emitted.sorted.mkString(", ")})")
    val inBucketW = Window.partitionBy(keyCol, "__gf_bucket")
      .orderBy(col(tsCol).desc, col(idCol).desc)
    val lastAggs = valCols.map { case (src, _) =>
      max(when(col("__gf_rn") === 1, col(src))).as(s"last_$src")
    }
    val daily = ev
      // FLOOR division, not `div`: div truncates toward zero, which makes
      // a pre-epoch timestamp land one bucket high (and bucket 0 span two
      // bucket-widths around the epoch). (ts - pmod(ts, b)) div b is exact
      // integer floor-div for any sign — identical to div (and to
      // DuckDB's integer `//`, which ALSO truncates: (-7)//2 = -3) for
      // ts >= 0; q99's oracle shows the explicit-floor form both engines
      // agree on when the dividend can be negative. tsCol is
      // backtick-quoted so columns with spaces/dots resolve as plain
      // identifiers.
      .withColumn("__gf_bucket",
        expr(s"CAST((`$tsCol` - pmod(`$tsCol`, ${bucketUs}L)) " +
          s"div ${bucketUs}L AS BIGINT)"))
      .withColumn("__gf_rn", row_number().over(inBucketW))
      .groupBy(keyCol, "__gf_bucket")
      .agg(count(lit(1)).as("n_events"), lastAggs: _*)
    val grid = daily.groupBy(keyCol)
      .agg(min(col("__gf_bucket")).as("__d0"),
        max(col("__gf_bucket")).as("__d1"))
      .select(col(keyCol),
        explode(expr("sequence(__d0, __d1)")).as("__gf_bucket"))
    val fillW = Window.partitionBy(keyCol).orderBy(col("__gf_bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // values pass through UNROUNDED — display/oracle rounding is the
    // caller's concern (q92 rounds in its battery wrapper)
    grid.join(daily, Seq(keyCol, "__gf_bucket"), "left")
      .select(Seq(col(keyCol), col("__gf_bucket").as("bucket"),
        coalesce(col("n_events"), lit(0L)).as("n_events")) ++
        valCols.flatMap { case (src, dst) => Seq(
          col(s"last_$src"),
          last(col(s"last_$src"), ignoreNulls = true).over(fillW)
            .as(dst))
        }: _*)
  }

  // ===================== battery entries (driver gate) ====================

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .select(col("event_id"), expr("ts div 1000").as("ts_us"),
        col("user_id"), col("event_type"), col("value"))

  // --- q34: as-of join -----------------------------------------------------
  // Left stream = even event_ids, right stream = odd. For each left event,
  // the value of the latest right event of the same user at-or-before its
  // instant. Tiebreaks: right-before-left at equal instants (side 0 < 1),
  // later right event_id wins among simultaneous rights.
  private def q34(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    asOfJoin(
      ev.filter(col("event_id") % 2 === 0),
      ev.filter(col("event_id") % 2 === 1))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_left"),
        count(col("asof_event")).as("n_matched"),
        sum(col("asof_val").cast("decimal(18,2)")).cast("double")
          .as("sum_asof_val"),
        max(col("asof_event")).as("last_matched_event"))
  }

  private val q34Sql =
    """WITH ev AS (
      |  SELECT event_id, epoch_us(ts) AS ts_us, user_id, value FROM events
      |), tagged AS (
      |  SELECT user_id, ts_us, 1 AS side, event_id,
      |         CAST(NULL AS DOUBLE) AS r_val,
      |         CAST(NULL AS BIGINT) AS r_event_id
      |  FROM ev WHERE event_id % 2 = 0
      |  UNION ALL
      |  SELECT user_id, ts_us, 0, event_id, value, event_id
      |  FROM ev WHERE event_id % 2 = 1
      |), joined AS (
      |  SELECT *,
      |    LAST_VALUE(r_val IGNORE NULLS) OVER w AS asof_val,
      |    LAST_VALUE(r_event_id IGNORE NULLS) OVER w AS asof_event
      |  FROM tagged
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, side, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |)
      |SELECT user_id, COUNT(*) AS n_left,
      |  COUNT(asof_event) AS n_matched,
      |  CAST(SUM(CAST(asof_val AS DECIMAL(18,2))) AS DOUBLE) AS sum_asof_val,
      |  MAX(asof_event) AS last_matched_event
      |FROM joined WHERE side = 1 GROUP BY user_id""".stripMargin

  // --- q35: bucketed range join -------------------------------------------
  // Pairs (a, b) of same-user events with b within (0, 60s] after a (ties
  // on the instant ordered by event_id). Buckets of the window width make
  // b's bucket ∈ {a.bucket, a.bucket + 1}: explode the probe side to two
  // bucket keys → pure equi-join, even key distribution, no theta join.
  private val WindowUs = 60000000L // 60s

  private def q35(s: SparkSession, dir: String): DataFrame =
    rangeJoinPairs(events(s, dir))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"))

  private val q35Sql =
    s"""WITH ev AS (
       |  SELECT event_id, epoch_us(ts) AS ts_us, user_id FROM events
       |)
       |SELECT a.user_id, COUNT(*) AS n_pairs
       |FROM ev a JOIN ev b ON a.user_id = b.user_id
       |  AND ((b.ts_us > a.ts_us AND b.ts_us <= a.ts_us + $WindowUs)
       |       OR (b.ts_us = a.ts_us AND b.event_id > a.event_id))
       |GROUP BY a.user_id""".stripMargin

  // --- q36: sessionization --------------------------------------------------
  private val GapUs = 300000000L // 5 min

  private def q36(s: SparkSession, dir: String): DataFrame =
    sessionCounts(events(s, dir))
      .groupBy(col("n_sessions"))
      .agg(
        count(lit(1)).as("n_users"),
        sum(col("n_events")).as("n_events"),
        expr("round(CAST(sum(n_events) AS DOUBLE) / sum(n_sessions), 4)")
          .as("avg_events_per_session"))

  private val q36Sql =
    s"""WITH ev AS (
       |  SELECT event_id, epoch_us(ts) AS ts_us, user_id FROM events
       |), flagged AS (
       |  SELECT user_id,
       |    CASE WHEN LAG(ts_us, 1) OVER w IS NULL
       |           OR ts_us - LAG(ts_us, 1) OVER w > $GapUs
       |         THEN 1 ELSE 0 END AS new_session
       |  FROM ev
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
       |), per_user AS (
       |  SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions,
       |         COUNT(*) AS n_events
       |  FROM flagged GROUP BY user_id
       |)
       |SELECT n_sessions, COUNT(*) AS n_users,
       |  CAST(SUM(n_events) AS BIGINT) AS n_events,
       |  round(CAST(SUM(n_events) AS DOUBLE) / SUM(n_sessions), 4)
       |    AS avg_events_per_session
       |FROM per_user GROUP BY n_sessions""".stripMargin

  // --- q82: SLIDING event-time windows (batch) ----------------------------
  // The overlapping-window complement of q75's tumbling windows: 1-hour
  // windows sliding every 15 minutes, so each event lands in exactly 4
  // windows. Spark's `window(ts, "1 hour", "15 minutes")` expands each
  // row to its windows BEFORE the aggregation — a 4× map-side fan-out of
  // (window, type) keyed partial aggregates, then one shuffle on the
  // window keys: at 100 TB the fan-out multiplies only the PARTIAL
  // aggregate rows (bounded by windows × types per partition), never the
  // event payload. The oracle reproduces the window assignment
  // arithmetically: starts = (floor(ts/slide) - k) * slide for k = 0..3
  // (epoch-aligned, window/slide = 4), which is exactly Spark's
  // windowing — making sliding windows oracle-hash-checkable even though
  // DuckDB has no window-assign function.
  private def q82(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .withColumn("event_ts", expr("timestamp_micros(ts div 1000)"))
      .groupBy(window(col("event_ts"), "1 hour", "15 minutes").as("w"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(expr("CAST(floor(value * 1000) AS BIGINT)")).as("sum_v"))
      .select(col("w.start").as("w_start"), col("event_type"),
        col("n_events"), col("sum_v"))

  private val q82Sql =
    """WITH e AS (
      |  SELECT epoch_us(ts) AS us, event_type,
      |    CAST(floor(value * 1000) AS BIGINT) AS v
      |  FROM events
      |), x AS (
      |  SELECT make_timestamp(((us // 900000000) - k) * 900000000)
      |           AS w_start,
      |         event_type, v
      |  FROM e, unnest(generate_series(0, 3)) AS t(k)
      |)
      |SELECT w_start, event_type, COUNT(*) AS n_events,
      |  CAST(SUM(v) AS BIGINT) AS sum_v
      |FROM x GROUP BY w_start, event_type""".stripMargin

  // --- q83: keyed table diff (anti-entropy data validation) ---------------
  // The validation operator a 100 TB pipeline runs after every
  // backfill/migration: full-outer join two snapshots on the key and
  // classify every key as match / mismatch / left_only / right_only.
  // Column comparison uses null-safe equality on the TYPED values (never
  // a stringified row hash — double→string formatting differs across
  // engines and would poison the oracle). One key-equi shuffle join; with
  // both snapshots bucketed by key it degenerates to a map-side zip.
  // The "staging" side is derived deterministically from orders so the
  // entry is self-contained: keys ≡ 0 mod 199 dropped, values at keys
  // ≡ 0 mod 97 perturbed.
  /** PUBLIC operator: keyed table diff. Full-outer joins two snapshots
    * on `keyCol` and classifies every key as match / mismatch /
    * left_only / right_only, comparing `compareCols` with typed null-safe
    * equality (never a stringified row hash — double formatting differs
    * across engines). Output: one row per key with `status` and the
    * coalesced key. One key-equi shuffle; bucketed snapshots make it a
    * map-side zip.
    */
  def tableDiff(left: DataFrame, right: DataFrame, keyCol: String,
      compareCols: Seq[String]): DataFrame = {
    // Presence markers, not key-nullness, drive the classification: a
    // NULL key on one side would otherwise read as "absent" and the row
    // would be mislabeled. The join itself is null-safe (<=>), so
    // NULL-keyed rows pair up instead of always diffing (one-per-side
    // expected; multiple NULL keys per side cross-join among themselves,
    // as any keyed diff must).
    val l2 = left.withColumn("__l_present", lit(true))
    val r2 = right.select(
      (keyCol +: compareCols).map(c => col(c).as(c + "__r")): _*)
      .withColumn("__r_present", lit(true))
    val same = compareCols.map(c => col(c) <=> col(c + "__r")).reduce(_ && _)
    l2.join(r2, col(keyCol) <=> col(keyCol + "__r"), "full_outer")
      .select(
        when(col("__l_present").isNull, "right_only")
          .when(col("__r_present").isNull, "left_only")
          .when(same, "match")
          .otherwise("mismatch").as("status"),
        coalesce(col(keyCol), col(keyCol + "__r")).as(keyCol))
  }

  private def q83(s: SparkSession, dir: String): DataFrame = {
    val prod = Tables.load(s, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
        col("o_totalprice").as("price"))
    val staging = prod
      .filter(col("k") % 199 =!= 0)
      .select(col("k"), col("st"),
        when(col("k") % 97 === 0, col("price") + 1.0)
          .otherwise(col("price")).as("price"))
    tableDiff(prod, staging, "k", Seq("st", "price"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_keys"))
  }

  // Pinned to the operator's exact semantics: NULL-SAFE key join
  // (IS NOT DISTINCT FROM, matching tableDiff's <=>) and presence-marker
  // classification (p/p2, matching __l_present/__r_present) — key-nullness
  // tests would misclassify a null-safely-matched NULL key as right_only.
  private val q83Sql =
    """WITH prod AS (
      |  SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS price,
      |    1 AS p
      |  FROM orders
      |), staging AS (
      |  SELECT k AS k2, st AS st2,
      |    CASE WHEN k % 97 = 0 THEN price + 1.0 ELSE price END AS price2,
      |    1 AS p2
      |  FROM prod WHERE k % 199 <> 0
      |)
      |SELECT CASE WHEN p IS NULL THEN 'right_only'
      |            WHEN p2 IS NULL THEN 'left_only'
      |            WHEN st IS NOT DISTINCT FROM st2
      |                 AND price IS NOT DISTINCT FROM price2 THEN 'match'
      |            ELSE 'mismatch' END AS status,
      |  COUNT(*) AS n_keys
      |FROM prod FULL OUTER JOIN staging ON k IS NOT DISTINCT FROM k2
      |GROUP BY 1""".stripMargin

  /** Order-independent grouped content checksum — tableDiff's cheap
    * cousin for migration/anti-entropy validation at scale: XOR-fold a
    * 60-bit row fingerprint per group. Equal row multisets ⇒ equal
    * (checksum, n_rows); one scan, map-side partial XOR, group keys only
    * on the shuffle — the first-pass check before paying for a full
    * tableDiff. XOR caveat (why n_rows rides along): a row duplicated an
    * EVEN number of times cancels out of the XOR; the count catches any
    * cardinality change.
    *
    * `rowKeySql` is the caller's canonical row rendering (cast doubles to
    * fixed-scale DECIMAL and timestamps to epoch integers — raw
    * double/timestamp → string formatting is NOT portable across
    * engines).
    */
  def tableChecksum(df: DataFrame, rowKeySql: String,
      groupCols: Seq[String]): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_rows"),
        expr(s"bit_xor(${Dialect.sparkHash60(rowKeySql)})").as("checksum"))

  // --- q93: grouped table checksum over orders ------------------------------
  // Full-row fingerprint: integer keys, status (NULL-sentineled), price as
  // fixed-scale DECIMAL text, order date as epoch micros — every piece
  // renders identically on both engines, so the XOR checksum is a real
  // cross-engine content check, not a formatting accident.
  // NTZ → TIMESTAMP under the session's pinned UTC zone = DuckDB's
  // naive-as-UTC epoch_us; unix_micros rejects NTZ directly.
  private val ordersRowKeySpark =
    "concat_ws('|', CAST(o_orderkey AS STRING), " +
      "CAST(o_custkey AS STRING), coalesce(o_orderstatus, '<N>'), " +
      "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS STRING), " +
      "CAST(unix_micros(CAST(o_orderdate AS TIMESTAMP)) AS STRING))"

  private def q93(s: SparkSession, dir: String): DataFrame =
    tableChecksum(Tables.load(s, dir, "orders"),
      rowKeySql = ordersRowKeySpark,
      groupCols = Seq("o_orderpriority"))

  // --- q96: STREAMING table checksum under the gate -------------------------
  // Continuous validation: the same grouped XOR fingerprint computed by
  // Structured Streaming from a real file source in complete mode (XOR is
  // associative-commutative, so the unordered micro-batch fold is exact),
  // parity-checked per group against the batch operator whose own result
  // is oracle-hash-checked (q93) — the transitive scheme of q74. At scale
  // this is the anti-entropy monitor a landing zone runs: each arriving
  // file folds into per-group checksums without re-scanning history.
  private def q96(s: SparkSession, dir: String): DataFrame = {
    // tableChecksum itself builds the streaming aggregation: groupBy/agg
    // is streaming-capable in complete mode, so the stream computes the
    // IDENTICAL agg body as the batch operator — one drift surface, not two.
    // State = one row per group (5 order priorities) — minimal state parts.
    val fromStream = graft.streaming.StreamConf.drain(s, "q96", "complete")(
      _ => tableChecksum(Tables.stream(s, dir, "orders"),
        rowKeySql = ordersRowKeySpark,
        groupCols = Seq("o_orderpriority")))(_.out.collect())
    // group keys NULL-sentineled on BOTH sides (same treatment the row
    // fingerprint gives o_orderstatus): a NULL group must compare as a
    // real key, not collapse onto Scala null map semantics
    def gkey(r: org.apache.spark.sql.Row): String =
      Option(r.getString(0)).getOrElse("<NULL>")
    val batch = q93(s, dir).collect()
      .map(r => gkey(r) -> (r.getLong(1), r.getLong(2))).toMap
    import s.implicits._
    graft.ParityGate(
      fromStream.toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          batch.get(gkey(r)).contains((r.getLong(1), r.getLong(2)))
            && batch.size == fromStream.length))
        .toDF("o_orderpriority", "n_rows", "checksum", "matches_batch"),
      "q96_stream_checksum", "matches_batch")
  }

  private val ordersRowKeyDuck =
    "concat_ws('|', CAST(o_orderkey AS VARCHAR), " +
      "CAST(o_custkey AS VARCHAR), coalesce(o_orderstatus, '<N>'), " +
      "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), " +
      "CAST(epoch_us(o_orderdate) AS VARCHAR))"

  private val q93Sql =
    s"""SELECT o_orderpriority, COUNT(*) AS n_rows,
       |  bit_xor(${Dialect.duckHash60(ordersRowKeyDuck)}) AS checksum
       |FROM orders GROUP BY o_orderpriority""".stripMargin

  // Round-14 conversion (StreamSweep.oracleSql's scheme): q96's bit
  // asserts stream checksums ≡ batch q93; the oracle replays q93's
  // fingerprint with the bit pinned TRUE.
  private val q96Sql =
    s"""SELECT o_orderpriority, COUNT(*) AS n_rows,
       |  bit_xor(${Dialect.duckHash60(ordersRowKeyDuck)}) AS checksum,
       |  TRUE AS matches_batch
       |FROM orders GROUP BY o_orderpriority""".stripMargin

  // --- q92: LOCF gap fill (daily rollforward) ------------------------------
  // The public gapFill operator on the events stream at day resolution:
  // every user's daily last reading carried across the days they were
  // silent — the materialized view a monitoring/feature pipeline reads.
  private def q92(s: SparkSession, dir: String): DataFrame =
    gapFill(events(s, dir))
      .select(col("user_id"), col("bucket"), col("n_events"),
        round(col("last_val"), 6).as("last_val"),
        round(col("filled"), 6).as("filled"))

  private val q92Sql =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, value FROM events
      |), daily AS (
      |  SELECT user_id, day, COUNT(*) AS n_events,
      |    MAX(CASE WHEN rn = 1 THEN value END) AS last_val
      |  FROM (SELECT user_id, ts_us // 86400000000 AS day, value,
      |          ROW_NUMBER() OVER (
      |            PARTITION BY user_id, ts_us // 86400000000
      |            ORDER BY ts_us DESC, event_id DESC) AS rn
      |        FROM ev)
      |  GROUP BY user_id, day
      |), grid AS (
      |  SELECT user_id, unnest(generate_series(mn, mx)) AS day
      |  FROM (SELECT user_id, MIN(day) AS mn, MAX(day) AS mx
      |        FROM daily GROUP BY user_id)
      |)
      |SELECT g.user_id, g.day AS bucket,
      |  CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
      |  round(last_val, 6) AS last_val,
      |  round(LAST_VALUE(last_val IGNORE NULLS) OVER (
      |    PARTITION BY g.user_id ORDER BY g.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS filled
      |FROM grid g LEFT JOIN daily d
      |  ON g.user_id = d.user_id AND g.day = d.day""".stripMargin

  // --- q157: linear-interpolation resample ---------------------------------
  // The other half of gap fill: where q92 carries the LAST value across
  // silent days (LOCF — right for states), this draws the straight line
  // between the surrounding observations (right for continuously-varying
  // gauges). Per user, daily grid over the observed span; each silent
  // day gets ⌊(pv·(nd−d) + nv·(d−pd)) / (nd−pd)⌋ from the previous/next
  // observed (day, value) — all integer centi-units, positive operands,
  // so truncating and flooring division agree and the oracle replays the
  // exact value. An observed day has pd = nd = d (the bracketing windows
  // INCLUDE the current row), caught by the nd = pd guard → the observed
  // value itself. Scale shape: per-(user, day) last-reading reduce, then
  // the grid explode bounded by each user's own span; all four
  // bracketing windows share one (user_id) partitioning and one day
  // sort — single Exchange + Sort for the interpolation stage.
  private def q157(s: SparkSession, dir: String): DataFrame = {
    val byDay = Window.partitionBy("user_id", "day")
      .orderBy(col("ts_us").desc, col("event_id").desc)
    val daily = events(s, dir)
      .withColumn("day", expr("ts_us div 86400000000"))
      .withColumn("v100", expr("CAST(floor(value * 100) AS BIGINT)"))
      .withColumn("rn", row_number().over(byDay))
      .filter(col("rn") === 1)
      .select("user_id", "day", "v100")
    val grid = daily.groupBy("user_id")
      .agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      .select(col("user_id"), explode(expr("sequence(mn, mx)")).as("day"))
    val w = Window.partitionBy("user_id").orderBy(col("day").asc)
    val before = w.rowsBetween(Window.unboundedPreceding, 0)
    val after = w.rowsBetween(0, Window.unboundedFollowing)
    grid.join(daily, Seq("user_id", "day"), "left")
      .withColumn("pv", last(col("v100"), ignoreNulls = true).over(before))
      .withColumn("pd", last(when(col("v100").isNotNull, col("day")),
        ignoreNulls = true).over(before))
      .withColumn("nv", first(col("v100"), ignoreNulls = true).over(after))
      .withColumn("nd", first(when(col("v100").isNotNull, col("day")),
        ignoreNulls = true).over(after))
      .select(col("user_id"), col("day"),
        when(col("nd") === col("pd"), col("pv"))
          .otherwise(expr(
            "(pv * (nd - day) + nv * (day - pd)) div (nd - pd)"))
          .as("v_interp"),
        when(col("v100").isNotNull, 1L).otherwise(0L).as("observed"))
  }

  private val q157Sql =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
      |    CAST(FLOOR(value * 100) AS BIGINT) AS v100
      |  FROM events
      |), daily AS (
      |  SELECT user_id, day, v100
      |  FROM (SELECT user_id, ts_us // 86400000000 AS day, v100,
      |          ROW_NUMBER() OVER (
      |            PARTITION BY user_id, ts_us // 86400000000
      |            ORDER BY ts_us DESC, event_id DESC) AS rn
      |        FROM ev)
      |  WHERE rn = 1
      |), grid AS (
      |  SELECT user_id, unnest(generate_series(mn, mx)) AS day
      |  FROM (SELECT user_id, MIN(day) AS mn, MAX(day) AS mx
      |        FROM daily GROUP BY user_id)
      |), br AS (
      |  SELECT g.user_id, g.day, d.v100,
      |    LAST_VALUE(d.v100 IGNORE NULLS) OVER (PARTITION BY g.user_id
      |      ORDER BY g.day ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
      |    LAST_VALUE(CASE WHEN d.v100 IS NOT NULL THEN g.day END
      |      IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.day ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
      |    FIRST_VALUE(d.v100 IGNORE NULLS) OVER (PARTITION BY g.user_id
      |      ORDER BY g.day ASC
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
      |    FIRST_VALUE(CASE WHEN d.v100 IS NOT NULL THEN g.day END
      |      IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.day ASC
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      |  FROM grid g LEFT JOIN daily d
      |    ON g.user_id = d.user_id AND g.day = d.day
      |)
      |SELECT user_id, day,
      |  CASE WHEN nd = pd THEN pv
      |       ELSE (pv * (nd - day) + nv * (day - pd)) // (nd - pd)
      |  END AS v_interp,
      |  CASE WHEN v100 IS NOT NULL THEN 1 ELSE 0 END::BIGINT AS observed
      |FROM br""".stripMargin

  // --- q100: multi-column gap fill under the oracle ------------------------
  // gapFillMulti with a numeric AND a categorical column rolling forward
  // together: `v` (value with deterministic NULL injections — every 13th
  // event reports no reading) and `event_type` (the "last known state").
  // The NULL injections make per-column independence oracle-visible: a
  // bucket whose latest reading is NULL carries v from an earlier bucket
  // while state still advances from the same row.
  private def q100(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).withColumn("v",
      when(col("event_id") % 13 === 0, lit(null).cast("double"))
        .otherwise(col("value")))
    gapFillMulti(ev, keyCol = "user_id", tsCol = "ts_us",
      valCols = Seq("v" -> "v_filled", "event_type" -> "state_filled"),
      idCol = "event_id", bucketUs = 86400000000L)
      .select(col("user_id"), col("bucket"), col("n_events"),
        round(col("last_v"), 6).as("last_v"),
        round(col("v_filled"), 6).as("v_filled"),
        col("last_event_type"), col("state_filled"))
  }

  private val q100Sql =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
      |    CASE WHEN event_id % 13 = 0 THEN NULL ELSE value END AS v
      |  FROM events
      |), daily AS (
      |  SELECT user_id, day, COUNT(*) AS n_events,
      |    MAX(CASE WHEN rn = 1 THEN v END) AS last_v,
      |    MAX(CASE WHEN rn = 1 THEN event_type END) AS last_event_type
      |  FROM (SELECT user_id, ts_us // 86400000000 AS day, v, event_type,
      |          ROW_NUMBER() OVER (
      |            PARTITION BY user_id, ts_us // 86400000000
      |            ORDER BY ts_us DESC, event_id DESC) AS rn
      |        FROM ev)
      |  GROUP BY user_id, day
      |), grid AS (
      |  SELECT user_id, unnest(generate_series(mn, mx)) AS day
      |  FROM (SELECT user_id, MIN(day) AS mn, MAX(day) AS mx
      |        FROM daily GROUP BY user_id)
      |)
      |SELECT g.user_id, g.day AS bucket,
      |  CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
      |  round(last_v, 6) AS last_v,
      |  round(LAST_VALUE(last_v IGNORE NULLS) OVER w, 6) AS v_filled,
      |  last_event_type,
      |  LAST_VALUE(last_event_type IGNORE NULLS) OVER w AS state_filled
      |FROM grid g LEFT JOIN daily d
      |  ON g.user_id = d.user_id AND g.day = d.day
      |WINDOW w AS (PARTITION BY g.user_id ORDER BY g.day
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""
      .stripMargin

  // --- q113: interval union (overlap merge) --------------------------------
  // The coverage primitive: each event opens an interval
  // [ts, ts + value·60 s); per user, overlapping/adjacent intervals merge
  // into islands and the operator reports island count, exact covered
  // time (union length, double-counting removed), and the longest
  // island — the sweep a session-coverage or SLA-availability pipeline
  // runs. Classic running-max island detection: a row opens a new island
  // iff its start exceeds the max end among all EARLIER rows (window
  // running max over the start order, frame ...,-1), island id = running
  // sum of the open flags. All integer microsecond arithmetic; the only
  // shuffle is the per-user partition, and both windows plus the island
  // aggregate share that one partitioning.
  private def q113(s: SparkSession, dir: String): DataFrame = {
    val byStart = Window.partitionBy("user_id")
      .orderBy(col("s_us").asc, col("e_us").asc, col("event_id").asc)
    val iv = events(s, dir).select(
      col("user_id"), col("event_id"), col("ts_us").as("s_us"),
      (col("ts_us") + expr("CAST(floor(value * 60000000.0) AS BIGINT)"))
        .as("e_us"))
    val islands = iv
      .withColumn("prev_max_e",
        max(col("e_us")).over(
          byStart.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("opens",
        when(col("prev_max_e").isNull ||
          col("s_us") > col("prev_max_e"), 1L).otherwise(0L))
      .withColumn("island",
        sum(col("opens")).over(
          byStart.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "island")
      .agg(count(lit(1)).as("n_events"),
        min(col("s_us")).as("i_start"),
        max(col("e_us")).as("i_end"))
    islands.groupBy("user_id")
      .agg(
        sum(col("n_events")).as("n_events"),
        count(lit(1)).as("n_islands"),
        sum(col("i_end") - col("i_start")).as("covered_us"),
        max(col("i_end") - col("i_start")).as("max_island_us"))
  }

  // --- q152: rolling exact median ------------------------------------------
  // Per-user rolling LOWER median of the last 5 event values — the
  // robust smoother a metrics/monitoring pipeline runs where a rolling
  // mean would chase outliers. Spark has no median window function;
  // the exact formulation is collect_list over a ROWS frame (bounded:
  // ≤ 5 elements live per row, so state is O(frame), never O(partition))
  // + array_sort + the rank-(n+1)/2 element. Rank-based lower median,
  // not interpolated — an ACTUAL data value, identical integers on both
  // engines (q109's convention). All three windows (list, row_number)
  // share one (user_id) partitioning and one (ts_us, event_id) sort →
  // single Exchange + single Sort. The per-user digest rides on the
  // same key: checksum terms are mod-reduced below 2^20 so 1e12-row
  // sums stay far from int64 overflow.
  private def q152(s: SparkSession, dir: String): DataFrame = {
    val order = Window.partitionBy("user_id")
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val frame = order.rowsBetween(-4, 0)
    events(s, dir)
      .withColumn("v100", expr("CAST(floor(value * 100) AS BIGINT)"))
      .withColumn("rn", row_number().over(order).cast("long"))
      .withColumn("win", collect_list(col("v100")).over(frame))
      .withColumn("med", expr(
        "element_at(array_sort(win), CAST((size(win) + 1) div 2 AS INT))"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        min(col("med")).as("med_min"),
        max(col("med")).as("med_max"),
        sum(expr("((med % 1000003) * (rn % 1000003)) % 1000003"))
          .as("med_checksum"))
  }

  private val q152Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |    CAST(FLOOR(value * 100) AS BIGINT) AS v100
      |  FROM events
      |), m AS (
      |  SELECT user_id,
      |    CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
      |    list_sort(list(v100) OVER (PARTITION BY user_id
      |      ORDER BY ts_us ASC, event_id ASC
      |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS sl
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC)
      |), med AS (
      |  SELECT user_id, rn, sl[(len(sl) + 1) // 2] AS med FROM m
      |)
      |SELECT user_id, COUNT(*) AS n_events,
      |  MIN(med) AS med_min, MAX(med) AS med_max,
      |  CAST(SUM(((med % 1000003) * (rn % 1000003)) % 1000003) AS BIGINT)
      |    AS med_checksum
      |FROM med GROUP BY user_id""".stripMargin

  // ======================= SCD Type-2 / CDC merge ==========================

  /** Apply an at-least-once CDC change log as a Type-2 slowly-changing
    * dimension: latest-wins dedup of replayed deliveries per
    * (key, valid_from), then closed validity intervals via `lead`.
    *
    * The log carries (key, valid_from, ingest_seq, payload...); replays
    * of the same (key, valid_from) are resolved to the HIGHEST ingest_seq
    * (the downstream copy of an upstream correction). Output = one row
    * per surviving version with `[valid_from, valid_to)` and
    * `is_current`; the open interval's end is pinned to `Long.MaxValue`
    * rather than NULL so sinks/oracles need no null-ordering contract.
    *
    * Scale shape: ONE shuffle, on `key`. Both windows (the replay-dedup
    * lag and the valid_to lead) partition by `key` alone, and the dedup
    * window's (valid_from ASC, ingest_seq DESC) sort order has the lead
    * window's (valid_from ASC) as a prefix, so Catalyst plans a single
    * Exchange + a single Sort feeding both Window operators — the replay
    * dedup costs no extra pass. Dedup is the lag-flag formulation (keep
    * the first row of each valid_from run) rather than a row_number over
    * (key, valid_from), which would hash-partition on the pair and force
    * a SECOND shuffle for the lead.
    */
  def scd2Merge(log: DataFrame, keyCol: String = "key",
      validFromCol: String = "valid_from_us",
      seqCol: String = "ingest_seq"): DataFrame = {
    val byKey = Window.partitionBy(keyCol)
      .orderBy(col(validFromCol).asc, col(seqCol).desc)
    val byFrom = Window.partitionBy(keyCol).orderBy(col(validFromCol).asc)
    log
      .withColumn("__prev_from", lag(col(validFromCol), 1).over(byKey))
      .filter(col("__prev_from").isNull ||
        col("__prev_from") =!= col(validFromCol))
      .withColumn("version_seq", row_number().over(byFrom).cast("long"))
      .withColumn("valid_to_us",
        coalesce(lead(col(validFromCol), 1).over(byFrom),
          lit(Long.MaxValue)))
      .withColumn("is_current", col("valid_to_us") === Long.MaxValue)
      .drop("__prev_from", seqCol)
  }

  // --- q149: SCD2 dimension build from a CDC change log --------------------
  // The training-data/warehouse step between "raw change capture" and
  // "point-in-time joinable dimension". The change log is synthesized
  // deterministically from orders so the DuckDB oracle can replay it
  // exactly: each order emits 1–3 versions (o_orderkey mod 3, one per
  // simulated day), and every 5th key REPLAYS its first version with a
  // corrected price and a higher ingest_seq — the at-least-once delivery
  // the merge must collapse. All arithmetic is integer µs / integer
  // cents; the status cycle is an array index. One shuffle end-to-end
  // (see scd2Merge); the version fan-out is a per-row generator, no join.
  private def q149(s: SparkSession, dir: String): DataFrame = {
    val versions = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"),
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP_LTZ))").as("od_us"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("base_cents"))
      .withColumn("v",
        explode(expr("sequence(0, CAST(o_orderkey % 3 AS INT))")))
      .withColumn("ingest_seq", (col("v") * 2).cast("long"))
    // the replayed delivery: version 0 again, ingest_seq between v0 and
    // v1, price corrected by +1000 cents — latest-wins must keep THIS row
    val replays = versions
      .filter(col("v") === 0 && col("o_orderkey") % 5 === 0)
      .withColumn("ingest_seq", lit(1L))
      .withColumn("base_cents", col("base_cents") + 1000L)
    val log = versions.unionAll(replays).select(
      col("o_orderkey").as("key"),
      (col("od_us") + col("v") * 86400000000L).as("valid_from_us"),
      expr("element_at(array('O','P','F'), " +
        "CAST((o_orderkey + v) % 3 AS INT) + 1)").as("status"),
      (col("base_cents") + col("v") * 7L).as("price_cents"),
      col("ingest_seq"))
    scd2Merge(log)
      .select(col("key"), col("version_seq"), col("status"),
        col("price_cents"), col("valid_from_us"), col("valid_to_us"),
        col("is_current"))
  }

  private val q149Sql =
    """WITH versions AS (
      |  SELECT o_orderkey,
      |    epoch_us(o_orderdate) AS od_us,
      |    CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS base_cents,
      |    CAST(v AS INTEGER) AS v,
      |    CAST(v * 2 AS BIGINT) AS ingest_seq
      |  FROM orders, unnest(generate_series(0, o_orderkey % 3)) AS t(v)
      |), replays AS (
      |  SELECT o_orderkey, od_us, base_cents + 1000 AS base_cents, v,
      |    CAST(1 AS BIGINT) AS ingest_seq
      |  FROM versions WHERE v = 0 AND o_orderkey % 5 = 0
      |), log AS (
      |  SELECT o_orderkey AS key,
      |    od_us + v * 86400000000 AS valid_from_us,
      |    (['O','P','F'])[CAST((o_orderkey + v) % 3 AS INTEGER) + 1]
      |      AS status,
      |    base_cents + v * 7 AS price_cents,
      |    ingest_seq
      |  FROM (SELECT * FROM versions UNION ALL SELECT * FROM replays)
      |), deduped AS (
      |  SELECT * FROM (
      |    SELECT *, LAG(valid_from_us, 1) OVER (PARTITION BY key
      |        ORDER BY valid_from_us ASC, ingest_seq DESC) AS prev_from
      |    FROM log)
      |  WHERE prev_from IS NULL OR prev_from <> valid_from_us
      |)
      |SELECT key,
      |  CAST(ROW_NUMBER() OVER w AS BIGINT) AS version_seq,
      |  status, price_cents, valid_from_us,
      |  COALESCE(LEAD(valid_from_us, 1) OVER w, 9223372036854775807)
      |    AS valid_to_us,
      |  COALESCE(LEAD(valid_from_us, 1) OVER w, 9223372036854775807)
      |    = 9223372036854775807 AS is_current
      |FROM deduped
      |WINDOW w AS (PARTITION BY key ORDER BY valid_from_us ASC)"""
      .stripMargin

  private val q113Sql =
    """WITH iv AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS s_us,
      |    epoch_us(ts) + CAST(FLOOR(value * 60000000.0) AS BIGINT) AS e_us
      |  FROM events
      |), flagged AS (
      |  SELECT *,
      |    CASE WHEN prev_max_e IS NULL OR s_us > prev_max_e
      |         THEN 1 ELSE 0 END AS opens
      |  FROM (SELECT *,
      |          MAX(e_us) OVER (PARTITION BY user_id
      |            ORDER BY s_us ASC, e_us ASC, event_id ASC
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |            AS prev_max_e
      |        FROM iv)
      |), isl AS (
      |  SELECT user_id, island, COUNT(*) AS n_events,
      |    MIN(s_us) AS i_start, MAX(e_us) AS i_end
      |  FROM (SELECT *,
      |          CAST(SUM(opens) OVER (PARTITION BY user_id
      |            ORDER BY s_us ASC, e_us ASC, event_id ASC
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |            AS BIGINT) AS island
      |        FROM flagged)
      |  GROUP BY user_id, island
      |)
      |SELECT user_id,
      |  CAST(SUM(n_events) AS BIGINT) AS n_events,
      |  COUNT(*) AS n_islands,
      |  CAST(SUM(i_end - i_start) AS BIGINT) AS covered_us,
      |  MAX(i_end - i_start) AS max_island_us
      |FROM isl GROUP BY user_id""".stripMargin

  // --- q158: OHLC time bars ------------------------------------------------
  // Downsampling a tick stream to open/high/low/close bars — the standard
  // time-series compaction for gauge/price data, and the missing sibling
  // of q141's time-weighted averages. One groupBy per (series, bar):
  // open/close ride a single min/max over a (ts, id, value) struct —
  // lexicographic struct ordering makes "value at the earliest/latest
  // instant" an ordinary partial-aggregable min/max (unique (ts_us,
  // event_id) pins determinism; the value field can never tiebreak), so
  // the whole bar reduces map-side and the only shuffle moves one row per
  // (event_type, day). No window, no per-series collect — the shape a
  // 100 TB tick table needs. (Struct-typed agg buffers are not
  // hash-aggregable, so Spark picks SortAggregate: still partial+final
  // around ONE Exchange, with a per-partition grouping sort instead of a
  // hash table — Round13PlanSpec pins the single-shuffle shape.) Values
  // in integer centi-units; the oracle replays with DuckDB's
  // ordered-aggregate FIRST/LAST.
  def ohlcBars(ticks: DataFrame, seriesCol: String, tsCol: String,
      idCol: String, valCol: String): DataFrame =
    ticks
      .withColumn("__bar", expr(s"$tsCol div 86400000000"))
      .groupBy(col(seriesCol), col("__bar").as("day"))
      .agg(
        min(struct(col(tsCol), col(idCol), col(valCol)))
          .getField(valCol).as("open_v"),
        max(col(valCol)).as("high_v"),
        min(col(valCol)).as("low_v"),
        max(struct(col(tsCol), col(idCol), col(valCol)))
          .getField(valCol).as("close_v"),
        count(lit(1)).as("n_ticks"),
        sum(col(valCol)).as("vol_sum"))

  private def q158(s: SparkSession, dir: String): DataFrame =
    ohlcBars(
      events(s, dir).withColumn("v100",
        expr("CAST(floor(value * 100) AS BIGINT)")),
      "event_type", "ts_us", "event_id", "v100")

  private val q158Sql =
    """WITH ev AS (
      |  SELECT event_type, epoch_us(ts) AS ts_us, event_id,
      |    CAST(FLOOR(value * 100) AS BIGINT) AS v100
      |  FROM events
      |)
      |SELECT event_type, ts_us // 86400000000 AS day,
      |  FIRST(v100 ORDER BY ts_us, event_id) AS open_v,
      |  MAX(v100) AS high_v, MIN(v100) AS low_v,
      |  LAST(v100 ORDER BY ts_us, event_id) AS close_v,
      |  COUNT(*) AS n_ticks,
      |  CAST(SUM(v100) AS BIGINT) AS vol_sum
      |FROM ev GROUP BY 1, 2""".stripMargin

  // --- q170: Merkle-bucket table diff (anti-entropy reconciliation) --------
  // Where q83 diffs row-by-row and q93 checksums whole groups, this is
  // the two-level hash-tree reconciliation replicas actually run: leaf
  // buckets (orderkey div 256) carry an XOR row-hash + count, parents
  // (leaf div 16) XOR their leaves, and the diff DESCENDS — compare the
  // parent frames first, then open only the leaves under dirty parents
  // (left_semi on the dirty-parent set, broadcast: it is O(corruption),
  // not O(table)). At 100 TB across two clusters, that order is the
  // point: the parent exchange is table_size/4096 hashes, and leaf
  // hashes ship only for subtrees that actually disagree. XOR makes
  // every level's hash order-independent and partition-parallel (one
  // map-side-combining aggregate per level per side). The "remote"
  // replica is a deterministic mutation of orders (every 997th key +1
  // cent, every 1009th dropped); the oracle replays leaf level
  // directly — pruning changes the plan, never the answer. Count rides
  // next to the hash so a dropped-then-readded row colliding to the
  // same XOR still flags.
  /** Two-level Merkle-bucket diff between two versions of a keyed table:
    * returns the dirty LEAF buckets (leaf id, per-side row counts and XOR
    * row-hashes; 0 / −1 sentinels for a side missing the leaf entirely).
    * `keyCol` is an integer bucketing key, `rowKeySql` a SQL expression
    * rendering the full row content to hash (every column that counts).
    * The comparison descends: parents (leafSize·fanout keys per node)
    * compare first and only leaves under dirty parents are opened — the
    * leaf exchange is O(corruption), not O(table), which is the point of
    * a hash tree across replicas at 100 TB. XOR keeps every level's hash
    * order-independent and each level is one map-side-combining
    * aggregate; counts ride beside the hashes so an XOR collision from a
    * drop+readd pair still flags, and the parent level hashes the
    * (leaf, count, hash) NODE triples — so content moving between
    * sibling leaves (which cancels in a raw row-XOR) still dirties the
    * parent. Pruning changes the plan, never the answer.
    */
  def merkleBucketDiff(v1: DataFrame, v2: DataFrame, keyCol: String,
      rowKeySql: String, leafSize: Int = 256, fanout: Int = 16)
      : DataFrame = {
    def leaves(df: DataFrame): DataFrame =
      df.withColumn("leaf", expr(s"$keyCol div $leafSize"))
        .groupBy("leaf")
        .agg(count(lit(1)).as("n"),
          expr("bit_xor(" + Dialect.sparkHash60(rowKeySql) + ")").as("h"))
    val l1 = leaves(v1).select(col("leaf"), col("n").as("n1"),
      col("h").as("h1"))
    val l2 = leaves(v2).select(col("leaf"), col("n").as("n2"),
      col("h").as("h2"))
    // Parent hash binds each LEAF NODE (id, count, hash) — not the raw
    // row XOR. A bare XOR-of-rows parent is blind to content MOVING
    // between sibling leaves (row hash cancels: ph ⊕ h ⊕ h) and to a
    // matched delete+add across siblings (count sum unchanged) — the
    // parent would look clean while both leaves differ, and the semi
    // join would prune a real divergence. Hashing the (leaf, n, h)
    // triple makes any leaf-level change flip its parent.
    def parents(l: DataFrame, n: String, h: String): DataFrame =
      l.groupBy(expr(s"leaf div $fanout").as("p"))
        .agg(expr("bit_xor(" + Dialect.sparkHash60(
          s"concat_ws(':', CAST(leaf AS STRING), CAST($n AS STRING), " +
            s"CAST($h AS STRING))") + ")").as("ph"))
    val dirtyParents = parents(l1, "n1", "h1")
      .join(parents(l2, "n2", "h2")
          .select(col("p"), col("ph").as("ph2")),
        Seq("p"), "full_outer")
      .filter(expr("coalesce(ph, -2) != coalesce(ph2, -2)"))
      .select("p")
    l1.join(l2, Seq("leaf"), "full_outer")
      .join(broadcast(dirtyParents),
        expr(s"leaf div $fanout") === col("p"), "left_semi")
      .filter(expr("coalesce(n1, -1) != coalesce(n2, -1) " +
        "OR coalesce(h1, -2) != coalesce(h2, -2)"))
      .select(col("leaf"),
        expr("coalesce(n1, 0L)").as("n1"),
        expr("coalesce(n2, 0L)").as("n2"),
        expr("coalesce(h1, -1L)").as("h1"),
        expr("coalesce(h2, -1L)").as("h2"))
  }

  private def q170(s: SparkSession, dir: String): DataFrame = {
    val v1 = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
    val v2 = v1.filter(expr("o_orderkey % 1009 != 0"))
      .withColumn("cents",
        expr("cents + IF(o_orderkey % 997 = 0, 1L, 0L)"))
    merkleBucketDiff(v1, v2, "o_orderkey",
      "concat_ws('|', CAST(o_orderkey AS STRING), CAST(cents AS STRING))")
  }

  private[ops] val q170Sql = {
    val key = "concat_ws('|', CAST(o_orderkey AS VARCHAR), " +
      "CAST(cents AS VARCHAR))"
    s"""WITH v1 AS (
       |  SELECT o_orderkey,
       |    CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
       |  FROM orders
       |), v2 AS (
       |  SELECT o_orderkey,
       |    cents + CASE WHEN o_orderkey % 997 = 0 THEN 1 ELSE 0 END AS cents
       |  FROM v1 WHERE o_orderkey % 1009 != 0
       |), l1 AS (
       |  SELECT o_orderkey // 256 AS leaf, COUNT(*) AS n1,
       |    bit_xor(${Dialect.duckHash60(key)}) AS h1
       |  FROM v1 GROUP BY 1
       |), l2 AS (
       |  SELECT o_orderkey // 256 AS leaf, COUNT(*) AS n2,
       |    bit_xor(${Dialect.duckHash60(key)}) AS h2
       |  FROM v2 GROUP BY 1
       |)
       |SELECT COALESCE(l1.leaf, l2.leaf) AS leaf,
       |  CAST(COALESCE(n1, 0) AS BIGINT) AS n1,
       |  CAST(COALESCE(n2, 0) AS BIGINT) AS n2,
       |  COALESCE(h1, -1) AS h1, COALESCE(h2, -1) AS h2
       |FROM l1 FULL OUTER JOIN l2 ON l1.leaf = l2.leaf
       |WHERE COALESCE(n1, -1) != COALESCE(n2, -1)
       |   OR COALESCE(h1, -2) != COALESCE(h2, -2)""".stripMargin
  }

  // --- q172: CUSUM changepoint detection -----------------------------------
  // Drift monitoring on the daily per-type totals: the one-sided CUSUM
  // s_i = max(0, s_{i-1} + (x_i − μ)) flags sustained upward shifts. The
  // clamped recurrence looks inherently sequential, but the identity
  // s_i = c_i − min(0, min_{j≤i} c_j) (c = running sum of deviations)
  // turns it into TWO associative running windows — cumulative sum and
  // running min — sharing one (type, day) sort: fully distributed, no
  // sequential fold, the same trick as q113's island detection. Exact
  // integers throughout: deviations are scaled by n (n·x_i − S avoids
  // the rational mean), so cusum_scaled = n·s_i; the alarm fires when
  // the accumulated deviation exceeds one average day's mass
  // (n·s_i > S ⟺ s_i > μ). n·x fits int64 to ~9e18/max-daily-total
  // days per series — per-series day counts are calendar-bounded.
  private def q172(s: SparkSession, dir: String): DataFrame = {
    val wAll = Window.partitionBy("event_type")
    val wOrd = Window.partitionBy("event_type").orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, dir)
      .withColumn("day", expr("ts_us div 86400000000"))
      .withColumn("v100", expr("CAST(floor(value * 100) AS BIGINT)"))
      .groupBy("event_type", "day")
      .agg(sum(col("v100")).as("x"))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("st", sum(col("x")).over(wAll))
      .withColumn("c", sum(expr("n * x - st")).over(wOrd))
      .withColumn("m", min(col("c")).over(wOrd))
      .select(col("event_type"), col("day"), col("x"),
        expr("c - least(0L, m)").as("cusum_scaled"),
        expr("CAST(CASE WHEN c - least(0L, m) > st THEN 1 ELSE 0 END " +
          "AS BIGINT)").as("alarm"))
  }

  private val q172Sql =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2
      |), m AS (
      |  SELECT event_type, day, x,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n,
      |    CAST(SUM(x) OVER (PARTITION BY event_type) AS BIGINT) AS st
      |  FROM daily
      |), c AS (
      |  SELECT event_type, day, x, st,
      |    CAST(SUM(n * x - st) OVER (PARTITION BY event_type
      |      ORDER BY day ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS cc
      |  FROM m
      |), r AS (
      |  SELECT event_type, day, x, st, cc,
      |    MIN(cc) OVER (PARTITION BY event_type ORDER BY day ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mm
      |  FROM c
      |)
      |SELECT event_type, day, x,
      |  cc - least(0, mm) AS cusum_scaled,
      |  CAST(CASE WHEN cc - least(0, mm) > st THEN 1 ELSE 0 END
      |    AS BIGINT) AS alarm
      |FROM r""".stripMargin

  // --- q175: point-in-time dimension snapshot (bitemporal query) -----------
  // The payoff of q149's SCD2 build: "what did every order's dimension
  // row say at instant T" — the reproducibility query a training
  // pipeline runs to rebuild features exactly as they were. T is the
  // midpoint of the order-date span, computed IN-PLAN (a 1-row broadcast
  // of min/max — no driver collect, no literal that would go stale at
  // refresh) and applied as the half-open interval predicate
  // valid_from ≤ T < valid_to over the merged dimension. Keys whose
  // first version opens after T correctly vanish (no row existed yet).
  // Scale: the SCD2 merge is q149's single-shuffle plan; the snapshot
  // adds one broadcast filter — at 100 TB the interval predicate prunes
  // to ≤ 1 row per key with no extra shuffle.
  private def q175(s: SparkSession, dir: String): DataFrame = {
    val dim = q149(s, dir)
    val t = Tables.load(s, dir, "orders")
      .agg(min(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP_LTZ))"))
          .as("mn"),
        max(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP_LTZ))"))
          .as("mx"))
      .selectExpr("(mn + mx) div 2 AS t_us")
    dim.join(broadcast(t), lit(true))
      .filter(col("valid_from_us") <= col("t_us") &&
        col("t_us") < col("valid_to_us"))
      .select(col("key"), col("version_seq"), col("status"),
        col("price_cents"), col("t_us"))
  }

  private def q175Sql(q149: String): String =
    s"""WITH dim AS (
       |${q149.linesIterator.map("  " + _).mkString("\n")}
       |), pit AS (
       |  SELECT CAST((MIN(epoch_us(o_orderdate))
       |    + MAX(epoch_us(o_orderdate))) // 2 AS BIGINT) AS t_us
       |  FROM orders
       |)
       |SELECT key, version_seq, status, price_cents, t_us
       |FROM dim, pit
       |WHERE valid_from_us <= t_us AND t_us < valid_to_us""".stripMargin

  // --- q252: seasonal-naive forecast + MASE evaluation ---------------------
  // The forecasting BASELINE every time-series pipeline must beat, and
  // the scale-free metric it is judged by (Hyndman & Koehler 2006):
  // per event_type, the daily revenue series (gap-filled to a dense
  // calendar — a missing day is a zero, not a skipped row), the
  // seasonal-naive forecast v̂_d = v_{d−7}, the one-step naive
  // v̂_d = v_{d−1} as the MASE denominator, and
  // MASE_milli = 1000·Σ|e_seasonal| div Σ|e_naive| over every day
  // where both lags exist. All arithmetic on exact cent sums — the
  // entry has no float anywhere.
  //
  // Scale shape: ONE day-grain aggregate over events (the only scan),
  // then everything runs on the (type × days) calendar frame — tiny at
  // any corpus scale (the series grain is the report, not the data).
  // The lag window partitions by event_type over that frame. Calendar
  // bounds are two bounded driver scalars (q228 pattern).
  private val SeasonDays = 7L

  private def q252(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(col("event_type"),
        expr("ts_us div 86400000000").as("day"))
      .agg(sum(expr("CAST(floor(value * 100) AS BIGINT)")).as("v"))
      .ckptLocal(eager = false) // calendar join + bounds
    val b = daily.agg(min(col("day")), max(col("day"))).head()
    val (d0, d1) = (b.getLong(0), b.getLong(1))
    val cal = daily.select("event_type").distinct()
      .crossJoin(s.range(d0, d1 + 1).select(col("id").as("day")))
    val dense = cal.join(daily, Seq("event_type", "day"), "left")
      .withColumn("v", coalesce(col("v"), lit(0L)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("day")
    dense
      .withColumn("sea", lag(col("v"), SeasonDays.toInt).over(w))
      .withColumn("nai", lag(col("v"), 1).over(w))
      .filter(col("sea").isNotNull && col("nai").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days_eval"),
        sum(abs(col("v") - col("sea"))).as("sum_ae_seasonal"),
        sum(abs(col("v") - col("nai"))).as("sum_ae_naive"))
      .withColumn("mase_milli",
        when(col("sum_ae_naive") > 0L,
          expr("(1000 * sum_ae_seasonal) DIV sum_ae_naive")))
  }

  private val q252Sql =
    s"""WITH daily AS (
       |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
       |    SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS v
       |  FROM events GROUP BY 1, 2
       |), b AS (
       |  SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily
       |), cal AS (
       |  SELECT event_type, d AS day
       |  FROM (SELECT DISTINCT event_type FROM daily)
       |  CROSS JOIN (SELECT unnest(generate_series(
       |    (SELECT d0 FROM b), (SELECT d1 FROM b))) AS d)
       |), dense AS (
       |  SELECT cal.event_type, cal.day, COALESCE(daily.v, 0) AS v
       |  FROM cal LEFT JOIN daily
       |    ON cal.event_type = daily.event_type AND cal.day = daily.day
       |), lagged AS (
       |  SELECT event_type, v,
       |    LAG(v, $SeasonDays) OVER (PARTITION BY event_type
       |      ORDER BY day) AS sea,
       |    LAG(v, 1) OVER (PARTITION BY event_type ORDER BY day) AS nai
       |  FROM dense
       |)
       |SELECT event_type, COUNT(*) AS n_days_eval,
       |  CAST(SUM(abs(v - sea)) AS BIGINT) AS sum_ae_seasonal,
       |  CAST(SUM(abs(v - nai)) AS BIGINT) AS sum_ae_naive,
       |  CASE WHEN SUM(abs(v - nai)) > 0 THEN
       |    CAST((1000 * SUM(abs(v - sea))) // SUM(abs(v - nai))
       |      AS BIGINT) END AS mase_milli
       |FROM lagged WHERE sea IS NOT NULL AND nai IS NOT NULL
       |GROUP BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q252_seasonal_mase" -> q252 _,
    "q175_bitemporal" -> q175 _,
    "q172_cusum" -> q172 _,
    "q170_merkle_diff" -> q170 _,
    "q158_ohlc_bars" -> q158 _,
    "q149_scd2_merge" -> q149 _,
    "q152_rolling_median" -> q152 _,
    "q157_interpolate" -> q157 _,
    "q113_interval_merge" -> q113 _,
    "q100_gapfill_multi" -> q100 _,
    "q96_stream_checksum" -> q96 _,
    "q93_table_checksum" -> q93 _,
    "q92_gap_fill" -> q92 _,
    "q34_asof_join" -> q34 _,
    "q35_range_join" -> q35 _,
    "q36_sessionize" -> q36 _,
    "q82_sliding_window" -> q82 _,
    "q83_table_diff" -> q83 _)

  val oracleSql: Map[String, String] = Map(
    "q252_seasonal_mase" -> q252Sql,
    "q175_bitemporal" -> q175Sql(q149Sql),
    "q172_cusum" -> q172Sql,
    "q170_merkle_diff" -> q170Sql,
    "q158_ohlc_bars" -> q158Sql,
    "q149_scd2_merge" -> q149Sql,
    "q152_rolling_median" -> q152Sql,
    "q157_interpolate" -> q157Sql,
    "q113_interval_merge" -> q113Sql,
    "q100_gapfill_multi" -> q100Sql,
    "q93_table_checksum" -> q93Sql,
    "q96_stream_checksum" -> q96Sql,
    "q92_gap_fill" -> q92Sql,
    "q34_asof_join" -> q34Sql,
    "q35_range_join" -> q35Sql,
    "q36_sessionize" -> q36Sql,
    "q82_sliding_window" -> q82Sql,
    "q83_table_diff" -> q83Sql)
}
