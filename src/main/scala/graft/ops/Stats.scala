package graft.ops

import graft.CkptLocalOps
import graft.{QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical / ordered-aggregation operators (SURVEY §2.8 scalar-agg
  * complement): decimal-exact second moments (variance, stddev,
  * correlation), deterministic ordered string aggregation, and ntile
  * quantile bucketing.
  *
  * Why not the builtin `var_samp`/`stddev`/`corr` aggregates: they stream
  * IEEE-754 doubles through Welford-style merges, so the result depends on
  * partition boundaries and merge order — re-running the same query on a
  * repartitioned 100 TB table would produce a different low-order digit,
  * and the DuckDB oracle (different merge tree) would hash-mismatch.
  * Instead the moment SUMS are computed in exact DECIMAL (partial+final
  * hash aggregate, map-side combine, one shuffle of tiny per-group sums)
  * and the closed-form moment is one deterministic double expression over
  * those exact sums — identical shape in both engines, bit-for-bit stable
  * under ANY partitioning. This is the textbook "algebraic aggregate"
  * decomposition and it scales exactly like SUM/COUNT.
  */
object Stats extends QueryModule {

  // --- q67: exact moments (variance / stddev / correlation) --------------
  // Per l_returnflag over lineitem: sample variance + stddev of quantity,
  // and Pearson correlation between quantity and extendedprice, all
  // derived from exact sums {n, Σx, Σx², Σy, Σy², Σxy}.
  //
  // Accumulation types are picked per-sum from the value bounds so the hot
  // hash-aggregate adds LONGs wherever a long fits — a codegen'd 64-bit add
  // beats a Decimal128 add with 38-digit overflow checks per row:
  //   quantity x ∈ [1, 51], price y < 1.1e5, both with ≤2 fractional digits.
  //   Σx, Σy   → scaled ×100  longs: per-row ≤ 1.1e7;  6e9 rows → 6.6e16 ≪ 2^63.
  //   Σxy      → scaled ×10⁴  long:  per-row ≤ 5.6e10; 6e7 rows (sf10) →
  //              3.4e18 < 9.2e18. (Beyond ~1e8 rows Σxy needs decimal again —
  //              bound documented, battery max is sf0.1.)
  //   Σx²      → scaled ×10⁴  long:  per-row ≤ 2.7e7;  6e9 rows → 1.6e17 OK.
  //   Σy²      → per-row ≤ 1.21e10 ⇒ ×10⁴ scale overflows long at 600k rows
  //              (7.3e19 > 2^63) — stays exact DECIMAL(38,6).
  // The ×100 scaling goes through DECIMAL(12,2): a double→decimal(12,2) cast
  // rounds identically in Spark and DuckDB (the stored doubles are within
  // 1e-13 of a 2-digit value, never at a .005 boundary), after which ×100 /
  // ×10⁴ and the long cast are exact integer arithmetic in both engines.
  // Downstream moments are DOUBLE expressions of identical shape on both
  // sides, so results stay bit-for-bit stable under any partitioning.
  private def q67(s: SparkSession, dir: String): DataFrame = {
    val x2 = col("l_quantity").cast("decimal(12,2)")
    val y2 = col("l_extendedprice").cast("decimal(12,2)")
    Tables.load(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum((x2 * 100).cast("long")).as("sx100"),
        sum((x2 * x2 * 10000).cast("long")).as("sxx1e4"),
        sum((y2 * 100).cast("long")).as("sy100"),
        sum((y2 * y2).cast("decimal(38,6)")).as("syy"),
        sum((x2 * y2 * 10000).cast("long")).as("sxy1e4"))
      .select(
        col("l_returnflag"),
        col("n"),
        // all downstream arithmetic in DOUBLE over the exact sums, in the
        // same expression shape as the oracle (IEEE-754 is deterministic
        // given identical inputs and operation order)
        expr("""round((CAST(sxx1e4 AS DOUBLE) / 10000.0 - (CAST(sx100 AS DOUBLE) / 100.0) * (CAST(sx100 AS DOUBLE) / 100.0) / CAST(n AS DOUBLE))
             | / (CAST(n AS DOUBLE) - 1.0), 4)""".stripMargin).as("var_qty"),
        expr("""round(sqrt((CAST(sxx1e4 AS DOUBLE) / 10000.0 - (CAST(sx100 AS DOUBLE) / 100.0) * (CAST(sx100 AS DOUBLE) / 100.0) / CAST(n AS DOUBLE))
             | / (CAST(n AS DOUBLE) - 1.0)), 4)""".stripMargin)
          .as("stddev_qty"),
        expr("""round((CAST(n AS DOUBLE) * (CAST(sxy1e4 AS DOUBLE) / 10000.0) - (CAST(sx100 AS DOUBLE) / 100.0) * (CAST(sy100 AS DOUBLE) / 100.0))
             | / (sqrt(CAST(n AS DOUBLE) * (CAST(sxx1e4 AS DOUBLE) / 10000.0) - (CAST(sx100 AS DOUBLE) / 100.0) * (CAST(sx100 AS DOUBLE) / 100.0))
             |    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - (CAST(sy100 AS DOUBLE) / 100.0) * (CAST(sy100 AS DOUBLE) / 100.0))), 6)"""
          .stripMargin).as("corr_qty_price"))
  }

  private val q67Sql =
    """WITH m AS (
      |  SELECT l_returnflag,
      |    COUNT(*) AS n,
      |    SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)) AS sx100,
      |    SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)) * 10000 AS BIGINT)) AS sxx1e4,
      |    SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS sy100,
      |    SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2)) AS DECIMAL(38,6))) AS syy,
      |    SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2)) * 10000 AS BIGINT)) AS sxy1e4
      |  FROM lineitem GROUP BY l_returnflag
      |)
      |SELECT l_returnflag, n,
      |  round((CAST(sxx1e4 AS DOUBLE) / 10000.0 - (CAST(sx100 AS DOUBLE) / 100.0) * (CAST(sx100 AS DOUBLE) / 100.0) / CAST(n AS DOUBLE))
      |    / (CAST(n AS DOUBLE) - 1.0), 4) AS var_qty,
      |  round(sqrt((CAST(sxx1e4 AS DOUBLE) / 10000.0 - (CAST(sx100 AS DOUBLE) / 100.0) * (CAST(sx100 AS DOUBLE) / 100.0) / CAST(n AS DOUBLE))
      |    / (CAST(n AS DOUBLE) - 1.0)), 4) AS stddev_qty,
      |  round((CAST(n AS DOUBLE) * (CAST(sxy1e4 AS DOUBLE) / 10000.0) - (CAST(sx100 AS DOUBLE) / 100.0) * (CAST(sy100 AS DOUBLE) / 100.0))
      |    / (sqrt(CAST(n AS DOUBLE) * (CAST(sxx1e4 AS DOUBLE) / 10000.0) - (CAST(sx100 AS DOUBLE) / 100.0) * (CAST(sx100 AS DOUBLE) / 100.0))
      |       * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - (CAST(sy100 AS DOUBLE) / 100.0) * (CAST(sy100 AS DOUBLE) / 100.0))), 6)
      |    AS corr_qty_price
      |FROM m""".stripMargin

  // --- q68: ordered string aggregation ------------------------------------
  // Per order priority: the distinct order statuses as one sorted
  // comma-joined string. collect_set's accumulation order is
  // partition-dependent, so the SORT is what makes the aggregate
  // deterministic — same contract as LISTAGG ... WITHIN GROUP (ORDER BY).
  private def q68(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        array_join(array_sort(collect_set(col("o_orderstatus"))), ",")
          .as("statuses"),
        countDistinct(col("o_custkey")).as("n_custs"),
        count(lit(1)).as("n_orders"))

  private val q68Sql =
    """SELECT o_orderpriority,
      |  array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',')
      |    AS statuses,
      |  COUNT(DISTINCT o_custkey) AS n_custs,
      |  COUNT(*) AS n_orders
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  // --- q71: ntile quantile bucketing --------------------------------------
  // Quartiles of order value within each priority class. ntile is only
  // well-defined under a TOTAL order, so the unique o_orderkey tiebreak is
  // part of the operator contract (same rule as every other window in this
  // battery). Scale: o_orderpriority has FIVE values, so ntile().over a
  // per-priority window serializes one task per priority (q109's failure
  // mode; measured 9.8× for the 10× step to sf10). The tile instead
  // derives from the grouped [[graft.plans.PrefixSum.rowNumber]] rank +
  // a broadcast per-group count, replaying the SQL ntile rule exactly:
  // with bs = n div k and r = n mod k, the first r tiles hold bs+1 rows,
  // the rest bs. (When n < k, r = n and every row sits alone in the
  // bs+1 = 1 branch, so the `div bs` leg — bs = 0 — is never evaluated.)
  private def q71(s: SparkSession, dir: String): DataFrame = {
    val ranked = graft.plans.PrefixSum.rowNumber(
        Tables.load(s, dir, "orders")
          .select("o_orderpriority", "o_totalprice", "o_orderkey")
          .ckptLocal(eager = false),
        "o_totalprice",
        Seq(col("o_totalprice").asc, col("o_orderkey").asc),
        "rn", groupCols = Seq("o_orderpriority"))
      .ckptLocal(eager = false)
    val counts = ranked.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"))
    ranked.join(broadcast(counts), Seq("o_orderpriority"))
      .withColumn("tile", expr(
        """CAST(CASE
          |  WHEN rn <= (n % 4) * (n div 4 + 1)
          |    THEN (rn - 1) div (n div 4 + 1) + 1
          |  ELSE (n % 4) + (rn - (n % 4) * (n div 4 + 1) - 1) div (n div 4) + 1
          |END AS INT)""".stripMargin))
      .groupBy(col("o_orderpriority"), col("tile"))
      .agg(
        count(lit(1)).as("n_orders"),
        round(min(col("o_totalprice")), 2).as("lo"),
        round(max(col("o_totalprice")), 2).as("hi"))
  }

  private val q71Sql =
    """WITH t AS (
      |  SELECT o_orderpriority, o_totalprice,
      |    ntile(4) OVER (PARTITION BY o_orderpriority
      |                   ORDER BY o_totalprice ASC, o_orderkey ASC) AS tile
      |  FROM orders
      |)
      |SELECT o_orderpriority, CAST(tile AS INT) AS tile, COUNT(*) AS n_orders,
      |  round(MIN(o_totalprice), 2) AS lo,
      |  round(MAX(o_totalprice), 2) AS hi
      |FROM t GROUP BY o_orderpriority, tile""".stripMargin

  // --- q76: approximate percentiles (KLL-style sketch) vs exact ----------
  // The percentile counterpart of q38's HLL entry: percentile_approx is a
  // mergeable quantile sketch (one pass, bounded memory — the 100 TB path
  // where q46's exact rank-based percentiles need a per-group sort).
  // Round-15 hardening (ADVICE): the r14 oracle compared round(Spark
  // interpolated percentile, 4) against round(DuckDB quantile_cont, 4) —
  // two engines' linearly-interpolated DOUBLES, input-fragile at a
  // rounding boundary (the q207 cross-engine double-drift class). The
  // exact side is now a DISCRETE order statistic with an EXPLICIT rank
  // (k = 1 + (q·(n−1)) floor-div 1): the compared value is an actual data
  // value read from parquet, bit-identical on both engines, zero float
  // arithmetic in any hashed column. The `within_1pct` bits still gate
  // the sketch (oracle pins them TRUE); the disc-vs-cont gap is orders of
  // magnitude below the 1% tolerance at every tested SF.
  private def q76(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"))
    // value-at-rank is tie-insensitive (equal values straddling the rank
    // yield the same selected VALUE), so row_number's nondeterministic
    // tie order is safe here
    val ranked = base
      .withColumn("rn", row_number().over(Window
        .partitionBy("l_returnflag")
        .orderBy("l_extendedprice")).cast("bigint"))
      .withColumn("n",
        count(lit(1)).over(Window.partitionBy("l_returnflag")))
    val exact = ranked.groupBy("l_returnflag").agg(
      max(when(expr("rn = 1 + (n - 1) div 2"),
        col("l_extendedprice"))).as("p50_exact"),
      max(when(expr("rn = 1 + (9 * (n - 1)) div 10"),
        col("l_extendedprice"))).as("p90_exact"))
    val approx = base.groupBy("l_returnflag").agg(
      expr("percentile_approx(l_extendedprice, 0.5, 10000)").as("p50_approx"),
      expr("percentile_approx(l_extendedprice, 0.9, 10000)").as("p90_approx"))
    graft.ParityGate(
      exact.join(approx, Seq("l_returnflag"))
        .select(
          col("l_returnflag"),
          col("p50_exact"),
          col("p90_exact"),
          (abs(col("p50_approx") - col("p50_exact")) / col("p50_exact") < 0.01)
            .as("p50_within_1pct"),
          (abs(col("p90_approx") - col("p90_exact")) / col("p90_exact") < 0.01)
            .as("p90_within_1pct")),
      // guardNonEmpty = false: the guard would re-run the whole
      // sketch+exact aggregate for a 3-row count; an empty grouped agg
      // means an empty lineitem, visible in the driver's rows-only check.
      "q76_approx_percentile", guardNonEmpty = false,
      "p50_within_1pct", "p90_within_1pct")
  }

  private val q76Sql =
    """WITH r AS (
      |  SELECT l_returnflag, l_extendedprice,
      |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
      |                       ORDER BY l_extendedprice) AS rn,
      |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM lineitem
      |)
      |SELECT l_returnflag,
      |  MAX(CASE WHEN rn = 1 + (n - 1) // 2
      |      THEN l_extendedprice END) AS p50_exact,
      |  MAX(CASE WHEN rn = 1 + (9 * (n - 1)) // 10
      |      THEN l_extendedprice END) AS p90_exact,
      |  TRUE AS p50_within_1pct,
      |  TRUE AS p90_within_1pct
      |FROM r GROUP BY l_returnflag""".stripMargin

  /** PUBLIC operator: exact per-group order statistics (percentile_disc
    * at scale) — the value at 1-based rank `k` under (`valueCol` ASC,
    * `tieCols`) for every (group, k) row of `targets` (columns:
    * `groupCol`, `k`), WITHOUT a per-group sort or a full ranking pass.
    * Distributed selection in two data passes:
    *   1. bucket the value domain ([[graft.plans.PrefixSum.valueBucket]])
    *      and count rows per (group, bucket): one tiny hash agg;
    *   2. locate each target's bucket and residual rank by a window
    *      over that tiny frame, then rank ONLY the hit buckets (each
    *      ≤ one task of ~n/nBuckets rows) and keep the residual row.
    * Exactness: ties on `valueCol` never straddle buckets (the bucket
    * id is a function of the value), and within-bucket order extends
    * the cross-bucket value order, so preceding-bucket count + local
    * rank IS the global rank. Skew: bounds are GLOBAL across groups; a
    * group concentrated in one bucket ranks it in one task — raise
    * shuffle partitions for strongly multi-modal groups. Requires
    * non-null values and a total (group, value, tieCols) order.
    * Returns (groupCol, k, value).
    */
  def valueAtRank(df: DataFrame, groupCol: String, valueCol: String,
      tieCols: Seq[Column], targets: DataFrame): DataFrame = {
    val bucketed = df.withColumn("__b",
      graft.plans.PrefixSum.valueBucket(df, valueCol, range = None))
    val wCum = Window.partitionBy(groupCol).orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, -1)
    // ≤ nGroups × nBuckets rows — the tiny frame every step below joins
    val cum = bucketed.groupBy(col(groupCol), col("__b"))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__before",
        coalesce(sum(col("__cnt")).over(wCum), lit(0L)))
      .select(col(groupCol).as("__cg"), col("__b").as("__cb"),
        col("__cnt"), col("__before"))
    val located = targets
      .select(col(groupCol).as("__tg"), col("k"))
      .join(cum, col("__tg") === col("__cg") &&
        col("k") > col("__before") &&
        col("k") <= col("__before") + col("__cnt"))
      .select(col("__tg"), col("k"), col("__cb"),
        (col("k") - col("__before")).as("__r"))
    // rank ONLY the hit buckets; local rank + __before == global rank
    val hits = bucketed.join(
      broadcast(located.select(col("__tg"), col("__cb")).distinct()),
      col(groupCol) === col("__tg") && col("__b") === col("__cb"),
      "inner").drop("__tg", "__cb")
    val wLocal = Window.partitionBy(col(groupCol), col("__b"))
      .orderBy(col(valueCol).asc +: tieCols: _*)
    hits.withColumn("__rn", row_number().over(wLocal))
      .join(broadcast(located),
        col(groupCol) === col("__tg") && col("__b") === col("__cb") &&
          col("__rn") === col("__r"))
      .select(col(groupCol), col("k"), col(valueCol).as("value"))
  }

  // --- q109: rank-based winsorization --------------------------------------
  // Outlier clipping at the 5th/95th percentile before aggregate stats —
  // the robust-statistics pass a metrics pipeline runs ahead of means.
  // Deliberately RANK-based (percentile_disc semantics: the boundary is
  // an ACTUAL data value at a pinned integer rank), not interpolated:
  // an interpolated boundary is a derived double whose last-ulp could
  // classify a borderline row differently across engines, whereas rank
  // arithmetic is integers and the clip boundaries are values both
  // engines read identically from parquet. Ranks are total-ordered via
  // the unique (orderkey, linenumber) tiebreak, the battery's standard
  // window contract.
  //
  // Scale shape: l_returnflag has THREE values, so a
  // `Window.partitionBy(flag)` rank serializes each group into one task
  // (measured 14.5× for the 10× step to sf10, 134 s absolute — the
  // spilling per-group sort). The round-13 grouped-PrefixSum rewrite
  // fixed that but still RANKED EVERY ROW (two full-table
  // materializations, 66 s at sf10) when only TWO boundary values per
  // group are needed: ranks within a group are a permutation of 1..n,
  // so the clip counts are pure arithmetic (Σ[rn < klo] = klo − 1,
  // Σ[rn > khi] = n − khi — the oracle's window sums collapse to the
  // same integers), and clipping by rank equals clipping by VALUE at
  // the rank-k boundary (rows tied with the boundary are unchanged by
  // the clip either way). So: [[valueAtRank]] selects the two boundary
  // values exactly (bucket-count locate + rank only the hit buckets),
  // and the final pass is one broadcast join + hash agg over the fact —
  // no full ranking, no full-table checkpoint.
  private def q109(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "lineitem")
      .select("l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber")
      .ckptLocal(eager = false) // counts + selection + final agg
    // first/last KEPT rank: clip the bottom and top floor(5% · n) rows
    val counts = base.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"))
      .withColumn("klo", expr("(n * 5) div 100 + 1"))
      .withColumn("khi", expr("n - (n * 5) div 100"))
      .ckptLocal(eager = false) // tiny; feeds targets + bounds
    val targets = counts.select(col("l_returnflag"), col("klo").as("k"))
      .unionByName(counts.select(col("l_returnflag"), col("khi").as("k")))
      .distinct()
    val atk = valueAtRank(base, "l_returnflag", "l_extendedprice",
      Seq(col("l_orderkey").asc, col("l_linenumber").asc), targets)
    val bnds = atk.join(broadcast(counts), "l_returnflag")
      .groupBy("l_returnflag")
      .agg(max(col("klo")).as("klo"), max(col("khi")).as("khi"),
        max(col("n")).as("n"),
        max(when(col("k") === col("klo"), col("value"))).as("lo_val"),
        max(when(col("k") === col("khi"), col("value"))).as("hi_val"))
    base.join(broadcast(bnds), Seq("l_returnflag"))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        max(col("lo_val")).as("lo_val"),
        max(col("hi_val")).as("hi_val"),
        max(col("klo") - 1).as("n_clipped_low"),
        max(col("n") - col("khi")).as("n_clipped_high"),
        round(sum(least(greatest(col("l_extendedprice"), col("lo_val")),
          col("hi_val")).cast("decimal(18,2)")), 2).cast("double")
          .as("sum_winsorized"))
  }

  private val q109Sql =
    """WITH ranked AS (
      |  SELECT l_returnflag, l_extendedprice,
      |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
      |      ORDER BY l_extendedprice ASC, l_orderkey ASC, l_linenumber ASC)
      |      AS rn,
      |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM lineitem
      |), k AS (
      |  SELECT *, (n * 5) // 100 + 1 AS klo, n - (n * 5) // 100 AS khi
      |  FROM ranked
      |), b AS (
      |  SELECT *,
      |    MAX(CASE WHEN rn = klo THEN l_extendedprice END)
      |      OVER (PARTITION BY l_returnflag) AS lo_val,
      |    MAX(CASE WHEN rn = khi THEN l_extendedprice END)
      |      OVER (PARTITION BY l_returnflag) AS hi_val
      |  FROM k
      |)
      |SELECT l_returnflag, COUNT(*) AS n_rows,
      |  MAX(lo_val) AS lo_val, MAX(hi_val) AS hi_val,
      |  CAST(SUM(CAST(rn < klo AS BIGINT)) AS BIGINT) AS n_clipped_low,
      |  CAST(SUM(CAST(rn > khi AS BIGINT)) AS BIGINT) AS n_clipped_high,
      |  CAST(ROUND(SUM(CAST(least(greatest(l_extendedprice, lo_val), hi_val)
      |    AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_winsorized
      |FROM b GROUP BY l_returnflag""".stripMargin

  // --- q114: equi-width histogram + cumulative distribution ----------------
  // The profiling primitive: fixed-width value buckets per group with
  // count, cumulative count, and per-mille share — histogram + CDF in one
  // pass. Bucketing is floor(v / width) (one correctly-rounded IEEE
  // division + floor — identical across engines); the CDF is an integer
  // running sum over bucket order; the share is integer per-mille
  // floor-division. One shuffle (group key), bucket-count aggregate, then
  // a window over the BUCKETS (group-cardinality rows, not data rows).
  private val q114Width = 5000

  private def q114(s: SparkSession, dir: String): DataFrame = {
    val buckets = Tables.load(s, dir, "lineitem")
      .withColumn("bucket",
        expr(s"CAST(floor(l_extendedprice / $q114Width.0) AS BIGINT)"))
      .groupBy(col("l_returnflag"), col("bucket"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("l_returnflag")
    buckets
      .withColumn("cum_n",
        sum(col("n")).over(w.orderBy(col("bucket").asc)))
      .withColumn("total", sum(col("n")).over(w))
      .select(col("l_returnflag"), col("bucket"), col("n"), col("cum_n"),
        expr("(n * 1000) div total").as("per_mille"))
  }

  private val q114Sql =
    s"""WITH b AS (
       |  SELECT l_returnflag,
       |    CAST(FLOOR(l_extendedprice / $q114Width.0) AS BIGINT) AS bucket,
       |    COUNT(*) AS n
       |  FROM lineitem GROUP BY 1, 2
       |)
       |SELECT l_returnflag, bucket, n,
       |  CAST(SUM(n) OVER (PARTITION BY l_returnflag ORDER BY bucket ASC)
       |    AS BIGINT) AS cum_n,
       |  CAST((n * 1000) // SUM(n) OVER (PARTITION BY l_returnflag)
       |    AS BIGINT) AS per_mille
       |FROM b""".stripMargin

  // --- q115: MAD-based robust outlier detection ----------------------------
  // The other half of the robust-stats toolkit next to q109's
  // winsorization: flag rows whose modified z-score
  // |0.6745·(x − median) / MAD| exceeds 3.5 (Iglewicz–Hoaglin cutoff).
  // Median and MAD are RANK-based actual data values (q109's
  // percentile_disc argument: interpolated boundaries are ulp-fragile
  // across engines), values are exact integer centi-units
  // (floor(value·100)), and the cutoff test is pure integer arithmetic —
  // dev·6745 > mad·35000 — so classification is bit-stable everywhere.
  // Runs on events.value (heavy-tailed; lineitem/orders prices are
  // near-uniform, where max modified z ≈ 1.35 and NOTHING ever flags —
  // a threshold op needs data with a tail to be a meaningful entry).
  //
  // Scale shape: event_type is a handful of values, so per-group window
  // ranks serialize one task per type (the q109 failure mode — this
  // entry measured 7.9× for the 10× step to sf10 on the same pattern).
  // MAD is TWO exact selection problems (median of values, then median
  // of deviations — the second order only exists after the first
  // lands), so each comes from [[valueAtRank]] (bucket-count locate +
  // rank only the hit bucket) rather than ranking every row: no rank
  // column is ever needed downstream — the outlier test is pure value
  // arithmetic once med/mad are broadcast back.
  private def q115(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "events")
      .select(col("event_type"), col("event_id"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("v100"))
      .ckptLocal(eager = false)
    // lower median: the actual value at rank ceil(n/2) — one row/group
    val medTargets = base.groupBy("event_type")
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), expr("(n + 1) div 2").as("k"))
      .ckptLocal(eager = false) // tiny; drives both selections
    val meds = valueAtRank(base, "event_type", "v100",
        Seq(col("event_id").asc), medTargets)
      .select(col("event_type"), col("value").as("med"))
    val dev = base.join(broadcast(meds), Seq("event_type"))
      .withColumn("dev", abs(col("v100") - col("med")))
      .ckptLocal(eager = false)
    val mads = valueAtRank(dev, "event_type", "dev",
        Seq(col("event_id").asc), medTargets)
      .select(col("event_type"), col("value").as("mad"))
    dev.join(broadcast(mads), Seq("event_type"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_rows"),
        max(col("med")).as("median_v100"),
        max(col("mad")).as("mad_v100"),
        sum(expr("CAST(dev * 6745 > mad * 35000 AS BIGINT)"))
          .as("n_outliers"),
        max(when(expr("dev * 6745 > mad * 35000"), col("v100")))
          .as("max_outlier_v100"))
  }

  private val q115Sql =
    """WITH base AS (
      |  SELECT event_type, event_id,
      |    CAST(FLOOR(value * 100) AS BIGINT) AS v100
      |  FROM events
      |), r1 AS (
      |  SELECT *,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY v100 ASC, event_id ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM base
      |), r2 AS (
      |  SELECT *, MAX(CASE WHEN rn = (n + 1) // 2 THEN v100 END)
      |    OVER (PARTITION BY event_type) AS med
      |  FROM r1
      |), r3 AS (
      |  SELECT *, ABS(v100 - med) AS dev FROM r2
      |), r4 AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
      |    ORDER BY dev ASC, event_id ASC) AS rn2
      |  FROM r3
      |), r5 AS (
      |  SELECT *, MAX(CASE WHEN rn2 = (n + 1) // 2 THEN dev END)
      |    OVER (PARTITION BY event_type) AS mad
      |  FROM r4
      |)
      |SELECT event_type, COUNT(*) AS n_rows,
      |  MAX(med) AS median_v100, MAX(mad) AS mad_v100,
      |  CAST(SUM(CAST(dev * 6745 > mad * 35000 AS BIGINT)) AS BIGINT)
      |    AS n_outliers,
      |  MAX(CASE WHEN dev * 6745 > mad * 35000 THEN v100 END)
      |    AS max_outlier_v100
      |FROM r5 GROUP BY event_type""".stripMargin

  // --- q130: single-pass table profiling ----------------------------------
  // The ANALYZE-style data-quality profile every curation run starts with:
  // per column — null count, exact distinct count, min and max — computed
  // in ONE aggregate job over the table, then unpivoted to a long-format
  // (col_name, n_nulls, n_distinct, min_s, max_s) frame with stack().
  //
  // Scale shape: a single scan feeding one hash aggregate; the
  // multi-column COUNT(DISTINCT) expands the input (Spark's Expand
  // operator, one duplicate per distinct column) but stays a partial+final
  // aggregate — no per-column jobs, no driver loop over columns. At
  // 100 TB the exact distincts are the expensive term; the sketch-based
  // profile (swap countDistinct → approx_count_distinct, q38's HLL) is the
  // drop-in relaxation when ±2% suffices. min/max are rendered to strings
  // with engine-pinned formats (decimal cast for the double, explicit
  // date_format for the timestamp) so one long-format frame can carry all
  // column types without engine-default cast differences.
  /** Single-pass profile of every ATOMIC column of `df`: one row per
    * column with null count, exact distinct count, and min/max rendered
    * to strings with engine-pinned formats — doubles through a
    * DECIMAL(18, `doubleScale`) cast (no printf rounding-mode
    * dependence), timestamps through an explicit `date_format`, so the
    * output is portable across engines and schemas. One aggregate job:
    * the multi-column COUNT(DISTINCT) expands rows (one duplicate per
    * profiled column) but stays partial+final — no per-column jobs. For
    * the ±2% 100 TB path swap `exact = false` to profile with q38's HLL
    * sketch instead of exact distincts.
    */
  def tableProfile(df: DataFrame, doubleScale: Int = 2,
      exact: Boolean = true): DataFrame = {
    import org.apache.spark.sql.types._
    val fields = df.schema.fields.filter(f => f.dataType match {
      case _: ArrayType | _: MapType | _: StructType | BinaryType => false
      case _ => true
    })
    require(fields.nonEmpty, "no atomic columns to profile")
    def render(agg: String, f: StructField): String = {
      val c = s"$agg(`${f.name}`)"
      f.dataType match {
        case DoubleType | FloatType =>
          s"CAST(CAST($c AS DECIMAL(18,$doubleScale)) AS STRING)"
        case TimestampType | TimestampNTZType =>
          s"date_format($c, 'yyyy-MM-dd HH:mm:ss')"
        case StringType => c
        case _ => s"CAST($c AS STRING)"
      }
    }
    val aggs = count(lit(1)).as("n") +: fields.zipWithIndex.flatMap {
      case (f, i) => Seq(
        count(col(f.name)).as(s"nn$i"),
        (if (exact) countDistinct(col(f.name))
         else expr(s"approx_count_distinct(`${f.name}`)")).as(s"nd$i"),
        expr(render("min", f)).as(s"mn$i"),
        expr(render("max", f)).as(s"mx$i"))
    }
    val stackArgs = fields.zipWithIndex.map { case (f, i) =>
      s"'${f.name}', n - nn$i, nd$i, mn$i, mx$i"
    }.mkString(",\n")
    df.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${fields.length},\n$stackArgs\n) " +
        "AS (col_name, n_nulls, n_distinct, min_s, max_s)")
  }

  private def q130(s: SparkSession, dir: String): DataFrame =
    tableProfile(Tables.load(s, dir, "orders"))

  private val q130Sql =
    """WITH a AS (
      |  SELECT COUNT(*) AS n,
      |    COUNT(o_orderkey) AS nn1, COUNT(DISTINCT o_orderkey) AS nd1,
      |    CAST(MIN(o_orderkey) AS VARCHAR) AS mn1,
      |    CAST(MAX(o_orderkey) AS VARCHAR) AS mx1,
      |    COUNT(o_custkey) AS nn2, COUNT(DISTINCT o_custkey) AS nd2,
      |    CAST(MIN(o_custkey) AS VARCHAR) AS mn2,
      |    CAST(MAX(o_custkey) AS VARCHAR) AS mx2,
      |    COUNT(o_orderstatus) AS nn3, COUNT(DISTINCT o_orderstatus) AS nd3,
      |    MIN(o_orderstatus) AS mn3, MAX(o_orderstatus) AS mx3,
      |    COUNT(o_totalprice) AS nn4, COUNT(DISTINCT o_totalprice) AS nd4,
      |    CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS mn4,
      |    CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS mx4,
      |    COUNT(o_orderdate) AS nn5, COUNT(DISTINCT o_orderdate) AS nd5,
      |    strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S') AS mn5,
      |    strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S') AS mx5,
      |    COUNT(o_orderpriority) AS nn6,
      |    COUNT(DISTINCT o_orderpriority) AS nd6,
      |    MIN(o_orderpriority) AS mn6, MAX(o_orderpriority) AS mx6
      |  FROM orders
      |)
      |SELECT 'o_orderkey' AS col_name, n - nn1 AS n_nulls,
      |  nd1 AS n_distinct, mn1 AS min_s, mx1 AS max_s FROM a
      |UNION ALL SELECT 'o_custkey', n - nn2, nd2, mn2, mx2 FROM a
      |UNION ALL SELECT 'o_orderstatus', n - nn3, nd3, mn3, mx3 FROM a
      |UNION ALL SELECT 'o_totalprice', n - nn4, nd4, mn4, mx4 FROM a
      |UNION ALL SELECT 'o_orderdate', n - nn5, nd5, mn5, mx5 FROM a
      |UNION ALL SELECT 'o_orderpriority', n - nn6, nd6, mn6, mx6 FROM a"""
      .stripMargin

  // --- q131: group-wise OLS regression from exact sums ---------------------
  // Per order priority: the least-squares trend of order value over time
  // (slope in $/day, intercept at epoch, r²) — the per-key "fit a line"
  // primitive behind drift monitors and forecasting backfills.
  //
  // Same decimal-exact decomposition as q67: the five sufficient sums
  // {n, Σx, Σx², Σy, Σxy, Σy²} accumulate as LONGs (x = integer days since
  // epoch, y = cents via the exact DECIMAL(12,2)×100 cast), so the hot
  // aggregate is codegen'd 64-bit adds, partition-order independent, one
  // tiny shuffle of per-group sums. Closed-form slope/intercept/r² are
  // DOUBLE expressions of identical shape on both sides. Overflow bounds:
  // x ≤ ~2.1e4 (dates through 2027), cents ≤ 6e7 ⇒ per-row x·y ≤ 1.3e12,
  // Σxy < 2^63 up to ~7e6 rows/group (sf10); Σy² per-row ≤ 3.6e15 would
  // overflow at ~2.5e3 rows, so it stays DECIMAL(38,0) like q67's syy.
  private def q131(s: SparkSession, dir: String): DataFrame = {
    val cents = expr(
      "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
    val days = expr(
      "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT)")
    Tables.load(s, dir, "orders")
      .select(col("o_orderpriority"), days.as("x"), cents.as("y"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(expr("x * x")).as("sxx"),
        sum(col("y")).as("sy"),
        sum(expr("x * y")).as("sxy"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
      .select(
        col("o_orderpriority"),
        col("n"),
        expr(s"round($OlsNumer / $OlsDenX / 100.0, 6)").as("slope_per_day"),
        expr(("round((CAST(sy AS DOUBLE) / 100.0 " +
          s"- $OlsNumer / $OlsDenX / 100.0 * CAST(sx AS DOUBLE)) " +
          "/ CAST(n AS DOUBLE), 4)")).as("intercept"),
        expr(s"round($OlsNumer * $OlsNumer / ($OlsDenX * $OlsDenY), 6)")
          .as("r2"))
  }

  // shared double-expression text — used VERBATIM by both engines so the
  // IEEE-754 operation order is identical (determinism contract of q67)
  private val OlsNumer =
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
  private val OlsDenX =
    "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
  private val OlsDenY =
    "(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"

  private val q131Sql =
    s"""WITH b AS (
      |  SELECT o_orderpriority,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |      AS BIGINT) AS x,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
      |  FROM orders
      |), m AS (
      |  SELECT o_orderpriority, COUNT(*) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx,
      |    CAST(SUM(x * x) AS BIGINT) AS sxx,
      |    CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(x * y) AS BIGINT) AS sxy,
      |    SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy
      |  FROM b GROUP BY o_orderpriority
      |)
      |SELECT o_orderpriority, n,
      |  round($OlsNumer / $OlsDenX / 100.0, 6) AS slope_per_day,
      |  round((CAST(sy AS DOUBLE) / 100.0
      |    - $OlsNumer / $OlsDenX / 100.0 * CAST(sx AS DOUBLE))
      |    / CAST(n AS DOUBLE), 4) AS intercept,
      |  round($OlsNumer * $OlsNumer / ($OlsDenX * $OlsDenY), 6) AS r2
      |FROM m""".stripMargin

  // --- q140: chi-square test of independence (lang × source) ---------------
  // The full contingency table of documents over (lang, source) with each
  // cell's observed count, milli-scaled expected count under independence
  // E = rt·ct/n, and micro-scaled chi² contribution (O−E)²/E — the
  // corpus-balance diagnostic ("is language mix independent of source?").
  // The table INCLUDES zero cells (generated from the marginal cross
  // product, left-joined against observed counts): chi² without empty
  // cells understates dependence.
  //
  // Everything is exact integer arithmetic. The contribution
  // (O−E)²/E = d²/(n·rt·ct) with d = O·n − rt·ct is micro-scaled WITHOUT
  // overflow via staged division (the same identity as Graph.pageRank's
  // contribution): d² ≤ (rt·n)² ≤ ~6.25e18 stays in int64 through sf1
  // (documented bound: n ≤ 5e4 docs; beyond that d² needs DECIMAL), and
  // ⌊d²·10⁶/m⌋ is assembled as q1·10⁶ + q2·10³ + q3 from three ⌊·/m⌋
  // steps whose intermediates are each bounded by max(d², m·10³).
  // Scale shape: one grouped count over the scan; marginals and the
  // cross product are category-cardinality and broadcast. Because the
  // contributions are integers, a total chi² is an EXACT sum — no
  // float summation-order surface anywhere.
  private def q140(s: SparkSession, dir: String): DataFrame = {
    // ONE scan: the observed-cell table is category² rows, so every
    // marginal (row totals, column totals, grand total) is a re-aggregate
    // of cells, not another pass over the corpus
    val cells = Tables.load(s, dir, "documents")
      .groupBy("lang", "source").agg(count(lit(1)).as("o"))
      .persist()
    val rows = cells.groupBy("lang").agg(sum(col("o")).as("rt"))
    val cols = cells.groupBy("source").agg(sum(col("o")).as("ct"))
    val tot = cells.agg(sum(col("o")).as("n"))
    broadcast(rows).crossJoin(broadcast(cols)).crossJoin(broadcast(tot))
      .join(cells, Seq("lang", "source"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .withColumn("dd", expr("o * n - rt * ct"))
      .withColumn("x", expr("dd * dd"))
      .withColumn("m", expr("n * rt * ct"))
      .withColumn("q1", expr("x div m"))
      .withColumn("r1", expr("x - (x div m) * m"))
      .withColumn("q2", expr("(r1 * 1000) div m"))
      .withColumn("r2", expr("r1 * 1000 - ((r1 * 1000) div m) * m"))
      .select(
        col("lang"), col("source"), col("o").as("observed"),
        expr("(rt * ct * 1000) div n").as("expected_milli"),
        expr("q1 * 1000000 + q2 * 1000 + (r2 * 1000) div m")
          .as("contrib_micro"))
  }

  private val q140Sql =
    """WITH cells AS (
      |  SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY 1, 2
      |), r AS (
      |  SELECT lang, COUNT(*) AS rt FROM documents GROUP BY 1
      |), c AS (
      |  SELECT source, COUNT(*) AS ct FROM documents GROUP BY 1
      |), n AS (
      |  SELECT COUNT(*) AS n FROM documents
      |), grid AS (
      |  SELECT r.lang, c.source, r.rt, c.ct, n.n,
      |    COALESCE(cells.o, 0) AS o
      |  FROM r CROSS JOIN c CROSS JOIN n
      |  LEFT JOIN cells ON cells.lang = r.lang AND cells.source = c.source
      |), s1 AS (
      |  SELECT *, (o * n - rt * ct) * (o * n - rt * ct) AS x,
      |    n * rt * ct AS m
      |  FROM grid
      |), s2 AS (
      |  SELECT *, x // m AS q1, x - (x // m) * m AS r1 FROM s1
      |), s3 AS (
      |  SELECT *, (r1 * 1000) // m AS q2,
      |    r1 * 1000 - ((r1 * 1000) // m) * m AS r2
      |  FROM s2
      |)
      |SELECT lang, source, o AS observed,
      |  (rt * ct * 1000) // n AS expected_milli,
      |  q1 * 1000000 + q2 * 1000 + (r2 * 1000) // m AS contrib_micro
      |FROM s3""".stripMargin

  // ======================= count-min sketch prefilter ======================

  /** Build a count-min sketch over `key` frequencies: `depth` hash rows ×
    * `width` buckets, cell (j, b) = count of rows whose
    * `xxhash64(j, key) mod width` = b. Returned as a flat driver-side
    * array indexed `j * width + b` — the whole point of a CMS is that
    * this is KILOBYTES regardless of input size (the build is one
    * grouped count with ≤ depth·width groups, so map-side partial
    * aggregation reduces each partition to ≤ depth·width cells before
    * the only shuffle).
    */
  def countMinBuild(df: DataFrame, key: Column, depth: Int = 4,
      width: Int = 512): Array[Long] = {
    require(depth >= 1 && width >= 1 && depth * width <= (1 << 20),
      s"count-min dims out of range: $depth x $width")
    val cells = df
      .select(explode(array((0 until depth).map(lit): _*)).as("__j"),
        key.as("__k"))
      .select(col("__j"),
        pmod(xxhash64(col("__j"), col("__k")), lit(width)).as("__b"))
      .groupBy("__j", "__b").agg(count(lit(1)).as("__c"))
      .collect()
    val sketch = new Array[Long](depth * width)
    cells.foreach(r =>
      sketch(r.getInt(0) * width + r.getLong(1).toInt) = r.getLong(2))
    sketch
  }

  /** Point-estimate Column for `key` under a [[countMinBuild]] sketch:
    * min over the depth rows of the hashed cell — the classic CMS upper
    * bound (estimate ≥ true count, always). The sketch rides into the
    * plan as ONE array literal, so the probe is a shuffle-free,
    * broadcast-free per-row expression — usable directly as a filter on
    * an arbitrarily large probe table.
    */
  def countMinEstimate(sketch: Array[Long], key: Column, depth: Int = 4,
      width: Int = 512): Column = {
    require(sketch.length == depth * width,
      s"sketch length ${sketch.length} != $depth x $width")
    val arr = typedLit(sketch.toSeq)
    least((0 until depth).map(j =>
      element_at(arr, (pmod(xxhash64(lit(j), key), lit(width))
        + lit(j * width) + lit(1)).cast("int"))): _*)
  }

  // --- q151: sketch-prefiltered frequent-key join --------------------------
  // The 100 TB shape for "which dimension keys are hot in the fact
  // table": pass 1 folds the fact table into a 2 KB sketch (one grouped
  // count, ≤ depth·width cells after map-side combine); pass 2 filters
  // the dimension with the shuffle-free estimate expression (CMS
  // guarantees estimate ≥ exact, so no true frequent key is lost); only
  // the SURVIVORS — a small, broadcastable set — pay the exact
  // verification join against the fact table. Output = exactly the
  // truly-frequent keys with exact counts, so the DuckDB oracle is a
  // plain GROUP BY/HAVING replay; the CMS upper-bound invariant
  // (estimate ≥ exact) is asserted in-plan on every survivor, fail-loud,
  // and the estimate column is dropped from the output (its value is
  // engine-specific state, not a result).
  private def q151(s: SparkSession, dir: String): DataFrame = {
    val threshold = 45L
    val li = Tables.load(s, dir, "lineitem")
    val sketch = countMinBuild(li, col("l_partkey"))
    val candidates = Tables.load(s, dir, "part")
      .select(col("p_partkey"),
        countMinEstimate(sketch, col("p_partkey")).as("__est"))
      .filter(col("__est") >= threshold)
    // exact verification: only candidate keys reach the join (broadcast
    // — the sketch already shrank the dimension side), and the grouped
    // count happens on the candidate-filtered fact rows
    val exact = li.join(broadcast(candidates),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_partkey", "__est")
      .agg(count(lit(1)).as("n_items"))
    graft.ParityGate(
        exact.withColumn("cms_upper_ok", col("__est") >= col("n_items")),
        "q151_cms_prefilter", guardNonEmpty = false, "cms_upper_ok")
      .filter(col("n_items") >= threshold)
      .select("p_partkey", "n_items")
  }

  private val q151Sql =
    """SELECT l_partkey AS p_partkey, COUNT(*) AS n_items
      |FROM lineitem GROUP BY 1 HAVING COUNT(*) >= 45""".stripMargin

  // --- q228: Misra–Gries deterministic heavy hitters ------------------------
  // The DETERMINISTIC-BOUND complement of q151's count-min: one typed
  // [[graft.functions.MisraGriesAggregator]] pass folds the key stream
  // into ≤ k−1 counters per partition (map-side), merged by the
  // PODS-2012 mergeable-summaries rule, with the worst-case guarantee
  // f(x) − n/k ≤ est(x) ≤ f(x) for EVERY key — no hash collisions, no
  // failure probability, so any key with f·k > n is provably present.
  // The summary is a ≤ k−1-row frame (bounded collect, the centroid-
  // frame precedent); the exact side is one grouped count. Because the
  // counter VALUES are merge-order-dependent (only the bound is
  // invariant), the hashed output carries the exact counts and the
  // THEOREM BITS (present_ok / bound_ok, asserted in-plan fail-loud) —
  // never the estimates: the q202 recall-audit discipline applied to a
  // frequency sketch. Oracle = the exact GROUP BY/HAVING replay with
  // the bits pinned TRUE.

  /** PUBLIC operator: the guaranteed heavy hitters of `keys(keyCol)` —
    * every key with `count·k > n` — with exact counts and the in-plan
    * Misra–Gries theorem bits. `k` is the summary size (≤ k−1
    * counters); pick k > n/f_min for the lightest key you must catch. */
  def heavyHitters(keys: DataFrame, keyCol: String, k: Int): DataFrame = {
    require(k >= 2 && k <= 65536,
      s"heavyHitters: k=$k outside 2..65536 (the summary is collected " +
        "to the driver as a bounded k-row frame)")
    val s = keys.sparkSession
    val longKeys = keys.select(col(keyCol).cast("long").as("key"))
      .filter(col("key").isNotNull)
    val mg: Map[Long, Long] = longKeys
      .as(org.apache.spark.sql.Encoders.scalaLong)
      .select(new graft.functions.MisraGriesAggregator(k).toColumn)
      .head()
    // ≤ k−1 rows, driver-built — the bounded sketch frame
    val summary = s.createDataFrame(mg.toSeq.map(p => (p._1, p._2)))
      .toDF("key", "est")
    val tot = longKeys.groupBy().agg(count(lit(1)).as("n"))
    val guaranteed = longKeys.groupBy("key")
      .agg(count(lit(1)).as("n_exact"))
      .crossJoin(broadcast(tot))
      .filter(col("n_exact") * k > col("n"))
      .join(broadcast(summary), Seq("key"), "left")
      .select(col("key"), col("n_exact"),
        col("est").isNotNull.as("present_ok"),
        (col("est").isNotNull && col("est") <= col("n_exact") &&
          col("est") * k >= col("n_exact") * k - col("n")).as("bound_ok"))
    // guardNonEmpty = false: an EMPTY guaranteed set is a legitimate
    // answer ("no key is provably heavy at this k"), and the oracle
    // replays the same HAVING so both sides agree on emptiness — the
    // q38/q76 grouped-aggregate reasoning. (At the battery's gate scale
    // the adaptive k keeps the set non-empty: 3 rows at sf0.01, 16 at
    // sf0.1 — only the 1k-row warm-up corpus truncates the key domain
    // below the guarantee line.)
    graft.ParityGate(guaranteed, "heavyHitters", guardNonEmpty = false,
      "present_ok", "bound_ok")
  }

  // Adaptive summary size (the q209 AdaptiveEps pattern, resolved at
  // plan-build time from one bounded scalar): k = the largest power of
  // two with k² ≤ U (U = max key-domain id + 1). The battery key is
  // floor(sqrt(user_id)) — sqrt is IEEE-correctly-rounded in BOTH
  // engines (unlike exp/log2, the q132 parity trap), and the quadratic
  // density it induces means the top keys hold f ≈ 2n/√U each, so
  // k ∈ (√U/2, √U] keeps the guaranteed set NON-EMPTY (f_max·k ≈
  // 2n·k/√U > n) while the counter budget k−1 < √U + 1 ≈ |distinct
  // keys| forces real decrements — the sketch is exercised, not a
  // disguised exact count, at EVERY scale factor.
  private val MgMaxShift = 20

  private def q228(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    // coalesce: max() over an empty/all-NULL table is NULL, and a bare
    // getLong would surface as an opaque NPE at plan-build time; the
    // require turns the broken-input case into a contract error instead.
    val maxRow = ev.agg(coalesce(max(col("user_id")).cast("long"),
      lit(-1L))).head()
    require(maxRow.getLong(0) >= 0,
      "q228: events table is empty or user_id all NULL — no key domain")
    val u = maxRow.getLong(0) + 1
    val shift = (1 to MgMaxShift)
      .filter(sh => (1L << (2 * sh)) <= u).lastOption.getOrElse(1)
    heavyHitters(ev.select(
        expr("CAST(floor(sqrt(CAST(user_id AS DOUBLE))) AS BIGINT)")
          .as("key")),
      "key", k = (1L << shift).toInt)
  }

  private val q228Sql =
    s"""WITH kk AS (
       |  SELECT CAST(1 AS BIGINT) << s AS k FROM (
       |    SELECT COALESCE(MAX(s), 1) AS s
       |    FROM range(1, ${MgMaxShift + 1}) t(s)
       |    WHERE (CAST(1 AS BIGINT) << (2 * s)) <=
       |      (SELECT MAX(user_id) + 1 FROM events))
       |), keys AS (
       |  SELECT CAST(floor(sqrt(CAST(user_id AS DOUBLE))) AS BIGINT)
       |    AS key
       |  FROM events WHERE user_id IS NOT NULL
       |), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM keys)
       |SELECT e.key, e.n_exact, TRUE AS present_ok, TRUE AS bound_ok
       |FROM (SELECT key, CAST(COUNT(*) AS BIGINT) AS n_exact
       |      FROM keys GROUP BY key) e, kk, tot
       |WHERE e.n_exact * kk.k > tot.n""".stripMargin

  // --- q239/q240: KMV bottom-k distinct sketch + coordinated Jaccard -------
  // The k-minimum-values synopsis (Bar-Yossef et al. 2002; Beyer et al.
  // SIGMOD 2007) — the sketch-family member the battery still lacked:
  // q38's HLL estimates cardinality but is engine-internal (no oracle),
  // q151's CMS bounds frequencies, q228's Misra–Gries guarantees heavy
  // hitters; KMV adds a MERGEABLE distinct synopsis whose bits are
  // FULLY replayable cross-engine (the shared 60-bit md5 hash,
  // Dialect.sparkHash60/duckHash60), and — the property none of the
  // others have — bottom-k sketches are COORDINATED samples (Cohen &
  // Kaplan 2007): two groups' sketches compose into an unbiased
  // Jaccard estimator without touching the raw data again, which is
  // how a 100 TB pipeline estimates pairwise source overlap without a
  // vocab × vocab join per pair.
  //
  // Estimator: with h_(k) the k-th smallest of the group's distinct
  // 60-bit hash values, D̂ = (k−1)·2⁶⁰/h_(k); groups with ≤ k distinct
  // hashes report EXACTLY (mode='exact' — the KMV small-set guarantee).
  // The division runs in DOUBLE then floors: +,−,×,/ are IEEE-pinned
  // (correctly rounded — the q233 sqrt argument; only libm
  // transcendentals drift), so both engines floor the same double.
  // The in-row audit column err_permille compares D̂ against the exact
  // distinct count computed in the same pass — the q202/q220 pattern:
  // the hash proves the accuracy the sketch claims, not just its bits.
  //
  // Scale shape: the sketch build is one (group, value)-distinct
  // aggregate (vocabulary-bounded, never the token stream) + a
  // per-group bottom-k window over vocabulary-sized partitions; all
  // pairwise work in q240 runs on the |groups|·k sketch rows
  // (report-sized — 20 sources × 64 = 1,280 rows here), so the
  // estimator's cost is independent of the corpus. The exact-Jaccard
  // audit leg is the token-keyed self-join with fan-out ≤ C(|groups|,2)
  // per token — the only corpus-vocabulary-scale stage, and it exists
  // ONLY to score the estimator in-row.

  private val KmvK = 64

  private def kmvHashes(rows: DataFrame, grpCol: String,
      valCol: String): DataFrame =
    rows.select(col(grpCol).as("src"), col(valCol).as("t"))
      .distinct()
      .select(col("src"), expr(Dialect.sparkHash60("t")).as("h"))
      .distinct() // md5 collisions fold two values into one hash — the
                  // sketch estimates the HASH-set cardinality (contract)

  /** PUBLIC operator: per-group KMV distinct estimate with the exact
    * count audited in-row. One row per group: (group, n_h = exact
    * distinct hashes, h_k = the k-th minimum, est, mode
    * ('exact' | 'kmv'), err_permille). */
  def kmvDistinct(rows: DataFrame, grpCol: String, valCol: String,
      k: Int = KmvK): DataFrame = {
    require(k >= 2 && k <= 65536, s"kmvDistinct: k=$k outside 2..65536")
    val sh = kmvHashes(rows, grpCol, valCol)
    val w = Window.partitionBy("src").orderBy(col("h").asc)
    val nH = sh.groupBy("src").agg(count(lit(1)).as("n_h"))
    val hk = sh.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .groupBy("src").agg(max("h").as("h_k"))
    hk.join(nH, Seq("src"))
      .select(col("src").as(grpCol), col("n_h"), col("h_k"),
        when(col("n_h") <= k, col("n_h")).otherwise(expr(
          s"CAST(floor(${k - 1} * (CAST(1152921504606846976 AS DOUBLE)" +
            " / CAST(h_k AS DOUBLE))) AS BIGINT)")).as("est"),
        when(col("n_h") <= k, lit("exact")).otherwise(lit("kmv"))
          .as("mode"))
      // fail-loud before the permille rescale can wrap (a tiny h_k —
      // probability ~(k/2^60)^k — would make est astronomical)
      .where(coalesce(assert_true(
        col("est") <= lit(Long.MaxValue / 1000L),
        concat(lit("kmvDistinct: estimate overflows permille rescale " +
          "(est="), col("est"), lit(")"))), lit(true)))
      .withColumn("err_permille",
        expr("(1000 * abs(est - n_h)) div n_h"))
  }

  /** PUBLIC operator: pairwise Jaccard between groups, estimated from
    * the KMV sketches alone (coordinated bottom-k: J ≈ |A∩B restricted
    * to bottom-k(A∪B)| / |bottom-k(A∪B)|) and audited in-row against
    * the exact vocabulary Jaccard. One row per unordered group pair:
    * (src_a, src_b, n_union_k, n_match, jac_est_milli,
    * jac_exact_milli). */
  def kmvJaccard(rows: DataFrame, grpCol: String, valCol: String,
      k: Int = KmvK): DataFrame = {
    require(k >= 2 && k <= 65536, s"kmvJaccard: k=$k outside 2..65536")
    val vt = rows.select(col(grpCol).as("src"), col(valCol).as("t"))
      .distinct()
      .ckptLocal(eager = false) // sketches + exact audit leg
    val sh = vt.select(col("src"), expr(Dialect.sparkHash60("t")).as("h"))
      .distinct()
    val w = Window.partitionBy("src").orderBy(col("h").asc)
    val sk = sh.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k).select("src", "h")
      .ckptLocal(eager = true) // |groups|·k rows, four consumers
    val srcs = sk.select("src").distinct()
    val pp = srcs.select(col("src").as("sa"))
      .crossJoin(srcs.select(col("src").as("sb")))
      .where(col("sa") < col("sb")) // report-sized: |groups|² rows
    val uh = pp.join(sk.withColumnRenamed("src", "sa"), Seq("sa"))
      .select("sa", "sb", "h")
      .unionByName(pp.join(sk.withColumnRenamed("src", "sb"), Seq("sb"))
        .select("sa", "sb", "h"))
      .distinct()
    val wu = Window.partitionBy("sa", "sb").orderBy(col("h").asc)
    val bk = uh.withColumn("rn", row_number().over(wu))
      .where(col("rn") <= k)
    val m = bk
      .join(sk.select(col("src").as("sa"), col("h"), lit(1).as("ia")),
        Seq("sa", "h"), "left")
      .join(sk.select(col("src").as("sb"), col("h"), lit(1).as("ib")),
        Seq("sb", "h"), "left")
      .groupBy("sa", "sb")
      .agg(count(lit(1)).as("n_union_k"),
        sum(when(col("ia").isNotNull && col("ib").isNotNull, 1L)
          .otherwise(0L)).as("n_match"))
    val inter = vt.select(col("src").as("sa"), col("t"))
      .join(vt.select(col("src").as("sb"), col("t")), Seq("t"))
      .where(col("sa") < col("sb"))
      .groupBy("sa", "sb").agg(count(lit(1)).as("ninter"))
    val sizes = vt.groupBy("src").agg(count(lit(1)).as("nv"))
    m.join(inter, Seq("sa", "sb"), "left")
      .join(broadcast(sizes.select(col("src").as("sa"),
        col("nv").as("va"))), Seq("sa"))
      .join(broadcast(sizes.select(col("src").as("sb"),
        col("nv").as("vb"))), Seq("sb"))
      .select(col("sa").as("src_a"), col("sb").as("src_b"),
        col("n_union_k"), col("n_match"),
        expr("(1000 * n_match) div n_union_k").as("jac_est_milli"),
        expr("(1000 * coalesce(ninter, 0L)) div " +
          "(va + vb - coalesce(ninter, 0L))").as("jac_exact_milli"))
  }

  private def docTokens(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("source"), explode(expr(
        "regexp_extract_all(lower(text), '[a-z]+', 0)")).as("t"))

  private def q239(s: SparkSession, dir: String): DataFrame =
    kmvDistinct(docTokens(s, dir), "source", "t")

  private def q240(s: SparkSession, dir: String): DataFrame =
    kmvJaccard(docTokens(s, dir), "source", "t")

  private val kmvStSql: String =
    s"""WITH vt AS MATERIALIZED (
       |  SELECT DISTINCT source AS src,
       |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS t
       |  FROM documents
       |), st AS MATERIALIZED (
       |  SELECT DISTINCT src, ${Dialect.duckHash60("t")} AS h FROM vt
       |)""".stripMargin

  private val q239Sql: String =
    kmvStSql +
      s""", nh AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS n_h
         |         FROM st GROUP BY src),
         |hk AS (
         |  SELECT src, CAST(MAX(h) AS BIGINT) AS h_k FROM (
         |    SELECT src, h, ROW_NUMBER() OVER (PARTITION BY src
         |      ORDER BY h ASC) AS rn FROM st)
         |  WHERE rn <= $KmvK GROUP BY src
         |), est AS (
         |  SELECT hk.src, nh.n_h, hk.h_k,
         |    CASE WHEN nh.n_h <= $KmvK THEN nh.n_h
         |      ELSE CAST(FLOOR(${KmvK - 1} *
         |        (CAST(1152921504606846976 AS DOUBLE)
         |         / CAST(hk.h_k AS DOUBLE))) AS BIGINT) END AS est,
         |    CASE WHEN nh.n_h <= $KmvK THEN 'exact' ELSE 'kmv' END
         |      AS mode
         |  FROM hk JOIN nh ON nh.src = hk.src
         |)
         |SELECT src AS source, n_h, h_k, est, mode,
         |  (1000 * abs(est - n_h)) // n_h AS err_permille
         |FROM est""".stripMargin

  private val q240Sql: String =
    kmvStSql +
      s""", sk AS MATERIALIZED (
         |  SELECT src, h FROM (
         |    SELECT src, h, ROW_NUMBER() OVER (PARTITION BY src
         |      ORDER BY h ASC) AS rn FROM st)
         |  WHERE rn <= $KmvK
         |), pp AS (
         |  SELECT a.src AS sa, b.src AS sb
         |  FROM (SELECT DISTINCT src FROM sk) a,
         |       (SELECT DISTINCT src FROM sk) b
         |  WHERE a.src < b.src
         |), uh AS (
         |  SELECT DISTINCT sa, sb, h FROM (
         |    SELECT pp.sa, pp.sb, s.h FROM pp JOIN sk s ON s.src = pp.sa
         |    UNION ALL
         |    SELECT pp.sa, pp.sb, s.h FROM pp JOIN sk s ON s.src = pp.sb)
         |), bk AS (
         |  SELECT sa, sb, h FROM (
         |    SELECT sa, sb, h, ROW_NUMBER() OVER (PARTITION BY sa, sb
         |      ORDER BY h ASC) AS rn FROM uh)
         |  WHERE rn <= $KmvK
         |), mm AS (
         |  SELECT bk.sa, bk.sb, CAST(COUNT(*) AS BIGINT) AS n_union_k,
         |    CAST(SUM(CASE WHEN ia.h IS NOT NULL AND ib.h IS NOT NULL
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_match
         |  FROM bk
         |  LEFT JOIN sk ia ON ia.src = bk.sa AND ia.h = bk.h
         |  LEFT JOIN sk ib ON ib.src = bk.sb AND ib.h = bk.h
         |  GROUP BY bk.sa, bk.sb
         |), iz AS (
         |  SELECT a.src AS sa, b.src AS sb,
         |    CAST(COUNT(*) AS BIGINT) AS ninter
         |  FROM vt a JOIN vt b ON a.t = b.t AND a.src < b.src
         |  GROUP BY a.src, b.src
         |), sz AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS nv
         |          FROM vt GROUP BY src)
         |SELECT mm.sa AS src_a, mm.sb AS src_b, mm.n_union_k,
         |  mm.n_match,
         |  (1000 * mm.n_match) // mm.n_union_k AS jac_est_milli,
         |  (1000 * COALESCE(iz.ninter, 0))
         |    // (za.nv + zb.nv - COALESCE(iz.ninter, 0))
         |    AS jac_exact_milli
         |FROM mm
         |LEFT JOIN iz ON iz.sa = mm.sa AND iz.sb = mm.sb
         |JOIN sz za ON za.src = mm.sa
         |JOIN sz zb ON zb.src = mm.sb""".stripMargin

  // --- q241: STREAMING KMV merge (mergeability as the serving shape) -------
  // The property q239's scaladoc claims — "mergeable under any tree"
  // (bottom-k is a lattice: bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪
  // bottom-k(B)), so incremental merging loses nothing) — proven the
  // way the repo proves every streaming conversion (q122/q195/q198/
  // q230): documents arrive as a 4-file stream (maxFilesPerTrigger=1),
  // each micro-batch folds its own (group, hash)-distinct rows into
  // the PERSISTED k-row-per-group synopsis (read state → union →
  // re-take bottom-k → overwrite; the state parquet IS the sketch —
  // no state store, exactly the q230 argument), and the drained
  // synopsis is parity-gated against the one-shot batch sketch: zero
  // symmetric difference on the raw (group, hash) rows. The hash match
  // then pins the whole merge tree, not just the summary numbers.
  //
  // The per-group summary re-derives the estimate FROM THE SYNOPSIS
  // ALONE (n_in < k → the sketch is the complete hash set, exact;
  // n_in = k → the closed form) — the pure-sketch contract a serving
  // layer actually has, where the exact distinct count (q239's in-row
  // audit) is no longer available. At n_h = k exactly the two
  // contracts differ by design (q239 reports the exact count; the
  // synopsis alone cannot distinguish k from truncation).
  private def q241(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select("doc_id", "source", "text")
    def toTokens(df: DataFrame): DataFrame =
      df.select(col("source"), explode(expr(
        "regexp_extract_all(lower(text), '[a-z]+', 0)")).as("t"))
    val w = Window.partitionBy("src").orderBy(col("h").asc)
    // unscoped (no state store: the sketch parquet IS the state), so the
    // merge's batch plans keep the session's partitioning
    val (streamedSk, nBatches) = graft.streaming.StreamConf.drain(s, "q241",
        "append", stateParts = None,
        foreachBatch = Some(root => (mb: DataFrame, id: Long) => {
          val state = s"$root/sketch"
          val bh = kmvHashes(toTokens(mb), "source", "t")
          val merged = (if (graft.Fs.exists(s, state))
            s.read.parquet(state).unionByName(bh) else bh)
            .distinct()
            .withColumn("rn", row_number().over(w))
            .where(col("rn") <= KmvK).select("src", "h")
            // materialize BEFORE the overwrite clobbers the state this
            // plan reads (the read-modify-write hazard)
            .ckptLocal(eager = true)
          merged.write.mode("overwrite").parquet(state)
          mb.sparkSession.range(1).select(lit(id).as("batch_id"))
            .write.mode("append").parquet(s"$root/log")
        })) { root =>
      docs.repartition(4, col("doc_id"))
        .write.mode("overwrite").parquet(s"$root/in.parquet")
      Tables.stream(s, root, "in", filesPerTrigger = Some(1))
    } { leg =>
      // eager: the drained sketch outlives the scratch root
      (s.read.parquet(s"${leg.root}/sketch").ckptLocal(),
        s.read.parquet(s"${leg.root}/log").select("batch_id").distinct()
          .count())
    }
    val batchSk = kmvHashes(toTokens(docs), "source", "t")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= KmvK).select("src", "h")
    val nDiff = streamedSk.withColumn("side", lit(1))
      .unionByName(batchSk.withColumn("side", lit(2)))
      .groupBy("src", "h")
      .agg(count_distinct(col("side")).as("ns"))
      .filter(col("ns") =!= 2)
      .count()
    graft.ParityGate(
      streamedSk.groupBy("src")
        .agg(count(lit(1)).as("n_in"), max("h").as("h_k"))
        .select(col("src").as("source"), col("n_in"), col("h_k"),
          when(col("n_in") < KmvK, col("n_in")).otherwise(expr(
            s"CAST(floor(${KmvK - 1} * " +
              "(CAST(1152921504606846976 AS DOUBLE)" +
              " / CAST(h_k AS DOUBLE))) AS BIGINT)")).as("est"),
          when(col("n_in") < KmvK, lit("exact")).otherwise(lit("kmv"))
            .as("mode"))
        .withColumn("matches_batch", lit(nDiff == 0L))
        .withColumn("multi_batch", lit(nBatches >= 2L)),
      "q241_stream_kmv_merge", "matches_batch", "multi_batch")
  }

  private val q241Sql: String =
    kmvStSql +
      s""", sk AS (
         |  SELECT src, h FROM (
         |    SELECT src, h, ROW_NUMBER() OVER (PARTITION BY src
         |      ORDER BY h ASC) AS rn FROM st)
         |  WHERE rn <= $KmvK
         |), gg AS (
         |  SELECT src, CAST(COUNT(*) AS BIGINT) AS n_in,
         |    CAST(MAX(h) AS BIGINT) AS h_k
         |  FROM sk GROUP BY src
         |)
         |SELECT src AS source, n_in, h_k,
         |  CASE WHEN n_in < $KmvK THEN n_in
         |    ELSE CAST(FLOOR(${KmvK - 1} *
         |      (CAST(1152921504606846976 AS DOUBLE)
         |       / CAST(h_k AS DOUBLE))) AS BIGINT) END AS est,
         |  CASE WHEN n_in < $KmvK THEN 'exact' ELSE 'kmv' END AS mode,
         |  TRUE AS matches_batch, TRUE AS multi_batch
         |FROM gg""".stripMargin

  // --- q161: Welch two-sample t-test (A/B experiment readout) --------------
  // Per event_type: users split A/B by parity, the experiment's decision
  // row — per-arm counts/means, the Welch t statistic (unequal variances,
  // the safe default), Welch–Satterthwaite degrees of freedom, and the
  // |t| > 1.96 significance bit. Same algebraic-aggregate decomposition
  // as q67/q131: the hot path is ONE conditional-sum aggregate per
  // event_type ({n, Σy, Σy²} per arm, y in exact centi-units, Σy² in
  // DECIMAL(38,0) like q131's syy — per-row y² ≤ ~7e8 would overflow
  // int64 at ~1.3e10 rows/group), partition-order independent,
  // map-side-combining, one tiny shuffle. The t/df formulas are shared
  // DOUBLE expression text evaluated over those exact sums — identical
  // IEEE shape in both engines, stable under any partitioning.
  private val WelchVA =
    "((CAST(na AS DOUBLE) * CAST(qa AS DOUBLE) " +
      "- CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) " +
      "/ (CAST(na AS DOUBLE) * CAST(na AS DOUBLE) " +
      "* (CAST(na AS DOUBLE) - 1.0)))"
  private val WelchVB =
    "((CAST(nb AS DOUBLE) * CAST(qb AS DOUBLE) " +
      "- CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) " +
      "/ (CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE) " +
      "* (CAST(nb AS DOUBLE) - 1.0)))"
  private val WelchT =
    s"((CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) " +
      s"- CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) " +
      s"/ sqrt($WelchVA + $WelchVB))"
  private val WelchDf =
    s"((($WelchVA + $WelchVB) * ($WelchVA + $WelchVB)) " +
      s"/ ($WelchVA * $WelchVA / (CAST(na AS DOUBLE) - 1.0) " +
      s"+ $WelchVB * $WelchVB / (CAST(nb AS DOUBLE) - 1.0)))"

  private def q161(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .select(col("event_type"),
        expr("user_id % 2").as("arm"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("y"))
      .groupBy("event_type")
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("na"),
        sum(when(col("arm") === 0, col("y")).otherwise(0L)).as("sa"),
        sum(when(col("arm") === 0,
          expr("CAST(y AS DECIMAL(38,0)) * y")).otherwise(lit(0))).as("qa"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("nb"),
        sum(when(col("arm") === 1, col("y")).otherwise(0L)).as("sb"),
        sum(when(col("arm") === 1,
          expr("CAST(y AS DECIMAL(38,0)) * y")).otherwise(lit(0))).as("qb"))
      .select(col("event_type"), col("na"), col("nb"),
        expr("CASE WHEN na = 0 THEN CAST(NULL AS DOUBLE) ELSE " +
          "round(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) / 100.0, 6) END")
          .as("mean_a"),
        expr("CASE WHEN nb = 0 THEN CAST(NULL AS DOUBLE) ELSE " +
          "round(CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) / 100.0, 6) END")
          .as("mean_b"),
        // single-arm / degenerate groups (n < 2 on a side) have no
        // defined variance — NULL, not an engine-specific NaN
        expr(s"CASE WHEN na < 2 OR nb < 2 THEN CAST(NULL AS DOUBLE) " +
          s"ELSE round($WelchT, 6) END").as("t_stat"),
        expr(s"CASE WHEN na < 2 OR nb < 2 THEN CAST(NULL AS DOUBLE) " +
          s"ELSE round($WelchDf, 4) END").as("df"),
        expr(s"CAST(CASE WHEN na >= 2 AND nb >= 2 " +
          s"AND abs($WelchT) > 1.96 THEN 1 ELSE 0 END " +
          "AS BIGINT)").as("significant"))

  private val q161Sql =
    s"""WITH b AS (
       |  SELECT event_type, user_id % 2 AS arm,
       |    CAST(FLOOR(value * 100) AS BIGINT) AS y
       |  FROM events
       |), m AS (
       |  SELECT event_type,
       |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
       |    CAST(SUM(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS sa,
       |    SUM(CASE WHEN arm = 0 THEN CAST(y AS DECIMAL(38,0)) * y
       |        ELSE 0 END) AS qa,
       |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
       |    CAST(SUM(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS sb,
       |    SUM(CASE WHEN arm = 1 THEN CAST(y AS DECIMAL(38,0)) * y
       |        ELSE 0 END) AS qb
       |  FROM b GROUP BY event_type
       |)
       |SELECT event_type, na, nb,
       |  CASE WHEN na = 0 THEN CAST(NULL AS DOUBLE) ELSE
       |    round(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) / 100.0, 6) END
       |    AS mean_a,
       |  CASE WHEN nb = 0 THEN CAST(NULL AS DOUBLE) ELSE
       |    round(CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) / 100.0, 6) END
       |    AS mean_b,
       |  CASE WHEN na < 2 OR nb < 2 THEN CAST(NULL AS DOUBLE)
       |       ELSE round($WelchT, 6) END AS t_stat,
       |  CASE WHEN na < 2 OR nb < 2 THEN CAST(NULL AS DOUBLE)
       |       ELSE round($WelchDf, 4) END AS df,
       |  CAST(CASE WHEN na >= 2 AND nb >= 2 AND abs($WelchT) > 1.96
       |    THEN 1 ELSE 0 END AS BIGINT) AS significant
       |FROM m""".stripMargin

  // --- q166: exact grouped weighted median ---------------------------------
  // The quantity-weighted median unit price per return flag — the robust
  // "typical traded price" a plain median (every row equal) or mean
  // (outlier-dragged) both misstate. Exact and integer-only: prices in
  // cents, weights = whole units; lower weighted median pinned as the
  // smallest value v with 2·cumweight(≤v) ≥ totalweight (no float
  // interpolation, no half-weight edge case — the ≥ on doubled integers
  // is exact). Scale shape: pre-aggregate to (group, value) weight sums
  // FIRST (the value domain is what the window walks, not the row
  // count), then one cumulative-sum window and the total join share the
  // same (group) partitioning — one value-domain-sized shuffle, never a
  // row-sized sort of the fact table beyond the initial combine.
  /** Exact lower weighted median per group: the smallest value v with
    * 2·cumweight(≤v) ≥ totalweight (integer comparison — no float
    * interpolation, no half-weight edge case). Input columns: `groupCol`,
    * `valCol` (integer-ordered values), `weightCol` (integer weights).
    * Output: groupCol, `wmedian` (the median value), `total_weight`.
    * Plan shape: pre-aggregate to (group, value) weight sums first, then
    * the cumulative window and the group total share one (group)
    * partitioning — the window walks the value DOMAIN, not the rows.
    */
  def weightedMedian(df: DataFrame, groupCol: String, valCol: String,
      weightCol: String): DataFrame = {
    val byVal = df
      .groupBy(col(groupCol), col(valCol).as("__v"))
      .agg(sum(col(weightCol)).as("__wv"))
    val cum = Window.partitionBy(groupCol).orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(groupCol)
    byVal
      .withColumn("__cw", sum(col("__wv")).over(cum))
      .withColumn("__tw", sum(col("__wv")).over(tot))
      .filter(col("__cw") * 2 >= col("__tw"))
      .groupBy(col(groupCol))
      .agg(min(col("__v")).as("wmedian"),
        min(col("__tw")).as("total_weight"))
  }

  private def q166(s: SparkSession, dir: String): DataFrame =
    weightedMedian(
      Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag"),
          expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("v"),
          expr("CAST(floor(l_quantity) AS BIGINT)").as("w")),
      "l_returnflag", "v", "w")
      .withColumnRenamed("wmedian", "wmedian_cents")

  private val q166Sql =
    """WITH byval AS (
      |  SELECT l_returnflag,
      |    CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS v,
      |    CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS wv
      |  FROM lineitem GROUP BY 1, 2
      |), c AS (
      |  SELECT l_returnflag, v,
      |    CAST(SUM(wv) OVER (PARTITION BY l_returnflag ORDER BY v ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS cw,
      |    CAST(SUM(wv) OVER (PARTITION BY l_returnflag)
      |      AS BIGINT) AS tw
      |  FROM byval
      |)
      |SELECT l_returnflag, MIN(v) AS wmedian_cents,
      |  MIN(tw) AS total_weight
      |FROM c WHERE cw * 2 >= tw GROUP BY l_returnflag""".stripMargin

  // --- q169: key-skew profile (distributed Gini + concentration) -----------
  // The diagnosis a 100 TB join needs BEFORE it runs: how skewed is the
  // key distribution. One row per table-key-column profile: key count,
  // row count, hottest key's share, the Gini coefficient of rows-per-key
  // (0 = uniform, →1 = one key owns everything), and the share held by
  // the top decile of keys. Gini uses the rank formula
  // G = 2·Σ i·xᵢ / (n·Σx) − (n+1)/n over counts sorted ascending — the
  // rank i comes from [[graft.plans.PrefixSum.scan]], NOT a global
  // window: per-key counts can themselves be billions of rows, and the
  // two-pass bucketed scan ranks them with no single-partition sort
  // (ties on cnt can't straddle order because (cnt, key) is the scan
  // order and contributions i·xᵢ are tie-order invariant). Σ i·xᵢ
  // accumulates in DECIMAL(38,0) (i ≤ n keys, xᵢ row counts — the
  // product overflows int64 exactly at the scale this entry profiles);
  // the final Gini/shares are shared double expressions over exact sums.
  private val GiniExpr =
    "round(2.0 * CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE)) " +
      "- (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6)"

  private def q169(s: SparkSession, dir: String): DataFrame = {
    // localCheckpoint both stages: the scan evaluates its input ~3×
    // (quantile bounds + totals + local branches) and `ranked` feeds
    // three consumers below — without the pins the full-lineitem
    // per-key aggregate would re-run ~6× (house rule from the packing
    // scan; blocks freed by ContextCleaner when unreferenced)
    val perKey = Tables.load(s, dir, "lineitem")
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
      .withColumn("one", lit(1L))
      .ckptLocal(eager = false)
    val ranked = graft.plans.PrefixSum.scan(
      perKey, "cnt",
      Seq(col("cnt").asc, col("l_partkey").asc),
      Seq("one" -> "i"))
      .ckptLocal(eager = false)
    // top-decile mass: the 1-row key count broadcast against the ranked
    // frame, aggregate the keys whose rank clears n - n div 10
    val sTop = broadcast(ranked.groupBy().agg(count(lit(1)).as("nn")))
      .join(ranked, lit(true))
      .filter(col("i") > expr("nn - nn div 10"))
      .groupBy().agg(sum(col("cnt")).as("s_top"))
    ranked
      .groupBy()
      .agg(count(lit(1)).as("n"),
        sum(col("cnt")).as("s"),
        max(col("cnt")).as("max_cnt"),
        sum(expr("CAST(i AS DECIMAL(38,0)) * cnt")).as("s1"))
      .join(broadcast(sTop), lit(true))
      .select(col("n"), col("s").as("total_rows"), col("max_cnt"),
        expr("round(CAST(max_cnt AS DOUBLE) / CAST(s AS DOUBLE), 6)")
          .as("top1_share"),
        expr(GiniExpr).as("gini"),
        expr("round(CAST(s_top AS DOUBLE) / CAST(s AS DOUBLE), 6)")
          .as("top_decile_share"))
  }

  private val q169Sql =
    s"""WITH pk AS (
       |  SELECT l_partkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1
       |), r AS (
       |  SELECT cnt, CAST(ROW_NUMBER() OVER (ORDER BY cnt ASC,
       |    l_partkey ASC) AS BIGINT) AS i
       |  FROM pk
       |), m AS (
       |  SELECT COUNT(*) AS n, CAST(SUM(cnt) AS BIGINT) AS s,
       |    MAX(cnt) AS max_cnt,
       |    SUM(CAST(i AS DECIMAL(38,0)) * cnt) AS s1
       |  FROM r
       |), t AS (
       |  SELECT CAST(SUM(cnt) AS BIGINT) AS s_top
       |  FROM r WHERE i > (SELECT n - n // 10 FROM m)
       |)
       |SELECT n, s AS total_rows, max_cnt,
       |  round(CAST(max_cnt AS DOUBLE) / CAST(s AS DOUBLE), 6) AS top1_share,
       |  $GiniExpr AS gini,
       |  round(CAST(s_top AS DOUBLE) / CAST(s AS DOUBLE), 6)
       |    AS top_decile_share
       |FROM m, t""".stripMargin

  // --- q176: rank normalization (percentile feature scaling) ---------------
  // The outlier-proof feature transform: each event's value mapped to its
  // within-type percentile in integer milli-units,
  // pctl = 1000·(rank−1) div (n−1) (min → 0, max → 1000, n = 1 → 500).
  // Rank = row_number under a pinned (v100, event_id) total order —
  // average-rank tie handling would need a second pass; the pinned
  // tiebreak keeps one rank pass and stays deterministic. Per-type
  // WINDOW ranks serialize one task per type (q109's failure mode;
  // this entry measured 10.3× for the 10× step to sf10), so the rank
  // comes from the grouped [[graft.plans.PrefixSum.rowNumber]] scan and
  // n from a broadcast per-type count. Output sampled to every 7th
  // event to keep the battery row count honest (AFTER ranking — the
  // percentile is against the full population).
  private def q176(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("v100"))
      .ckptLocal(eager = false)
    val r = graft.plans.PrefixSum.rowNumber(
        base, "v100", Seq(col("v100").asc, col("event_id").asc),
        "rk", groupCols = Seq("event_type"))
      .ckptLocal(eager = false)
    val counts = r.groupBy("event_type").agg(count(lit(1)).as("n"))
    r.join(broadcast(counts), Seq("event_type"))
      .filter(col("event_id") % 7 === 0)
      .select(col("event_id"), col("event_type"), col("v100"),
        expr("CASE WHEN n = 1 THEN 500L " +
          "ELSE (1000 * (rk - 1)) div (n - 1) END").as("pctl_milli"))
  }

  private val q176Sql =
    """WITH r AS (
      |  SELECT event_id, event_type,
      |    CAST(FLOOR(value * 100) AS BIGINT) AS v100,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY CAST(FLOOR(value * 100) AS BIGINT) ASC, event_id ASC)
      |      AS BIGINT) AS rk,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM events
      |)
      |SELECT event_id, event_type, v100,
      |  CASE WHEN n = 1 THEN 500
      |       ELSE (1000 * (rk - 1)) // (n - 1) END AS pctl_milli
      |FROM r WHERE event_id % 7 = 0""".stripMargin

  // --- q177: feature hashing (the hashing trick) ---------------------------
  // Categorical → fixed-width feature space without a vocabulary pass:
  // bucket = hash60(feature ':' value) mod 64 over two categorical
  // columns (event_type, user_id mod 100 as a high-cardinality proxy).
  // The audit is the collision profile a feature-hashed model needs to
  // trust the width: per bucket, row mass and how many DISTINCT source
  // categories collided there. Stateless bucket assignment (shuffle-free
  // until the audit aggregate); the same hash60 literal runs on both
  // engines so bucket ids are bit-identical. | elements: feature name
  // rides IN the hash input, the standard namespacing trick.
  private def q177(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val typeBucket = Dialect.sparkHash60("concat('et:', event_type)")
    val userBucket = Dialect.sparkHash60(
      "concat('ub:', CAST(user_id % 100 AS STRING))")
    ev.select(
        expr(s"pmod($typeBucket, 64)").as("bucket"),
        expr("concat('et:', event_type)").as("cat"))
      .unionAll(ev.select(
        expr(s"pmod($userBucket, 64)").as("bucket"),
        expr("concat('ub:', CAST(user_id % 100 AS STRING))").as("cat")))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("cat")).as("n_cats"))
  }

  private val q177Sql = {
    val tb = Dialect.duckHash60("concat('et:', event_type)")
    val ub = Dialect.duckHash60(
      "concat('ub:', CAST(user_id % 100 AS VARCHAR))")
    s"""WITH f AS (
       |  SELECT $tb % 64 AS bucket, concat('et:', event_type) AS cat
       |  FROM events
       |  UNION ALL
       |  SELECT $ub % 64, concat('ub:', CAST(user_id % 100 AS VARCHAR))
       |  FROM events
       |)
       |SELECT bucket, COUNT(*) AS n_rows,
       |  CAST(COUNT(DISTINCT cat) AS BIGINT) AS n_cats
       |FROM f GROUP BY bucket""".stripMargin
  }

  // --- q178: leave-one-out target encoding ---------------------------------
  // The supervised categorical encoder that must NOT leak the row's own
  // label: for each order, its priority's mean order value EXCLUDING
  // itself — (S_c − y) div (n_c − 1) in exact integer cents; singleton
  // categories fall back to the global LOO mean (same formula over the
  // whole table). One grouped aggregate broadcast back over the fact
  // rows (categories are tiny vs rows), plus a 1-row global frame: no
  // window at all, so the encode is a pure map stage at 100 TB. Output
  // sampled to every 11th order.
  private def q178(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("y"))
    val perCat = o.groupBy("o_orderpriority")
      .agg(sum(col("y")).as("sc"), count(lit(1)).as("nc"))
    val global = o.groupBy()
      .agg(sum(col("y")).as("sg"), count(lit(1)).as("ng"))
    o.join(broadcast(perCat), Seq("o_orderpriority"))
      .join(broadcast(global), lit(true))
      .filter(col("o_orderkey") % 11 === 0)
      .select(col("o_orderkey"), col("o_orderpriority"), col("y"),
        expr("CASE WHEN nc > 1 THEN (sc - y) div (nc - 1) " +
          "ELSE (sg - y) div (ng - 1) END").as("loo_cents"))
  }

  private val q178Sql =
    """WITH o AS (
      |  SELECT o_orderkey, o_orderpriority,
      |    CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS y
      |  FROM orders
      |), pc AS (
      |  SELECT o_orderpriority, CAST(SUM(y) AS BIGINT) AS sc,
      |    COUNT(*) AS nc
      |  FROM o GROUP BY 1
      |), g AS (
      |  SELECT CAST(SUM(y) AS BIGINT) AS sg, COUNT(*) AS ng FROM o
      |)
      |SELECT o_orderkey, o.o_orderpriority, y,
      |  CASE WHEN nc > 1 THEN (sc - y) // (nc - 1)
      |       ELSE (sg - y) // (ng - 1) END AS loo_cents
      |FROM o JOIN pc ON o.o_orderpriority = pc.o_orderpriority, g
      |WHERE o_orderkey % 11 = 0""".stripMargin

  // --- q185: Mann–Whitney U test (nonparametric A/B) ------------------------
  // q161's nonparametric sibling — no normality assumption, the robust
  // default when the metric is skewed. Exact integer machinery: ranks
  // with tie-averaging stay integral when DOUBLED (a tie block spanning
  // ranks [cb+1, cb+cnt] has 2·avgrank = 2·cb + cnt + 1), so
  // 2·R₁ = Σ_values nA(v)·(2·cb + cnt + 1) and 2·U₁ = 2·R₁ − nA(nA+1)
  // are exact BIGINTs replayed bit-for-bit by the oracle (2·R₁ is
  // bounded by na·2n, so int64 holds to ~3e9 rows per event_type —
  // beyond that switch r2 to DECIMAL(38,0), q131's syy lever; past the
  // bound Spark would wrap silently while DuckDB's HUGEINT cast
  // errors, so the oracle fails loud rather than agreeing). The normal
  // approximation z = (U₁ − nAnB/2)/√(nAnB(n+1)/12) (no tie correction —
  // ties here are sparse centi-units; documented) is one shared double
  // expression. Plan: per-(type, value) conditional counts, ONE
  // cumulative window over the value domain (q166's discipline), then a
  // per-type fold — the fact table never sorts globally.
  private val MwMu = "(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 2.0)"
  private val MwSigma =
    "sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) " +
      "* (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) + 1.0) / 12.0)"
  private val MwZ =
    s"((CAST(u2 AS DOUBLE) / 2.0 - $MwMu) / $MwSigma)"

  private def q185(s: SparkSession, dir: String): DataFrame = {
    val byVal = Tables.load(s, dir, "events")
      .select(col("event_type"),
        expr("user_id % 2").as("arm"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("v"))
      .groupBy("event_type", "v")
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("nav"))
    val cum = Window.partitionBy("event_type").orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    byVal
      .withColumn("cb", coalesce(sum(col("cnt")).over(cum), lit(0L)))
      .groupBy("event_type")
      .agg(sum(col("nav")).as("na"),
        sum(col("cnt") - col("nav")).as("nb"),
        sum(expr("nav * (2 * cb + cnt + 1)")).as("r2"))
      .select(col("event_type"), col("na"), col("nb"),
        expr("r2 - na * (na + 1)").as("u2"))
      .select(col("event_type"), col("na"), col("nb"), col("u2"),
        // an empty arm has no defined U distribution — NULL, not NaN
        expr(s"CASE WHEN na = 0 OR nb = 0 THEN CAST(NULL AS DOUBLE) " +
          s"ELSE round($MwZ, 6) END").as("z"),
        expr(s"CAST(na > 0 AND nb > 0 AND abs($MwZ) > 1.96 AS BIGINT)")
          .as("significant"))
  }

  private val q185Sql =
    s"""WITH b AS (
       |  SELECT event_type, user_id % 2 AS arm,
       |    CAST(FLOOR(value * 100) AS BIGINT) AS v
       |  FROM events
       |), byval AS (
       |  SELECT event_type, v, COUNT(*) AS cnt,
       |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nav
       |  FROM b GROUP BY 1, 2
       |), r AS (
       |  SELECT event_type, v, cnt, nav,
       |    CAST(COALESCE(SUM(cnt) OVER (PARTITION BY event_type
       |      ORDER BY v ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS cb
       |  FROM byval
       |), m AS (
       |  SELECT event_type,
       |    CAST(SUM(nav) AS BIGINT) AS na,
       |    CAST(SUM(cnt - nav) AS BIGINT) AS nb,
       |    CAST(SUM(nav * (2 * cb + cnt + 1)) AS BIGINT) AS r2
       |  FROM r GROUP BY 1
       |), u AS (
       |  SELECT event_type, na, nb, r2 - na * (na + 1) AS u2 FROM m
       |)
       |SELECT event_type, na, nb, u2,
       |  CASE WHEN na = 0 OR nb = 0 THEN CAST(NULL AS DOUBLE)
       |       ELSE round($MwZ, 6) END AS z,
       |  CAST(na > 0 AND nb > 0 AND abs($MwZ) > 1.96 AS BIGINT)
       |    AS significant
       |FROM u""".stripMargin

  // --- q186: seasonal baseline + residual outliers --------------------------
  // Operational anomaly detection with seasonality removed: the baseline
  // is the per-(type, hour-of-day) profile — exact {n, Σy, Σy²} sums →
  // mean/stddev as shared doubles (q67's algebraic contract) — and an
  // outlier is a reading beyond mean ± 3σ FOR ITS OWN (type, hour) cell,
  // so a nightly-quiet metric isn't flagged every busy noon. Two passes:
  // the profile aggregate (|types|×24 rows, broadcast), then one scan
  // counting residual outliers per cell — no window over the fact table.
  private def q186(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .select(col("event_type"),
        expr("((ts div 1000) div 3600000000) % 24").as("hour"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("y"))
    val prof = ev.groupBy("event_type", "hour")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
      .withColumn("mean_c", expr("CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)"))
      .withColumn("sd_c", expr(
        "CASE WHEN n < 2 THEN CAST(0.0 AS DOUBLE) ELSE " +
          "sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) " +
          "- CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) " +
          "/ (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) END"))
    ev.join(broadcast(prof), Seq("event_type", "hour"))
      .groupBy("event_type", "hour")
      .agg(count(lit(1)).as("n"),
        expr("round(min(mean_c), 4)").as("mean_cents"),
        expr("round(min(sd_c), 4)").as("sd_cents"),
        sum(expr("CAST(abs(CAST(y AS DOUBLE) - mean_c) > 3.0 * sd_c " +
          "AS BIGINT)")).as("n_outliers"))
  }

  private val q186Sql =
    """WITH ev AS (
      |  SELECT event_type,
      |    (epoch_us(ts) // 3600000000) % 24 AS hour,
      |    CAST(FLOOR(value * 100) AS BIGINT) AS y
      |  FROM events
      |), prof AS (
      |  SELECT event_type, hour, COUNT(*) AS n,
      |    CAST(SUM(y) AS BIGINT) AS sy,
      |    SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy
      |  FROM ev GROUP BY 1, 2
      |), p2 AS (
      |  SELECT *,
      |    CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mean_c,
      |    CASE WHEN n < 2 THEN CAST(0.0 AS DOUBLE) ELSE
      |      sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
      |        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) END
      |      AS sd_c
      |  FROM prof
      |)
      |SELECT ev.event_type, ev.hour, COUNT(*) AS n,
      |  round(MIN(mean_c), 4) AS mean_cents,
      |  round(MIN(sd_c), 4) AS sd_cents,
      |  CAST(SUM(CAST(abs(CAST(y AS DOUBLE) - mean_c) > 3.0 * sd_c
      |    AS BIGINT)) AS BIGINT) AS n_outliers
      |FROM ev JOIN p2 ON ev.event_type = p2.event_type
      |  AND ev.hour = p2.hour
      |GROUP BY 1, 2""".stripMargin

  // --- q189: rolling correlation between two series -------------------------
  // The co-movement monitor: 7-day rolling Pearson correlation between
  // the daily click and view totals. Exact integer sufficient sums
  // {Σx, Σy, Σxy, Σx², Σy²} accumulate inside ONE bounded ROWS window
  // (6 preceding + current — state O(frame), q152's discipline) over the
  // joined daily grid; the correlation is q67's closed-form shared
  // double over those sums, NULL until the frame is full (n < 7) and
  // NULL when either side is constant in the frame (zero variance —
  // undefined, not 0). Day grid via INNER join of the two daily
  // aggregates (a day silent on either series has no defined pair).
  // Per-row xy/x² products stay in int64: daily totals ≤ ~9.6e8 cents
  // before the square risks overflow — cents-scale daily sums are safe
  // to ~1e9/day; beyond that swap the sums to DECIMAL like q131's syy.
  private val RollN = 7
  private val CorrNum =
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) " +
      "- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
  private val CorrDen =
    "sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) " +
      "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) " +
      "* sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) " +
      "- CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"

  private def q189(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .select(col("event_type"),
        expr("(ts div 1000) div 86400000000").as("day"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("v"))
    def daily(kind: String, as: String) =
      ev.filter(col("event_type") === kind)
        .groupBy("day").agg(sum(col("v")).as(as))
    val grid = daily("click", "x").join(daily("view", "y"), Seq("day"))
    // Unpartitioned window over the DAILY grid: report-sized by
    // construction (one row per day — years fit in one task), the same
    // single-partition frame q171/q181 document. Copying this shape to a
    // finer grain (per-minute, per-entity) would serialize the sort —
    // partition the window by a coarse bucket and stitch edges there.
    val w = Window.orderBy(col("day").asc)
      .rowsBetween(-(RollN - 1), Window.currentRow)
    grid
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(col("x")).over(w))
      .withColumn("sy", sum(col("y")).over(w))
      .withColumn("sxy", sum(expr("x * y")).over(w))
      .withColumn("sxx", sum(expr("x * x")).over(w))
      .withColumn("syy", sum(expr("y * y")).over(w))
      .select(col("day"), col("x"), col("y"),
        // zero-variance detection is EXACT (decimal n·sxx = sx², not
        // the double CorrDen = 0.0 — which misses once the sums pass
        // 2^53 and the casts round): a constant window must yield NULL
        // on both engines, never rounding-noise or sqrt(negative)
        expr(s"CASE WHEN n < $RollN " +
          "OR CAST(n AS DECIMAL(38,0)) * sxx = CAST(sx AS DECIMAL(38,0)) * sx " +
          "OR CAST(n AS DECIMAL(38,0)) * syy = CAST(sy AS DECIMAL(38,0)) * sy " +
          s"THEN CAST(NULL AS DOUBLE) " +
          s"ELSE round($CorrNum / ($CorrDen), 6) END").as("corr7"))
  }

  private val q189Sql =
    s"""WITH ev AS (
       |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
       |    CAST(FLOOR(value * 100) AS BIGINT) AS v
       |  FROM events
       |), cx AS (
       |  SELECT day, CAST(SUM(v) AS BIGINT) AS x FROM ev
       |  WHERE event_type = 'click' GROUP BY 1
       |), cy AS (
       |  SELECT day, CAST(SUM(v) AS BIGINT) AS y FROM ev
       |  WHERE event_type = 'view' GROUP BY 1
       |), grid AS (
       |  SELECT cx.day, x, y FROM cx JOIN cy ON cx.day = cy.day
       |), r AS (
       |  SELECT day, x, y,
       |    COUNT(*) OVER w AS n,
       |    CAST(SUM(x) OVER w AS BIGINT) AS sx,
       |    CAST(SUM(y) OVER w AS BIGINT) AS sy,
       |    CAST(SUM(x * y) OVER w AS BIGINT) AS sxy,
       |    CAST(SUM(x * x) OVER w AS BIGINT) AS sxx,
       |    CAST(SUM(y * y) OVER w AS BIGINT) AS syy
       |  FROM grid
       |  WINDOW w AS (ORDER BY day ASC
       |    ROWS BETWEEN ${RollN - 1} PRECEDING AND CURRENT ROW)
       |)
       |SELECT day, x, y,
       |  CASE WHEN n < $RollN
       |    OR CAST(n AS DECIMAL(38,0)) * sxx = CAST(sx AS DECIMAL(38,0)) * sx
       |    OR CAST(n AS DECIMAL(38,0)) * syy = CAST(sy AS DECIMAL(38,0)) * sy
       |       THEN CAST(NULL AS DOUBLE)
       |       ELSE round($CorrNum / ($CorrDen), 6) END AS corr7
       |FROM r""".stripMargin

  // --- q190: distribution-drift monitor (chi-square distance) ---------------
  // Data-quality drift between the fixture's first and second time
  // halves: per event_type, each half's value distribution over ten
  // fixed decile-ish bins (global integer bin edges from the full-range
  // midpoint rule — deterministic, not data-quantile), then the
  // chi-square distance Σ (pᵢ−qᵢ)²/(pᵢ+qᵢ) over per-mille proportions.
  // Chi-square rather than PSI/KL on purpose: no logarithm (q132's libm
  // lesson) — and the statistic is kept in EXACT integer micro-units
  // (Σ 1e6·(p−q)² div (p+q)): a double Σ over bins would make the
  // result depend on FP summation order across partitions, the very
  // trap the q67 moment decomposition exists to avoid. Zero-mass bins
  // contribute 0 (guarded); one-sided bins zero-fill through the full
  // outer join. One aggregate per (type, half, bin) + a report-sized
  // reshape.
  private def q190(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .select(col("event_type"), expr("ts div 1000").as("ts_us"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("v"))
    val mid = ev.agg(min(col("ts_us")).as("mn"), max(col("ts_us")).as("mx"))
      .selectExpr("(mn + mx) div 2 AS mid", "mn", "mx")
    val binned = ev.join(broadcast(mid), lit(true))
      .select(col("event_type"),
        expr("CAST(ts_us >= mid AS INT)").as("half"),
        // 10 fixed bins over the value's centi-unit range [0, 30000)
        expr("least(greatest(v div 3000, 0L), 9L)").as("bin"))
      .groupBy("event_type", "half", "bin")
      .agg(count(lit(1)).as("n"))
    val tot = binned.groupBy("event_type", "half")
      .agg(sum(col("n")).as("tot"))
    val pm = binned.join(tot, Seq("event_type", "half"))
      .select(col("event_type"), col("half"), col("bin"),
        expr("(1000 * n) div tot").as("pm"))
    val p = pm.filter(col("half") === 0)
      .select(col("event_type"), col("bin"), col("pm").as("p"))
    val q = pm.filter(col("half") === 1)
      .select(col("event_type"), col("bin"), col("pm").as("q"))
    p.join(q, Seq("event_type", "bin"), "full_outer")
      .select(col("event_type"),
        coalesce(col("p"), lit(0L)).as("p"),
        coalesce(col("q"), lit(0L)).as("q"))
      .groupBy("event_type")
      .agg(sum(expr(
        "CASE WHEN p + q = 0 THEN 0L ELSE " +
          "(1000000 * (p - q) * (p - q)) div (p + q) END"))
        .as("chi2_micro"))
  }

  private val q190Sql =
    """WITH ev AS (
      |  SELECT event_type, epoch_us(ts) AS ts_us,
      |    CAST(FLOOR(value * 100) AS BIGINT) AS v
      |  FROM events
      |), mid AS (
      |  SELECT (MIN(ts_us) + MAX(ts_us)) // 2 AS mid FROM ev
      |), binned AS (
      |  SELECT event_type,
      |    CAST(ts_us >= mid AS INT) AS half,
      |    least(greatest(v // 3000, 0), 9) AS bin,
      |    COUNT(*) AS n
      |  FROM ev, mid GROUP BY 1, 2, 3
      |), tot AS (
      |  SELECT event_type, half, CAST(SUM(n) AS BIGINT) AS tot
      |  FROM binned GROUP BY 1, 2
      |), pm AS (
      |  SELECT b.event_type, b.half, b.bin,
      |    (1000 * n) // tot AS pm
      |  FROM binned b JOIN tot USING (event_type, half)
      |), j AS (
      |  SELECT COALESCE(p.event_type, q.event_type) AS event_type,
      |    COALESCE(p.pm, 0) AS p, COALESCE(q.pm, 0) AS q
      |  FROM (SELECT * FROM pm WHERE half = 0) p
      |  FULL OUTER JOIN (SELECT * FROM pm WHERE half = 1) q
      |    ON p.event_type = q.event_type AND p.bin = q.bin
      |)
      |SELECT event_type,
      |  CAST(SUM(CASE WHEN p + q = 0 THEN 0
      |    ELSE (1000000 * (p - q) * (p - q)) // (p + q) END)
      |    AS BIGINT) AS chi2_micro
      |FROM j GROUP BY 1""".stripMargin

  // --- q244: block-sampling design-effect audit (cluster sampling) --------
  // What TABLESAMPLE actually does at 100 TB: engines sample whole
  // FILES/blocks, not rows — cheap (no full scan) but statistically
  // worse when values cluster within blocks. This entry measures that
  // trade exactly, on the classic survey-sampling decomposition
  // (Kish 1965, "design effect"): lineitem is cut into equal 128-row
  // blocks in insertion order (PrefixSum global rank — the distributed
  // substitute for a single-partition ROW_NUMBER), a 10% BLOCK sample
  // and a 10% ROW sample are drawn by the shared replayable 60-bit
  // hash, and the audit row carries both Horvitz-Thompson totals with
  // their realized errors PLUS the exact ANOVA decomposition behind
  // them: intraclass correlation ρ̂ = (MSB−MSW)/(MSB+(m−1)·MSW) and
  // deff = 1+(m−1)·ρ̂ — the factor by which block sampling inflates
  // variance over row sampling for this table layout.
  //
  // Exactness contract: every aggregate is an exact BIGINT sum (T=Σq,
  // Q=Σq², S2=Σ s_b² — s_b ≤ 128·50 keeps s_b² ≤ 4.1e7, so S2 stays
  // within BIGINT to ~10¹¹ blocks); the final ratios are ONE double
  // expression over those exact sums, written with identical shape in
  // the oracle (IEEE ops are deterministic; only SUM order isn't, and
  // no double is ever summed). Ragged tail rows beyond the last full
  // block are excluded deterministically on both sides.
  private val BlkM = 128

  private def q244(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        expr("CAST(l_quantity AS BIGINT)").as("q"))
    val ranked = graft.plans.PrefixSum.rowNumber(li, "l_orderkey",
      Seq(col("l_orderkey"), col("l_linenumber")), "rn")
    val n = li.count() // bounded driver scalar (q228 pattern)
    val nBlocks = n / BlkM
    require(nBlocks >= 2, s"q244: need >= 2 full $BlkM-row blocks, n=$n")
    val nUsed = nBlocks * BlkM
    val used = ranked.filter(col("rn") <= nUsed)
      .withColumn("bk", expr(s"(rn - 1) DIV $BlkM"))
      .withColumn("rsel",
        expr(Dialect.sparkHash60(
          "concat(CAST(l_orderkey AS STRING), '|', " +
            "CAST(l_linenumber AS STRING))") + " % 10 = 0"))
    val blocks = used.groupBy("bk")
      .agg(sum(col("q")).as("s_b"),
        sum(when(col("rsel"), col("q")).otherwise(0L)).as("s_row"))
      .withColumn("bsel",
        expr(Dialect.sparkHash60("CAST(bk AS STRING)") + " % 10 = 0"))
    val a = blocks.agg(
      sum(col("s_b")).as("t_true"),
      sum(expr("s_b * s_b")).as("s2"),
      sum(when(col("bsel"), col("s_b")).otherwise(0L)).as("t_bsel"),
      sum(col("s_row")).as("t_rsel"))
    val qq = used.agg(sum(expr("q * q")).as("qsq"))
    a.crossJoin(qq)
      .select(lit(nUsed).as("n_used"), lit(nBlocks).as("n_blocks"),
        lit(BlkM.toLong).as("block_m"), col("t_true"),
        expr("10 * t_bsel").as("est_block"),
        expr("10 * t_rsel").as("est_row"),
        expr("abs(10 * t_bsel - t_true)").as("err_block"),
        expr("abs(10 * t_rsel - t_true)").as("err_row"),
        expr(deffExpr(s"CAST($nUsed AS DOUBLE)",
          s"CAST($nBlocks AS DOUBLE)", "icc")).as("icc"),
        expr(deffExpr(s"CAST($nUsed AS DOUBLE)",
          s"CAST($nBlocks AS DOUBLE)", "deff")).as("deff"))
  }

  /** The shared double-expression tail of q244: identical text feeds
    * Spark and (with n/M spelled as SQL subexpressions) DuckDB, so the
    * IEEE evaluation shape is pinned once. `which` ∈ {icc, deff}.
    */
  private def deffExpr(nud: String, md: String, which: String): String = {
    val m = s"CAST($BlkM AS DOUBLE)"
    val ssb = s"(CAST(s2 AS DOUBLE) / $m - CAST(t_true AS DOUBLE) * " +
      s"CAST(t_true AS DOUBLE) / $nud)"
    val msb = s"($ssb / ($md - 1.0))"
    val msw = s"((CAST(qsq AS DOUBLE) - CAST(s2 AS DOUBLE) / $m) / " +
      s"($nud - $md))"
    val icc = s"(($msb - $msw) / ($msb + ($m - 1.0) * $msw))"
    which match {
      case "icc"  => s"round($icc, 6)"
      case "deff" => s"round(1.0 + ($m - 1.0) * $icc, 6)"
    }
  }

  private val q244Sql = {
    val rh = Dialect.duckHash60(
      "concat(CAST(l_orderkey AS VARCHAR), '|', " +
        "CAST(l_linenumber AS VARCHAR))")
    val bh = Dialect.duckHash60("CAST(bk AS VARCHAR)")
    val nud = "CAST(n_used AS DOUBLE)"
    val md = "CAST(n_blocks AS DOUBLE)"
    val m = s"CAST($BlkM AS DOUBLE)"
    val ssb = s"(CAST(s2 AS DOUBLE) / $m - CAST(t_true AS DOUBLE) * " +
      s"CAST(t_true AS DOUBLE) / $nud)"
    val msb = s"($ssb / ($md - 1.0))"
    val msw = s"((CAST(qsq AS DOUBLE) - CAST(s2 AS DOUBLE) / $m) / " +
      s"($nud - $md))"
    val icc = s"(($msb - $msw) / ($msb + ($m - 1.0) * $msw))"
    s"""WITH ranked AS (
       |  SELECT CAST(l_quantity AS BIGINT) AS q,
       |    ($rh % 10 = 0) AS rsel,
       |    ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
       |  FROM lineitem
       |), lim AS (
       |  SELECT (COUNT(*) // $BlkM) * $BlkM AS n_used,
       |    COUNT(*) // $BlkM AS n_blocks
       |  FROM lineitem
       |), used AS (
       |  SELECT q, rsel, (rn - 1) // $BlkM AS bk
       |  FROM ranked CROSS JOIN lim WHERE rn <= n_used
       |), blocks AS (
       |  SELECT bk, SUM(q) AS s_b,
       |    SUM(CASE WHEN rsel THEN q ELSE 0 END) AS s_row
       |  FROM used GROUP BY bk
       |), a AS (
       |  SELECT CAST(SUM(s_b) AS BIGINT) AS t_true,
       |    CAST(SUM(s_b * s_b) AS BIGINT) AS s2,
       |    CAST(SUM(CASE WHEN $bh % 10 = 0 THEN s_b ELSE 0 END)
       |      AS BIGINT) AS t_bsel,
       |    CAST(SUM(s_row) AS BIGINT) AS t_rsel
       |  FROM blocks
       |), qq AS (
       |  SELECT CAST(SUM(q * q) AS BIGINT) AS qsq FROM used
       |)
       |SELECT n_used, n_blocks, CAST($BlkM AS BIGINT) AS block_m,
       |  t_true,
       |  10 * t_bsel AS est_block, 10 * t_rsel AS est_row,
       |  abs(10 * t_bsel - t_true) AS err_block,
       |  abs(10 * t_rsel - t_true) AS err_row,
       |  round($icc, 6) AS icc,
       |  round(1.0 + ($m - 1.0) * $icc, 6) AS deff
       |FROM a CROSS JOIN qq CROSS JOIN lim""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q244_block_sample_deff" -> q244 _,
    "q189_rolling_corr" -> q189 _,
    "q190_dist_drift" -> q190 _,
    "q185_mann_whitney" -> q185 _,
    "q186_seasonal_outliers" -> q186 _,
    "q176_rank_normalize" -> q176 _,
    "q177_feature_hashing" -> q177 _,
    "q178_target_encoding" -> q178 _,
    "q169_skew_profile" -> q169 _,
    "q166_weighted_median" -> q166 _,
    "q161_ab_welch" -> q161 _,
    "q151_cms_prefilter" -> q151 _,
    "q228_heavy_hitters" -> q228 _,
    "q239_kmv_distinct" -> q239 _,
    "q240_kmv_jaccard" -> q240 _,
    "q241_stream_kmv_merge" -> q241 _,
    "q130_table_profile" -> q130 _,
    "q131_groupwise_ols" -> q131 _,
    "q140_chi2_independence" -> q140 _,
    "q109_winsorize" -> q109 _,
    "q115_mad_outliers" -> q115 _,
    "q114_histogram" -> q114 _,
    "q67_exact_moments" -> q67 _,
    "q68_string_agg" -> q68 _,
    "q71_ntile" -> q71 _,
    "q76_approx_percentile" -> q76 _)

  // q76 has no oracle by design: the quantile sketch is engine-specific;
  // its within_1pct bits assert accuracy against the exact percentiles.
  val oracleSql: Map[String, String] = Map(
    "q244_block_sample_deff" -> q244Sql,
    "q76_approx_percentile" -> q76Sql,
    "q189_rolling_corr" -> q189Sql,
    "q190_dist_drift" -> q190Sql,
    "q185_mann_whitney" -> q185Sql,
    "q186_seasonal_outliers" -> q186Sql,
    "q176_rank_normalize" -> q176Sql,
    "q177_feature_hashing" -> q177Sql,
    "q178_target_encoding" -> q178Sql,
    "q169_skew_profile" -> q169Sql,
    "q166_weighted_median" -> q166Sql,
    "q161_ab_welch" -> q161Sql,
    "q151_cms_prefilter" -> q151Sql,
    "q228_heavy_hitters" -> q228Sql,
    "q239_kmv_distinct" -> q239Sql,
    "q240_kmv_jaccard" -> q240Sql,
    "q241_stream_kmv_merge" -> q241Sql,
    "q130_table_profile" -> q130Sql,
    "q131_groupwise_ols" -> q131Sql,
    "q140_chi2_independence" -> q140Sql,
    "q109_winsorize" -> q109Sql,
    "q115_mad_outliers" -> q115Sql,
    "q114_histogram" -> q114Sql,
    "q67_exact_moments" -> q67Sql,
    "q68_string_agg" -> q68Sql,
    "q71_ntile" -> q71Sql)
}
