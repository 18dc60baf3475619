package graft.ops

import graft.CkptLocalOps
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic relational surface (SURVEY.md §2.8): the query shapes the
  * reference's workload implies (projection, filter, aggregation) plus the
  * full relational complement Spark provides for free — joins (inner /
  * semi / anti / multi-way), windows, rollup/cube/grouping-sets, set ops,
  * distinct aggregation, string/date/regex scalar functions, top-k.
  *
  * Oracle-parity rules used throughout this codebase:
  *   - Every aggregated double is cast to DECIMAL before SUM so the result
  *     is exact and independent of partition/association order; the final
  *     value is rounded and cast back to DOUBLE. DuckDB does the same in
  *     the oracle SQL, so hashes match bit-for-bit.
  *   - Every computed column is aliased identically in the DataFrame code
  *     and the oracle SQL (the driver sorts columns by name before
  *     hashing).
  *   - Top-k / window orderings always carry a unique tiebreak column.
  *
  * Scale notes (100 TB design): all aggregations here are partial+final
  * hash aggregates (map-side combine free via Catalyst); joins against
  * region/nation/customer/part are broadcastable dims; the only full
  * shuffles are on high-cardinality group keys, which is unavoidable and
  * correct. No collect-driven loops, no UDFs — everything whole-stage
  * codegen.
  */
object Relational extends graft.QueryModule {

  /** SUM over an exact decimal image of `c`, rounded and returned as
    * double: deterministic under any partitioning.
    */
  private def dsum(c: Column, dec: String, scale: Int): Column =
    round(sum(c.cast(dec)), scale).cast("double")

  // --- Q1: pricing summary (scan → filter → wide aggregate) -------------
  private def q1(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity"), "decimal(18,2)", 2).as("sum_qty"),
        dsum(col("l_extendedprice"), "decimal(18,2)", 2).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")),
          "decimal(18,6)", 4).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax")), "decimal(18,6)", 4).as("sum_charge"),
        count(lit(1)).as("count_order"))

  private val q1Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))),2) AS DOUBLE) AS sum_qty,
      |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))),2) AS DOUBLE) AS sum_base_price,
      |  CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))),4) AS DOUBLE) AS sum_disc_price,
      |  CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))),4) AS DOUBLE) AS sum_charge,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  // --- Q2: fact-to-fact join + aggregate --------------------------------
  private def q2(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val o = Tables.load(s, dir, "orders")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")),
          "decimal(18,6)", 4).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  private val q2Sql =
    """SELECT o_orderpriority,
      |  CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))),4) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority""".stripMargin

  // --- Q3: top-k with deterministic tiebreak ----------------------------
  private def q3(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val o = Tables.load(s, dir, "orders")
    // Aggregate BEFORE the join: o_orderkey is unique, so the inner join
    // is a key filter — pre-aggregating shrinks the shuffle to one row
    // per order (4×) and the filter becomes a semi join on the small
    // grouped side. Same result as join-then-group, better at every scale.
    li.groupBy(col("l_orderkey").as("orderkey"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")),
        "decimal(18,6)", 4).as("revenue"))
      .join(o, col("orderkey") === o("o_orderkey"), "left_semi")
      .orderBy(col("revenue").desc, col("orderkey").asc)
      .limit(10)
  }

  private val q3Sql =
    """SELECT l_orderkey AS orderkey,
      |  CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))),4) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY l_orderkey
      |ORDER BY revenue DESC, orderkey ASC
      |LIMIT 10""".stripMargin

  // --- Q4: semi join (EXISTS) -------------------------------------------
  private def q4(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val li = Tables.load(s, dir, "lineitem")
    o.join(li,
        o("o_orderkey") === li("l_orderkey") &&
          li("l_shipdate") > o("o_orderdate"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
  }

  private val q4Sql =
    """SELECT o_orderpriority, COUNT(*) AS n_orders
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority""".stripMargin

  // --- Q5: five-way join with broadcast dims ----------------------------
  private def q5(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val o = Tables.load(s, dir, "orders")
    val c = Tables.load(s, dir, "customer")
    val n = Tables.load(s, dir, "nation")
    val r = Tables.load(s, dir, "region")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")),
          "decimal(18,6)", 4).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  private val q5Sql =
    """SELECT r_name, n_name,
      |  CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))),4) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders   ON l_orderkey  = o_orderkey
      |JOIN customer ON o_custkey   = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name""".stripMargin

  // --- Q6: selective filter + scalar aggregate (pushdown showcase) ------
  private def q6(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .filter(col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(
        dsum(col("l_extendedprice") * col("l_discount"), "decimal(18,6)", 4)
          .as("revenue"),
        count(lit(1)).as("n_rows"))

  private val q6Sql =
    """SELECT
      |  CAST(ROUND(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))),4) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_rows
      |FROM lineitem
      |WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  // --- Q7: window ranking (top-3 orders per customer) -------------------
  private def q7(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    o.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey").as("custkey"), col("o_orderkey").as("orderkey"),
        col("o_totalprice").as("totalprice"), col("rn"))
  }

  private val q7Sql =
    """SELECT o_custkey AS custkey, o_orderkey AS orderkey,
      |       o_totalprice AS totalprice, CAST(rn AS INTEGER) AS rn
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
      |        ROW_NUMBER() OVER (PARTITION BY o_custkey
      |                           ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      |      FROM orders)
      |WHERE rn <= 3""".stripMargin

  // --- Q8: rollup --------------------------------------------------------
  private def q8(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_rows"),
        dsum(col("l_quantity"), "decimal(18,2)", 2).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n_rows"), col("sum_qty"))

  private val q8Sql =
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |       COALESCE(l_linestatus, 'ALL') AS linestatus,
      |       COUNT(*) AS n_rows,
      |       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))),2) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin

  // --- Q9: set operations ------------------------------------------------
  private def q9(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val c = Tables.load(s, dir, "customer")
    val big = o.filter(col("o_totalprice") > 150000)
      .select(col("o_custkey").as("custkey"))
    val fin = o.filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("custkey"))
    val poor = c.filter(col("c_acctbal") < 0)
      .select(col("c_custkey").as("custkey"))
    big.intersect(fin).except(poor)
  }

  private val q9Sql =
    """SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 150000
      |INTERSECT
      |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
      |EXCEPT
      |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0""".stripMargin

  // --- Q63: bag-semantics set ops (EXCEPT ALL / INTERSECT ALL) ------------
  // The multiset complement of q9: duplicates count. A customer with 3
  // qualifying orders and 1 disqualifying one keeps 2 rows — the result
  // is aggregated to (custkey, multiplicity) so it stays small and the
  // multiplicity arithmetic is visible to the oracle.
  private def q63(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val big = o.filter(col("o_totalprice") > 100000)
      .select(col("o_custkey").as("custkey"))
    val fin = o.filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("custkey"))
    big.intersectAll(fin).exceptAll(
        o.filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey").as("custkey")))
      .groupBy("custkey").agg(count(lit(1)).as("multiplicity"))
  }

  private val q63Sql =
    """SELECT custkey, COUNT(*) AS multiplicity FROM (
      |  SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 100000
      |  INTERSECT ALL
      |  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
      |  EXCEPT ALL
      |  SELECT o_custkey AS custkey FROM orders
      |  WHERE o_orderpriority = '1-URGENT'
      |) GROUP BY custkey""".stripMargin

  // --- Q64: LATERAL correlated subquery join ------------------------------
  // Per-order top-2 line items via a correlated LATERAL subquery — the
  // SQL spelling of grouped top-k. Catalyst decorrelates it into a
  // WindowGroupLimit (partial per-partition top-2 BEFORE the shuffle) +
  // broadcast join with the filtered orders: the per-group limit prunes
  // at the map side, no nested-loop per outer row.
  private def q64(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "orders").createOrReplaceTempView("graft_q64_orders")
    Tables.load(s, dir, "lineitem")
      .createOrReplaceTempView("graft_q64_lineitem")
    s.sql("""
      SELECT o_orderkey AS orderkey, t.l_linenumber AS linenumber,
             t.l_extendedprice AS price
      FROM graft_q64_orders o, LATERAL (
        SELECT l_linenumber, l_extendedprice FROM graft_q64_lineitem
        WHERE l_orderkey = o.o_orderkey
        ORDER BY l_extendedprice DESC, l_linenumber ASC LIMIT 2) t
      WHERE o.o_totalprice > 400000""")
  }

  private val q64Sql =
    """SELECT o_orderkey AS orderkey, t.l_linenumber AS linenumber,
      |       t.l_extendedprice AS price
      |FROM orders o, LATERAL (
      |  SELECT l_linenumber, l_extendedprice FROM lineitem
      |  WHERE l_orderkey = o.o_orderkey
      |  ORDER BY l_extendedprice DESC, l_linenumber ASC LIMIT 2) t
      |WHERE o.o_totalprice > 400000""".stripMargin

  // --- Q65: null semantics (null-safe equality, NULLIF/COALESCE) ----------
  // Nulls manufactured deterministically via NULLIF; the aggregate counts
  // how <=> (null-safe, Spark) / IS NOT DISTINCT FROM (DuckDB) differs
  // from plain = on null operands — the classic three-valued-logic trap.
  private def q65(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .select(
        expr("NULLIF(l_linenumber % 3, 0)").as("k1"),
        expr("NULLIF(CAST(l_suppkey % 3 AS INT), 0)").as("k2"))
      .agg(
        count(expr("CASE WHEN k1 <=> k2 THEN 1 END")).as("nullsafe_eq"),
        count(expr("CASE WHEN k1 = k2 THEN 1 END")).as("plain_eq"),
        count(expr("CASE WHEN k1 IS NULL AND k2 IS NULL THEN 1 END"))
          .as("both_null"),
        sum(coalesce(col("k1"), lit(99)).cast("bigint")).as("coalesced_sum"))

  private val q65Sql =
    """SELECT
      |  COUNT(CASE WHEN k1 IS NOT DISTINCT FROM k2 THEN 1 END) AS nullsafe_eq,
      |  COUNT(CASE WHEN k1 = k2 THEN 1 END) AS plain_eq,
      |  COUNT(CASE WHEN k1 IS NULL AND k2 IS NULL THEN 1 END) AS both_null,
      |  CAST(SUM(COALESCE(k1, 99)) AS BIGINT) AS coalesced_sum
      |FROM (SELECT NULLIF(l_linenumber % 3, 0) AS k1,
      |             NULLIF(CAST(l_suppkey % 3 AS INT), 0) AS k2
      |      FROM lineitem)""".stripMargin

  // --- Q66: nested struct manipulation --------------------------------------
  // Build → withField → getField round trip; fields re-projected to
  // top-level columns so the oracle compares scalars (struct machinery is
  // Spark-side, the numbers prove it did not mangle anything).
  private def q66(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .select(col("o_orderkey"),
        struct(col("o_orderstatus").as("st"),
          col("o_totalprice").as("tp")).as("sv"))
      .select(
        col("o_orderkey").as("orderkey"),
        col("sv").withField("disc", col("sv.tp") * 0.1).as("sv2"))
      .select(
        col("orderkey"),
        col("sv2.st").as("status"),
        (col("sv2.tp") * 2).as("double_price"),
        col("sv2.disc").as("disc"))

  private val q66Sql =
    """SELECT o_orderkey AS orderkey, o_orderstatus AS status,
      |  o_totalprice * 2 AS double_price,
      |  o_totalprice * 0.1 AS disc
      |FROM orders""".stripMargin

  // --- Q10: distinct aggregation ----------------------------------------
  private def q10(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_orderkey")).as("n_orders"))

  private val q10Sql =
    """SELECT COUNT(DISTINCT l_partkey) AS n_parts,
      |       COUNT(DISTINCT l_suppkey) AS n_supps,
      |       COUNT(DISTINCT l_orderkey) AS n_orders
      |FROM lineitem""".stripMargin

  // --- Q11: cube ---------------------------------------------------------
  private def q11(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    o.cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice"), "decimal(18,2)", 2).as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("orderstatus"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("orderpriority"),
        col("n_orders"), col("sum_price"))
  }

  private val q11Sql =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS orderstatus,
      |       COALESCE(o_orderpriority, 'ALL') AS orderpriority,
      |       COUNT(*) AS n_orders,
      |       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))),2) AS DOUBLE) AS sum_price
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin

  // --- Q12: anti join (NOT EXISTS) --------------------------------------
  private def q12(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer")
    val o = Tables.load(s, dir, "orders")
    c.join(o.filter(col("o_totalprice") > 300000),
        c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment").as("mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
  }

  private val q12Sql =
    """SELECT c_mktsegment AS mktsegment, COUNT(*) AS n_customers
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
      |GROUP BY c_mktsegment""".stripMargin

  // --- Q13: string scalar functions -------------------------------------
  private def q13(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "part")
      .select(
        col("p_partkey").as("partkey"),
        upper(col("p_type")).as("type_u"),
        length(col("p_name")).as("name_len"),
        substring(col("p_name"), 1, 8).as("name_pfx"),
        concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"))

  private val q13Sql =
    """SELECT p_partkey AS partkey,
      |       UPPER(p_type) AS type_u,
      |       CAST(LENGTH(p_name) AS INTEGER) AS name_len,
      |       SUBSTRING(p_name, 1, 8) AS name_pfx,
      |       CONCAT_WS('-', p_brand, p_type) AS brand_type
      |FROM part""".stripMargin

  // --- Q14: date functions -----------------------------------------------
  private def q14(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .groupBy(
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice"), "decimal(18,2)", 2).as("sum_price"))

  private val q14Sql =
    """SELECT CAST(YEAR(o_orderdate) AS INT) AS yr,
      |       CAST(MONTH(o_orderdate) AS INT) AS mo,
      |       COUNT(*) AS n_orders,
      |       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))),2) AS DOUBLE) AS sum_price
      |FROM orders
      |GROUP BY 1, 2""".stripMargin

  // --- Q15: regex extraction over the JSON-ish props column --------------
  // Oracle notes: DuckDB SUM(BIGINT) yields HUGEINT, so the oracle CASTs
  // the aggregate back to BIGINT to match Spark's LongType; NULLIF guards
  // rows where the regex finds no digits (Spark cast('' as bigint) = NULL,
  // DuckDB CAST('' AS BIGINT) errors).
  private def q15(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .select(col("event_type"),
        regexp_extract(col("props"), "([0-9]+)", 1).cast("bigint").as("k"))
      .groupBy("event_type")
      .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n_events"))

  private val q15Sql =
    """SELECT event_type,
      |       CAST(SUM(CAST(NULLIF(regexp_extract(props, '([0-9]+)', 1), '') AS BIGINT)) AS BIGINT) AS sum_k,
      |       COUNT(*) AS n_events
      |FROM events
      |GROUP BY event_type""".stripMargin

  // --- Q16: CASE WHEN bucketing (t-shirt style, mirrors §2.4) ------------
  private val priceBucket =
    """CASE WHEN o_totalprice <= 50000  THEN 'XSMALL'
      |     WHEN o_totalprice <= 150000 THEN 'SMALL'
      |     WHEN o_totalprice <= 250000 THEN 'MEDIUM'
      |     WHEN o_totalprice <= 350000 THEN 'LARGE'
      |     ELSE 'CUSTOM' END""".stripMargin

  private def q16(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .select(expr(priceBucket).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_orders"))

  private val q16Sql =
    s"""SELECT $priceBucket AS bucket, COUNT(*) AS n_orders
       |FROM orders
       |GROUP BY 1""".stripMargin

  // --- Q37: GROUPING SETS with grouping-id disambiguation -----------------
  private def q37(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "orders").createOrReplaceTempView("graft_q37_orders")
    s.sql("""
      SELECT COALESCE(o_orderstatus, 'ALL') AS orderstatus,
             COALESCE(o_orderpriority, 'ALL') AS orderpriority,
             CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
                  AS BIGINT) AS gid,
             COUNT(*) AS n_orders
      FROM graft_q37_orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                              (o_orderstatus, o_orderpriority))""")
  }

  private val q37Sql =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS orderstatus,
      |       COALESCE(o_orderpriority, 'ALL') AS orderpriority,
      |       CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
      |            AS BIGINT) AS gid,
      |       COUNT(*) AS n_orders
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
      |                        (o_orderstatus, o_orderpriority))""".stripMargin

  // --- Q38: approximate distinct (HLL++) vs exact ------------------------
  // HLL sketch VALUES are engine-specific and can never be oracled —
  // but the entry's contract can (round-14 conversion from rows-only):
  // the output carries the EXACT distinct counts (hash-checked against
  // DuckDB's COUNT(DISTINCT)) and the `within_5pct` accuracy bit, which
  // the oracle pins as literal TRUE — |approx − exact| / exact < 0.05
  // (the sketch runs at 2% rsd, so 5% is a generous-but-real bound). A
  // drifting sketch now reddens the DRIVER row, not just the fail-loud
  // gate; the raw approx values stay out of the output (they are the
  // one engine-specific part).
  //
  // The approx and exact aggregates run as SEPARATE aggregations joined
  // on the 3-row result: mixing them in one agg makes the exact-distinct
  // rewrite's first-stage aggregate (keyed by the distinct columns,
  // ~|orders|×|parts| groups) carry a multi-KB HLL buffer PER GROUP —
  // gigabytes of hash-map state for a 3-row answer (measured: 15–50 s vs
  // <1 s split).
  private def q38(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val approx = li.groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct(col("l_orderkey")).as("exact_orders"),
        countDistinct(col("l_partkey")).as("exact_parts"))
    // guardNonEmpty = false: the guard would re-run both full-table
    // aggregates just to count 3 rows; a grouped agg is empty only when
    // lineitem itself is, which the driver's rows-only check surfaces.
    graft.ParityGate(
      approx.join(exact, "l_returnflag")
        .select(col("l_returnflag"), col("exact_orders"), col("exact_parts"),
          (abs(col("approx_orders") - col("exact_orders"))
            / col("exact_orders") < 0.05).as("orders_within_5pct"),
          (abs(col("approx_parts") - col("exact_parts"))
            / col("exact_parts") < 0.05).as("parts_within_5pct")),
      "q38_approx_distinct", guardNonEmpty = false,
      "orders_within_5pct", "parts_within_5pct")
  }

  private val q38Sql =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_orderkey) AS exact_orders,
      |  COUNT(DISTINCT l_partkey) AS exact_parts,
      |  TRUE AS orders_within_5pct,
      |  TRUE AS parts_within_5pct
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // --- Q39: skew-safe two-phase (salted) aggregation ----------------------
  // l_returnflag has 3 heavy keys — the degenerate skew case where a
  // single-phase groupBy funnels a third of the table through one reducer.
  // Phase 1 aggregates on (key, salt) — 32-way parallel per hot key —
  // phase 2 merges the ≤ keys×32 partials. Decimal partials make the
  // two-phase sum bit-equal to the oracle's direct GROUP BY.
  private def q39(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .withColumn("salt", pmod(hash(col("l_orderkey")), lit(32)))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).as("p_qty"),
        count(lit(1)).as("p_cnt"))
      .groupBy(col("l_returnflag").as("returnflag"))
      .agg(
        round(sum(col("p_qty")), 2).cast("double").as("sum_qty"),
        sum(col("p_cnt")).as("n_rows"))

  private val q39Sql =
    """SELECT l_returnflag AS returnflag,
      |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))),2) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n_rows
      |FROM lineitem GROUP BY 1""".stripMargin

  // --- Q43: grouped top-k via a bounded-heap typed Aggregator --------------
  // The window formulation (row_number over partition) sorts every group's
  // full row set; [[graft.functions.TopKAggregator]] carries at most k
  // rows per (group × partition) through the shuffle. Same exact result,
  // verified against the window-SQL oracle.
  private def q43(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"),
        (col("l_orderkey") * 8 + col("l_linenumber")).as("tb"))
      .as[(String, Double, Long)]
    li.groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(new graft.functions.TopKAggregator(3).toColumn.name("topk"))
      .flatMap { case (flag, items) =>
        items.zipWithIndex.map { case ((price, tb), i) =>
          (flag, i + 1, price, tb)
        }
      }
      .toDF("returnflag", "rn", "price", "tb")
  }

  private val q43Sql =
    """SELECT l_returnflag AS returnflag, CAST(rn AS INTEGER) AS rn,
      |       l_extendedprice AS price, tb
      |FROM (SELECT l_returnflag, l_extendedprice,
      |        l_orderkey * 8 + l_linenumber AS tb,
      |        ROW_NUMBER() OVER (PARTITION BY l_returnflag
      |          ORDER BY l_extendedprice DESC,
      |                   l_orderkey * 8 + l_linenumber ASC) AS rn
      |      FROM lineitem)
      |WHERE rn <= 3""".stripMargin

  // --- Q44: JSON/map scalar functions over the props column ---------------
  private def q44(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").as("k_str"),
        get_json_object(col("props"), "$.k").cast("bigint").as("k_num"),
        expr("array_join(map_keys(from_json(props, 'map<string,string>')), ',')")
          .as("keys"),
        upper(col("event_type")).as("et"))

  private val q44Sql =
    """SELECT event_id,
      |  json_extract_string(props, '$.k') AS k_str,
      |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
      |  array_to_string(json_keys(props), ',') AS keys,
      |  UPPER(event_type) AS et
      |FROM events""".stripMargin

  // --- Q45: array higher-order/scalar functions over tokens ----------------
  private def q45(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .withColumn("toks", expr("regexp_extract_all(text, '[a-z]+', 0)"))
      .select(
        col("doc_id"),
        expr("array_join(slice(sort_array(array_distinct(toks)), 1, 3), ',')")
          .as("first3"),
        expr("CAST(size(array_union(toks, array('zzzz'))) AS BIGINT)")
          .as("n_union"),
        expr("array_contains(toks, 'the')").as("has_the"),
        expr("CAST(aggregate(transform(toks, t -> length(t)), 0," +
          " (a, x) -> a + x) AS BIGINT)").as("total_chars"))

  private val q45Sql =
    """SELECT doc_id,
      |  array_to_string(list_sort(list_distinct(toks))[1:3], ',') AS first3,
      |  CAST(len(list_distinct(list_concat(toks, ['zzzz']))) AS BIGINT) AS n_union,
      |  list_contains(toks, 'the') AS has_the,
      |  CAST(list_reduce(list_prepend(0, list_transform(toks, t -> length(t))),
      |    (a, x) -> a + x) AS BIGINT) AS total_chars
      |FROM (SELECT doc_id, regexp_extract_all(text, '[a-z]+') AS toks
      |      FROM documents)""".stripMargin

  // --- Q46: rank-based statistics (median / percentiles) -------------------
  // Exact percentile with linear interpolation — rank-based, so the
  // result is a deterministic function of the sorted values (unlike
  // variance-style merges, whose partial-aggregation float error depends
  // on partition order). DuckDB's quantile_cont interpolates identically.
  private def q46(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        expr("round(percentile(l_quantity, 0.5), 4)").as("median_qty"),
        expr("round(percentile(l_extendedprice, 0.9), 4)").as("p90_price"),
        expr("round(percentile(l_discount, 0.99), 4)").as("p99_disc"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"))

  private val q46Sql =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
      |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
      |  round(quantile_cont(l_discount, 0.99), 4) AS p99_disc,
      |  MIN(l_quantity) AS min_qty,
      |  MAX(l_quantity) AS max_qty
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // --- Q47: date/interval arithmetic ---------------------------------------
  private def q47(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .select(
        col("o_orderkey").as("orderkey"),
        expr("CAST(o_orderdate + INTERVAL 90 DAY AS DATE)").as("due_date"),
        expr("CAST(datediff(TIMESTAMP '1998-12-31 00:00:00', o_orderdate) AS BIGINT)")
          .as("age_days"),
        expr("CAST(last_day(o_orderdate) AS DATE)").as("month_end"),
        expr("CAST(date_trunc('QUARTER', o_orderdate) AS DATE)").as("qtr"),
        dayofweek(col("o_orderdate")).cast("bigint").as("dow"))

  // DuckDB: datediff counts date boundaries (matches Spark's datediff);
  // dayofweek is 1=Sunday in Spark vs 0=Sunday in DuckDB, hence +1.
  private val q47Sql =
    """SELECT o_orderkey AS orderkey,
      |  CAST(o_orderdate + INTERVAL 90 DAY AS DATE) AS due_date,
      |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS BIGINT) AS age_days,
      |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
      |  CAST(date_trunc('quarter', o_orderdate) AS DATE) AS qtr,
      |  CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow
      |FROM orders""".stripMargin

  // --- Q48: window frames + lag/lead/ntile ---------------------------------
  private def q48(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val sliding = w.rowsBetween(-2, Window.currentRow)
    Tables.load(s, dir, "orders")
      .select(
        col("o_orderkey").as("orderkey"),
        col("o_custkey").as("custkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        round(sum(col("o_totalprice").cast("decimal(18,2)")).over(sliding), 2)
          .cast("double").as("run3_price"),
        ntile(4).over(w).cast("bigint").as("quartile"))
  }

  private val q48Sql =
    """SELECT o_orderkey AS orderkey, o_custkey AS custkey,
      |  LAG(o_totalprice, 1) OVER w AS prev_price,
      |  LEAD(o_totalprice, 1) OVER w AS next_price,
      |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
      |          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
      |    AS run3_price,
      |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey
      |             ORDER BY o_orderdate ASC, o_orderkey ASC)""".stripMargin

  // --- Q49: array aggregation + deterministic argmax -----------------------
  // The generic forms of the sizing pipeline's A2 (distinct-set collect)
  // and A4 (argmax with tiebreak): collect_set is order-nondeterministic,
  // so it is always sorted before leaving the operator; max_by carries a
  // (value, tiebreak) struct so ties cannot flap between partitions.
  private def q49(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .groupBy(col("o_orderstatus").as("status"))
      .agg(
        array_join(sort_array(collect_set(col("o_orderpriority"))), ",")
          .as("priorities"),
        max_by(col("o_orderkey"),
          struct(col("o_totalprice"), col("o_orderkey"))).as("top_order"),
        min_by(col("o_orderkey"),
          struct(col("o_totalprice"), col("o_orderkey"))).as("bottom_order"),
        count(lit(1)).as("n_orders"))

  private val q49Sql =
    """SELECT o_orderstatus AS status,
      |  array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',')
      |    AS priorities,
      |  (SELECT o2.o_orderkey FROM orders o2
      |   WHERE o2.o_orderstatus = o.o_orderstatus
      |   ORDER BY o2.o_totalprice DESC, o2.o_orderkey DESC LIMIT 1)
      |    AS top_order,
      |  (SELECT o3.o_orderkey FROM orders o3
      |   WHERE o3.o_orderstatus = o.o_orderstatus
      |   ORDER BY o3.o_totalprice ASC, o3.o_orderkey ASC LIMIT 1)
      |    AS bottom_order,
      |  COUNT(*) AS n_orders
      |FROM orders o GROUP BY o_orderstatus""".stripMargin

  // --- Q51: pivot (long→wide reshape) --------------------------------------
  // groupBy().pivot() with EXPLICIT pivot values: without them Spark runs
  // an extra distinct-scan job to discover the columns, and the output
  // schema would depend on the data. Empty cells are 0 (count semantics),
  // matching the oracle's FILTER aggregation.
  private def q51(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .groupBy(col("o_orderpriority").as("priority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L, Seq("F", "O", "P"))

  private val q51Sql =
    """SELECT o_orderpriority AS priority,
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  // --- Q52: positional explode (lateral view) ------------------------------
  private def q52(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .filter(col("pos") < 3)
      .select(col("doc_id"), col("pos").cast("bigint").as("pos"),
        col("col").as("tok"))

  private val q52Sql =
    """SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS tok
      |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |     unnest(generate_series(1, 3)) AS t(i)
      |WHERE i <= len(toks)""".stripMargin

  // --- Q53: rank statistics (percent_rank / cume_dist / dense_rank) --------
  // Exact rational divisions on both engines; total order via the
  // (acctbal, custkey) tiebreak so ranks are partition-independent.
  // Deliberately UN-rounded: each statistic is one IEEE division, already
  // bit-identical across engines — whereas round() DIVERGES on exact
  // halves (rank/n with n = 2^a·5^b lands on them: 41/640 = .0640625;
  // Spark rounds half-up, DuckDB half-even).
  private def q53(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_nationkey")
      .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
    Tables.load(s, dir, "customer")
      .select(
        col("c_custkey").as("custkey"),
        col("c_nationkey").cast("bigint").as("nationkey"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cdist"),
        dense_rank().over(w).cast("bigint").as("drank"))
  }

  private val q53Sql =
    """SELECT c_custkey AS custkey, CAST(c_nationkey AS BIGINT) AS nationkey,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist() OVER w AS cdist,
      |  CAST(dense_rank() OVER w AS BIGINT) AS drank
      |FROM customer
      |WINDOW w AS (PARTITION BY c_nationkey
      |             ORDER BY c_acctbal ASC, c_custkey ASC)""".stripMargin

  // --- Q54: deterministic hash sampling (uniform + stratified) -------------
  // TABLESAMPLE is engine-specific RNG — useless under a cross-engine
  // oracle and non-reproducible between runs. Hash-mod sampling is the
  // production alternative: membership is a pure function of the row key,
  // so samples are stable across engines, runs, and cluster sizes.
  // Per-stratum rates (A 10% / R 5% / N 2%) make it stratified.
  private def q54(s: SparkSession, dir: String): DataFrame = {
    val key = "concat(CAST(l_orderkey AS STRING), '_', CAST(l_linenumber AS STRING))"
    Tables.load(s, dir, "lineitem")
      .withColumn("bucket", expr(s"${Dialect.sparkHash60(key)} % 100"))
      .withColumn("rate",
        expr("CASE l_returnflag WHEN 'A' THEN 10 WHEN 'R' THEN 5 ELSE 2 END"))
      .filter(col("bucket") < col("rate"))
      .groupBy(col("l_returnflag").as("flag"))
      .agg(count(lit(1)).as("n_sampled"),
        dsum(col("l_quantity"), "decimal(18,2)", 2).as("sum_qty"))
  }

  private val q54Sql = {
    val key = "CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)"
    s"""SELECT l_returnflag AS flag, COUNT(*) AS n_sampled,
       |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))),2) AS DOUBLE) AS sum_qty
       |FROM (SELECT l_returnflag, l_quantity,
       |        ${Dialect.duckHash60(key)} % 100 AS bucket,
       |        CASE l_returnflag WHEN 'A' THEN 10 WHEN 'R' THEN 5 ELSE 2 END AS rate
       |      FROM lineitem)
       |WHERE bucket < rate
       |GROUP BY l_returnflag""".stripMargin
  }

  // --- Q55: correlated scalar subquery (Catalyst decorrelation) ------------
  // MAX-based so the correlated aggregate is exact (a double AVG would be
  // partition-order sensitive at the comparison boundary).
  private def q55(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "orders").createOrReplaceTempView("graft_q55_orders")
    Tables.load(s, dir, "lineitem")
      .createOrReplaceTempView("graft_q55_lineitem")
    s.sql("""
      SELECT o_orderkey AS orderkey, o_totalprice AS totalprice
      FROM graft_q55_orders o
      WHERE o_totalprice > 3 * (SELECT MAX(l.l_extendedprice)
                                FROM graft_q55_lineitem l
                                WHERE l.l_orderkey = o.o_orderkey)""")
  }

  private val q55Sql =
    """SELECT o_orderkey AS orderkey, o_totalprice AS totalprice
      |FROM orders o
      |WHERE o_totalprice > 3 * (SELECT MAX(l.l_extendedprice)
      |                          FROM lineitem l
      |                          WHERE l.l_orderkey = o.o_orderkey)""".stripMargin

  // --- Q58: skew-salted broadcast-replicated join ---------------------------
  // The join-side analog of q39: l_returnflag has 3 heavy keys, so a plain
  // shuffle join funnels a third of the fact table through one reducer.
  // Salting: the fact side gets salt = hash(high-cardinality key) mod 16;
  // the tiny dim side replicates 16× (explode), and the join runs on
  // (key, salt) — 16-way parallel per hot key. The oracle joins unsalted:
  // same result.
  private def q58(s: SparkSession, dir: String): DataFrame = {
    val Salts = 16
    val li = Tables.load(s, dir, "lineitem")
      .withColumn("salt", pmod(hash(col("l_orderkey")), lit(Salts)))
    val dim = Tables.load(s, dir, "lineitem")
      .select(col("l_returnflag").as("flag")).distinct()
      .withColumn("weight", expr(
        "CASE flag WHEN 'A' THEN 1.1 WHEN 'R' THEN 0.9 ELSE 1.0 END"))
      .withColumn("salt", explode(expr(s"sequence(0, ${Salts - 1})")))
    li.join(broadcast(dim),
        li("l_returnflag") === dim("flag") && li("salt") === dim("salt"))
      .groupBy("flag")
      .agg(
        count(lit(1)).as("n_items"),
        dsum(col("l_quantity") * col("weight"), "decimal(18,6)", 2)
          .as("weighted_qty"))
  }

  private val q58Sql =
    """WITH dim AS (
      |  SELECT flag,
      |    CASE flag WHEN 'A' THEN 1.1 WHEN 'R' THEN 0.9 ELSE 1.0 END AS weight
      |  FROM (SELECT DISTINCT l_returnflag AS flag FROM lineitem)
      |)
      |SELECT flag, COUNT(*) AS n_items,
      |  CAST(ROUND(SUM(CAST(l_quantity * weight AS DECIMAL(18,6))),2) AS DOUBLE)
      |    AS weighted_qty
      |FROM lineitem JOIN dim ON l_returnflag = flag
      |GROUP BY flag""".stripMargin

  // --- Q59: value window functions over frames ------------------------------
  private def q59(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.load(s, dir, "orders")
      .select(
        col("o_orderkey").as("orderkey"),
        col("o_custkey").as("custkey"),
        first(col("o_totalprice")).over(all).as("first_price"),
        last(col("o_totalprice")).over(all).as("last_price"),
        nth_value(col("o_totalprice"), 2).over(all).as("second_price"))
  }

  private val q59Sql =
    """SELECT o_orderkey AS orderkey, o_custkey AS custkey,
      |  FIRST_VALUE(o_totalprice) OVER w AS first_price,
      |  LAST_VALUE(o_totalprice) OVER w AS last_price,
      |  NTH_VALUE(o_totalprice, 2) OVER w AS second_price
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey
      |             ORDER BY o_orderdate ASC, o_orderkey ASC
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"""
      .stripMargin

  /** PUBLIC operator: order-statistic θ-join counts. For every row `a`
    * of `df`, the number of rows `b` with `b.valueCol > threshold(a)`
    * AND `b.groupCol ≠ a.groupCol` — the inequality-join shape
    * (`JOIN ON g1 <> g2 AND v2 > f(v1)`) whose only direct Catalyst
    * plan is an O(n²) BroadcastNestedLoopJoin. The θ predicate is a
    * pure order statistic, so it decomposes exactly:
    *   n(a) = #{b : v_b > t_a} − #{b ∈ group(a) : v_b > t_a}
    * with each term = total − #{v ≤ t}, computed for ALL rows at once
    * by merging value rows (weight 1) and threshold rows (weight 0)
    * into one ordered frame and running the bucketed PrefixSum scan
    * (one global + one grouped; O(n log n), fully parallel — the
    * grouped scan matters because a fixed group count means per-group
    * windows would serialize linearly-growing groups into single
    * tasks). Strictness at ties: value rows sort BEFORE threshold rows
    * at equal key (typ 0 < 1), so the inclusive running count AT a
    * threshold row is exactly #{v_b ≤ t_a} — a `b` at v_b == t_a is
    * not counted, matching `>`.
    *
    * Returns one row per input row: (keyCol, groupCol,
    * n_above_foreign), ZERO COUNTS INCLUDED — callers wanting the
    * inner-join row set filter n_above_foreign > 0. Requirements:
    * keyCol unique (it is the scan's tiebreak), valueCol and the
    * threshold non-null; both are compared as doubles. BNLJ remains
    * the right plan only for θ predicates with no such decomposition
    * and a genuinely tiny side (maxSimTopK).
    */
  def foreignCountAbove(df: DataFrame, keyCol: String, groupCol: String,
      valueCol: String, thresholdCol: Column): DataFrame = {
    val base = df.select(col(keyCol).as("__k"), col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__val"),
        thresholdCol.cast("double").as("__thr"))
      .ckptLocal(eager = false) // read by 2 multi-pass scans + totals
    val frame = base
      .select(col("__k"), col("__g"), col("__val").as("v"),
        lit(0).as("typ"), lit(1L).as("w"))
      .unionByName(base.select(col("__k"), col("__g"),
        col("__thr").as("v"), lit(1).as("typ"), lit(0L).as("w")))
      .ckptLocal(eager = false)
    val ord = Seq(col("v"), col("typ"), col("__k"))
    // One shared bounds pass for BOTH scans: min/max + even split skips
    // per-scan eager approxQuantile jobs (bucket balance affects only
    // parallelism, never correctness).
    val mm = frame.agg(min(col("v")), max(col("v"))).head()
    val range = if (mm.isNullAt(0)) None
      else Some((mm.getDouble(0), mm.getDouble(1)))
    val globLe = graft.plans.PrefixSum
      .scan(frame, "v", ord, Seq("w" -> "n_le"), knownRange = range)
      .filter(col("typ") === 1).select(col("__k"), col("n_le"))
    val sameLe = graft.plans.PrefixSum
      .scan(frame, "v", ord, Seq("w" -> "n_le_g"), groupCols = Seq("__g"),
        knownRange = range)
      .filter(col("typ") === 1)
      .select(col("__k"), col("__g"), col("n_le_g"))
    val perGroup = base.groupBy("__g").agg(count(lit(1)).as("n_g"))
    val total = base.agg(count(lit(1)).as("n_all"))
    sameLe.join(globLe, "__k")
      .join(broadcast(perGroup), "__g")
      .crossJoin(broadcast(total))
      .withColumn("n_above_foreign",
        (col("n_all") - col("n_le")) - (col("n_g") - col("n_le_g")))
      .select(col("__k").as(keyCol), col("__g").as(groupCol),
        col("n_above_foreign"))
  }

  // --- Q60: theta (inequality-only) join ------------------------------------
  // For every supplier, how many suppliers of a DIFFERENT nation have
  // more than double its account balance — foreignCountAbove with
  // threshold 2·bal (×2 on a double is an exponent bump, exact in both
  // engines, so ties align with the oracle's b.s_acctbal > a.s_acctbal*2).
  // Measured 12× for the 10× step to sf10 as a BNLJ; 2.1×/decade as the
  // scan decomposition. The inner-join row set (zero-count suppliers
  // absent) is kept by the count > 0 filter.
  private def q60(s: SparkSession, dir: String): DataFrame =
    foreignCountAbove(
      Tables.load(s, dir, "supplier")
        .select(col("s_suppkey").as("sk"), col("s_nationkey").as("nk"),
          col("s_acctbal").as("bal")),
      "sk", "nk", "bal", col("bal") * 2)
      .filter(col("n_above_foreign") > 0)
      .select(col("sk"), col("n_above_foreign").as("n_richer_foreign"))

  private val q60Sql =
    """SELECT a.s_suppkey AS sk, COUNT(*) AS n_richer_foreign
      |FROM supplier a JOIN supplier b
      |  ON a.s_nationkey <> b.s_nationkey AND b.s_acctbal > a.s_acctbal * 2
      |GROUP BY a.s_suppkey""".stripMargin

  // --- Q61: NOT IN subquery (null-aware anti join) --------------------------
  // The SQL-level complement of q12's DataFrame left_anti: Catalyst
  // rewrites NOT IN into a null-aware anti join (the null semantics are
  // the infamous part; l_orderkey is non-null here so results align with
  // plain anti, but the plan exercises the rewrite).
  private def q61(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "orders").createOrReplaceTempView("graft_q61_orders")
    Tables.load(s, dir, "lineitem")
      .createOrReplaceTempView("graft_q61_lineitem")
    s.sql("""
      SELECT o_orderpriority, COUNT(*) AS n_untouched
      FROM graft_q61_orders
      WHERE o_orderkey NOT IN (
        SELECT l_orderkey FROM graft_q61_lineitem
        WHERE l_shipdate > TIMESTAMP '1997-01-01 00:00:00')
      GROUP BY o_orderpriority""")
  }

  private val q61Sql =
    """SELECT o_orderpriority, COUNT(*) AS n_untouched
      |FROM orders
      |WHERE o_orderkey NOT IN (
      |  SELECT l_orderkey FROM lineitem
      |  WHERE l_shipdate > TIMESTAMP '1997-01-01 00:00:00')
      |GROUP BY o_orderpriority""".stripMargin

  /** PUBLIC operator: scale-safe `NOT IN` — the rows of `outer` where
    * `outerKey NOT IN (SELECT subKey FROM sub)` under exact SQL
    * three-valued semantics, WITHOUT Catalyst's null-aware anti join.
    *
    * Why: Spark plans a correlated-free `NOT IN` as a
    * BroadcastHashJoin with `isNullAwareAntiJoin = true` — the build
    * side is ALWAYS the whole subquery relation, broadcast to every
    * executor, because a single NULL anywhere in it flips the global
    * answer. That build grows linearly with data (q61 measured 10.1×
    * for the 10× step to sf10) and dies at 100 TB on the broadcast
    * limit. But the null sensitivity is only a TWO-BIT property of the
    * subquery — (is it empty?, does it contain a null?) — so the plan
    * decomposes exactly:
    *   - sub empty            → every outer row qualifies (even
    *                            null-key rows: `x NOT IN ()` is TRUE);
    *   - sub contains a null  → NO row qualifies (`x NOT IN S` is at
    *                            best UNKNOWN);
    *   - else                 → null-key outer rows drop (UNKNOWN) and
    *                            the rest is a plain left_anti join.
    * The two bits come from a single-column aggregate (map-side
    * partial → 1 row → broadcast; the parquet scan reads only
    * `subKey`), the anti join runs on the distinct non-null keys with
    * NO forced broadcast — Catalyst/AQE pick SMJ, shuffled-hash, or
    * (only when the stats say it fits) broadcast. Every piece scales
    * with partitions. `sub` is traversed twice (bits + keys), both
    * single-column scans. Pinned BNLJ/NAAJ-free in Round16PlanSpec.
    */
  def notInAntiJoin(outer: DataFrame, outerKey: String,
      sub: DataFrame, subKey: String): DataFrame = {
    val bits = sub.agg(
      count(lit(1)).as("__nin_n"),         // is it empty?
      count(col(subKey)).as("__nin_nn"))   // does it contain a null?
    val keys = sub.select(col(subKey).as("__nin_k"))
      .where(col("__nin_k").isNotNull).distinct()
    outer
      .join(broadcast(bits))
      .where(col("__nin_n") === 0 ||
        (col("__nin_n") === col("__nin_nn") && col(outerKey).isNotNull))
      .join(keys, col(outerKey) === col("__nin_k"), "left_anti")
      .drop("__nin_n", "__nin_nn")
  }

  // --- Q203: NOT IN at scale (decomposed null-aware anti join) --------------
  // q61's exact query through notInAntiJoin instead of the SQL NOT IN:
  // same oracle (the decomposition is semantics-preserving by the case
  // analysis above), but the plan replaces the mandatory whole-relation
  // broadcast with a 1-row bits broadcast + a shuffled anti join.
  // Measured min-of-3: q61 1.68 → 16.96 s for the 10× step to sf10
  // (linear build); q203 holds the anti join shuffle-partitioned.
  private def q203(s: SparkSession, dir: String): DataFrame =
    notInAntiJoin(
      Tables.load(s, dir, "orders"),
      "o_orderkey",
      Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1997-01-01").cast("timestamp"))
        .select("l_orderkey"),
      "l_orderkey")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_untouched"))

  // --- Q69: full outer join (both-side nulls) -------------------------------
  // Daily order counts vs daily shipment counts, FULL OUTER on the date:
  // shipdates run 1–122 days after orderdates, so the earliest dates exist
  // only on the orders side and the latest only on the shipments side —
  // both null paths are genuinely exercised, then folded through COALESCE
  // and a three-way side classifier. Scale: both inputs pre-aggregate to
  // one row per day BEFORE the join (the same shrink-then-join rule as
  // q3), so the full-outer shuffle is ~2.4k rows regardless of fact size.
  private def q69(s: SparkSession, dir: String): DataFrame = {
    val byOrder = Tables.load(s, dir, "orders")
      .groupBy(col("o_orderdate").as("d"))
      .agg(count(lit(1)).as("n_orders"))
    val byShip = Tables.load(s, dir, "lineitem")
      .groupBy(col("l_shipdate").as("d"))
      .agg(count(lit(1)).as("n_ship"))
    byOrder.join(byShip, Seq("d"), "full_outer")
      .withColumn("side",
        when(col("n_orders").isNull, "ship_only")
          .when(col("n_ship").isNull, "order_only")
          .otherwise("both"))
      .groupBy("side")
      .agg(
        count(lit(1)).as("n_days"),
        sum(coalesce(col("n_orders"), lit(0))).as("orders_total"),
        sum(coalesce(col("n_ship"), lit(0))).as("ship_total"),
        min(col("d")).as("first_day"),
        max(col("d")).as("last_day"))
  }

  private val q69Sql =
    """WITH a AS (
      |  SELECT o_orderdate AS d, COUNT(*) AS n_orders
      |  FROM orders GROUP BY o_orderdate
      |), b AS (
      |  SELECT l_shipdate AS d, COUNT(*) AS n_ship
      |  FROM lineitem GROUP BY l_shipdate
      |), j AS (
      |  SELECT COALESCE(a.d, b.d) AS d, n_orders, n_ship,
      |    CASE WHEN n_orders IS NULL THEN 'ship_only'
      |         WHEN n_ship IS NULL THEN 'order_only'
      |         ELSE 'both' END AS side
      |  FROM a FULL OUTER JOIN b ON a.d = b.d
      |)
      |SELECT side, COUNT(*) AS n_days,
      |  CAST(SUM(COALESCE(n_orders, 0)) AS BIGINT) AS orders_total,
      |  CAST(SUM(COALESCE(n_ship, 0)) AS BIGINT) AS ship_total,
      |  MIN(d) AS first_day, MAX(d) AS last_day
      |FROM j GROUP BY side""".stripMargin

  // --- q79: bloom-filter runtime-filter semi join -------------------------
  // The runtime-filter pushdown pattern, first-class: semi-join lineitem
  // to the urgent orders, but pre-filter the FACT side with a bloom
  // filter built over the pruned dim keys before any shuffle happens.
  // At 100 TB the exact semi join must shuffle (or broadcast) both sides;
  // the bloom probe runs inside the fact table's scan stage and discards
  // the ~5/6 of lineitem that cannot match for the price of a few hash
  // probes per row — only the surviving fraction (+ fpp false positives)
  // reaches the shuffle. The exact semi join behind the probe removes
  // the false positives, so the composition is EXACT and the entry stays
  // oracle-hash-checked (unlike the sketch entries q38/q76, approximation
  // here affects only the plan's cost, never its result).
  //
  // Filter sizing: expectedNumItems from a count() on the pruned dim scan
  // (cheap — one column, predicate pushed down); 1% fpp ⇒ ~9.6 bits/key,
  // so even 10^9 dim keys is a ~1.2 GB filter — at that point lower the
  // ndv or fpp budget; for broadcast-sized dims (the usual runtime-filter
  // case) it is KBs. The serialized filter travels in the plan as a
  // foldable binary literal ([[graft.functions.BloomContains]]).
  /** PUBLIC operator: runtime-filtered semi join. Builds a bloom filter
    * over `dim`'s key column once (`stat.bloomFilter`, a treeAggregate),
    * pushes the membership probe into `fact`'s scan stage (so only rows
    * that can possibly match reach the join shuffle — a ~selectivity-
    * factor shuffle cut), then removes the filter's false positives with
    * the exact semi join behind it. Result is EXACT: the approximation
    * affects only the plan's cost, never its output. The probe-below-join
    * plan shape is spec-pinned (GraftFunctionsSpec).
    */
  def bloomSemiJoin(fact: DataFrame, factKey: String, dim: DataFrame,
      dimKey: String, fpp: Double = 0.01,
      expectedItems: Long = -1L): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(fact.sparkSession)
    // Pass expectedItems when the dim lineage is expensive: the default
    // sizes the filter with a count() — one extra dim pass (the
    // bloomFilter treeAggregate is the second; the semi join re-scans
    // lazily at execution). Both key references are qualified through
    // their own DataFrame so fact and dim may share the key column name.
    val keys = dim.select(col(dimKey))
    val n = if (expectedItems > 0) expectedItems
      else math.max(1024L, keys.count())
    val bf = keys.stat.bloomFilter(dimKey, n, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val filtered =
      fact.filter(graft.functions.GraftFunctions.bloomProbe(bytes, factKey))
    filtered.join(keys, filtered(factKey) === keys(dimKey), "left_semi")
  }

  private def q79(s: SparkSession, dir: String): DataFrame =
    bloomSemiJoin(
      Tables.load(s, dir, "lineitem"), "l_orderkey",
      Tables.load(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT"), "o_orderkey")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice").cast("decimal(18,2)")), 2)
          .cast("double").as("revenue"))

  private val q79Sql =
    """SELECT l_returnflag, COUNT(*) AS n_items,
      |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2)
      |       AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
      |                     WHERE o_orderpriority = '1-URGENT')
      |GROUP BY l_returnflag""".stripMargin

  // --- q81: CDC upsert (apply-changes merge) ------------------------------
  // The MERGE/apply-changes operator every warehouse pipeline needs:
  // base snapshot + changelog (insert/update/delete ops) → next snapshot,
  // expressed as ONE full-outer join on the key with per-row op
  // resolution — no MERGE syntax required, no per-row driver logic. The
  // changelog here is derived deterministically from orders itself
  // (delete keys ≡ 0 mod 11; update keys ≡ 0 mod 3 get +50.00; insert
  // keys are shifted past max key) so the entry is self-contained and
  // oracle-checkable. Scale shape: a single key-equi shuffle join — the
  // plan CDC-apply runs at any scale; with the base bucketed by key
  // (sources.BucketedTables) the base side's shuffle disappears and the
  // apply is a map-side zip per bucket. The max-key lookup is a 1-row
  // bounds fold (same stance as PrefixSum.knownRange).
  private def q81(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val maxKey = o.agg(max("o_orderkey")).head().getLong(0)
    val del = o.filter(col("o_orderkey") % 11 === 0)
      .select(col("o_orderkey").as("k"), lit("D").as("op"),
        lit(null).cast("double").as("new_price"),
        lit(null).cast("string").as("new_status"))
    val upd = o.filter(col("o_orderkey") % 11 =!= 0 &&
        col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey").as("k"), lit("U").as("op"),
        // +50.00 not ×1.1: a double ADD is bit-identical on both engines,
        // a multiply-then-decimal-round could differ in rounding mode
        (col("o_totalprice") + 50.0).as("new_price"),
        col("o_orderstatus").as("new_status"))
    val ins = o.filter(col("o_orderkey") % 7 === 0)
      .select((col("o_orderkey") + maxKey).as("k"), lit("I").as("op"),
        col("o_totalprice").as("new_price"), lit("N").as("new_status"))
    val changes = del.union(upd).union(ins)
    o.join(changes, col("o_orderkey") === col("k"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(
        when(col("op").isin("U", "I"), col("new_price"))
          .otherwise(col("o_totalprice")).as("price"),
        when(col("op").isin("U", "I"), col("new_status"))
          .otherwise(col("o_orderstatus")).as("status"))
      .groupBy("status")
      .agg(
        count(lit(1)).as("n_orders"),
        round(sum(col("price").cast("decimal(18,2)")), 2).cast("double")
          .as("total_price"))
  }

  private val q81Sql =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |), changes AS (
      |  SELECT o_orderkey AS k, 'D' AS op,
      |    CAST(NULL AS DOUBLE) AS new_price,
      |    CAST(NULL AS VARCHAR) AS new_status
      |  FROM base WHERE o_orderkey % 11 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 'U', o_totalprice + 50.0, o_orderstatus
      |  FROM base WHERE o_orderkey % 11 <> 0 AND o_orderkey % 3 = 0
      |  UNION ALL
      |  SELECT o_orderkey + (SELECT MAX(o_orderkey) FROM base), 'I',
      |    o_totalprice, 'N'
      |  FROM base WHERE o_orderkey % 7 = 0
      |), merged AS (
      |  SELECT
      |    CASE WHEN op IN ('U','I') THEN new_price
      |         ELSE o_totalprice END AS price,
      |    CASE WHEN op IN ('U','I') THEN new_status
      |         ELSE o_orderstatus END AS status
      |  FROM base FULL OUTER JOIN changes ON o_orderkey = k
      |  WHERE op IS NULL OR op <> 'D'
      |)
      |SELECT status, COUNT(*) AS n_orders,
      |  CAST(ROUND(SUM(CAST(price AS DECIMAL(18,2))), 2) AS DOUBLE)
      |    AS total_price
      |FROM merged GROUP BY status""".stripMargin

  // --- q135: incremental aggregate maintenance -----------------------------
  // The "don't rescan the base" pattern: a materialized per-priority
  // aggregate exists for the historical snapshot (orders strictly older
  // than the last 30 days of data); a new batch arrives (the last 30
  // days); the maintained aggregate is base-partials ⊎ delta-partials —
  // merged by SUMming the algebraic state (n, Σcents), never re-reading
  // base rows. The oracle recomputes the FULL aggregate directly, so the
  // hash-match proves merge(base, delta) ≡ recompute — the invariant that
  // makes incremental maintenance sound.
  //
  // Scale shape: at 100 TB the base side is a tiny stored aggregate (one
  // row per group) and only the delta is scanned; here both sides scan
  // (there is no materialized store in the harness) but the merge itself
  // is the per-group union + sum of partial states, which is the part
  // under test. Cents-scaled LONGs keep the merge exact and
  // partition-order independent (same contract as q67/q131).
  private def q135(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val cutoff = o.agg(max(expr("CAST(o_orderdate AS DATE)"))).head()
      .getDate(0).toLocalDate.minusDays(30).toString
    def partial(df: DataFrame): DataFrame = df
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        sum(expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)"))
          .as("cents"))
    val base = partial(o.filter(
      expr(s"CAST(o_orderdate AS DATE) < DATE '$cutoff'")))
    val delta = partial(o.filter(
      expr(s"CAST(o_orderdate AS DATE) >= DATE '$cutoff'")))
    base.union(delta)
      .groupBy("o_orderpriority")
      .agg(sum(col("n")).as("n_orders"), sum(col("cents")).as("sc"))
      .select(col("o_orderpriority"), col("n_orders"),
        expr("CAST(sc AS DOUBLE) / 100.0").as("total_price"))
  }

  private val q135Sql =
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
      |    AS DOUBLE) / 100.0 AS total_price
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  // --- q137: skyline (Pareto frontier) -------------------------------------
  // The maximal orders under (maximize price, minimize date): an order is
  // on the skyline iff no other order has price ≥ AND date ≤ with at
  // least one strict — the multi-criteria "best tradeoffs" operator
  // (BNL/SFS family; this is the sort-filter-skyline formulation).
  //
  // Distributed shape: (1) collapse to DISTINCT (price, date) pairs with
  // counts — dominance only depends on the pair; (2) BUCKET-LOCAL skyline:
  // a window partitioned by a hash bucket, sorted (price DESC, date ASC),
  // keeps rows whose date beats the bucket's running strict-prefix min —
  // each bucket's survivors are a superset of its skyline contribution and
  // typically tiny (skylines are O(log^(k-1) n) in expectation under
  // independence); (3) GLOBAL pass: the same running-min filter over the
  // pooled candidates — safe on one partition precisely because step 2
  // already shrank the set (the standard partition-then-merge skyline).
  // No data-sized single-partition window ever runs.
  /** 2-D skyline (Pareto frontier): the rows of `df` whose
    * (`maxCol`, `minCol`) pair is not dominated — no other pair has
    * `maxCol` ≥ AND `minCol` ≤ with at least one strict. Returns one row
    * per surviving DISTINCT pair with its multiplicity `n_rows`
    * (dominance depends only on the pair, so ties survive together).
    *
    * Distributed sort-filter-skyline: bucket-local running-strict-min
    * windows (hash-partitioned over `buckets`) shrink each bucket to a
    * superset of its frontier contribution, then one pass over the
    * pooled candidates — which is safe on a single partition precisely
    * because skylines are tiny (O(log n) expected for independent dims).
    * No data-sized single-partition window ever runs.
    */
  def skyline(df: DataFrame, maxCol: String, minCol: String,
      buckets: Int = 16): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val pairs = df
      .groupBy(col(maxCol), col(minCol))
      .agg(count(lit(1)).as("n_rows"))
    def survivors(in: DataFrame, bucketed: Boolean): DataFrame = {
      val base = if (bucketed) Window.partitionBy("bkt")
                 else Window.partitionBy()
      val w = base.orderBy(col(maxCol).desc, col(minCol).asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      in.withColumn("m", min(col(minCol)).over(w))
        .filter(col("m").isNull || col(minCol) < col("m"))
        .drop("m")
    }
    val local = survivors(
      pairs.withColumn("bkt",
        pmod(hash(col(maxCol), col(minCol)), lit(buckets))),
      bucketed = true).drop("bkt")
    survivors(local, bucketed = false)
  }

  private def q137(s: SparkSession, dir: String): DataFrame =
    skyline(
      Tables.load(s, dir, "orders")
        .select(col("o_totalprice").as("price"),
          expr("CAST(o_orderdate AS DATE)").as("d")),
      maxCol = "price", minCol = "d")
      .select(col("price"), col("d").as("order_date"),
        col("n_rows").as("n_orders"))

  private val q137Sql =
    """WITH pairs AS (
      |  SELECT o_totalprice AS price, CAST(o_orderdate AS DATE) AS d,
      |    COUNT(*) AS n_orders
      |  FROM orders GROUP BY 1, 2
      |), s AS (
      |  SELECT *, MIN(d) OVER (ORDER BY price DESC, d ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m
      |  FROM pairs
      |)
      |SELECT price, d AS order_date, n_orders
      |FROM s WHERE m IS NULL OR d < m""".stripMargin

  // --- q139: market-basket pair mining (co-occurrence + lift) --------------
  // Frequent brand PAIRS across order baskets: for every pair of part
  // brands bought together in at least `MinSupport` orders — the pairwise
  // core of association-rule mining — the joint support, the marginal
  // supports, and the integer-per-mille lift
  // (n_both · n_baskets · 1000) div (n_a · n_b); lift > 1000 ⇔ the brands
  // co-occur more than independence predicts.
  //
  // Scale shape: the pair generation is a WITHIN-BASKET self-join — the
  // join key is the basket id, so fan-out per basket is C(k,2) with k =
  // distinct brands in that basket (≤ items per order, single digits),
  // never |brands|² nor |orders|². Marginals reuse the same distinct
  // (basket, brand) projection; both side tables are brand-cardinality
  // and broadcast. Overflow: n_both·n·1000 ≤ n²·10³ < 2^63 for n up to
  // ~3e9 baskets. The support floor is RELATIVE (per-mille of baskets)
  // so the operator is scale-factor stable.

  /** Market-basket pair mining: for every unordered item pair
    * co-occurring in at least `minSupportPerMille`/1000 of the baskets,
    * the joint support, both marginal supports, and the integer
    * per-mille lift (n_both · n_baskets · 1000) div (n_a · n_b).
    * `df` must carry (`basketCol`, `itemCol`); duplicates within a
    * basket are collapsed first.
    */
  def basketPairs(df: DataFrame, basketCol: String, itemCol: String,
      minSupportPerMille: Int = 20): DataFrame = {
    require(minSupportPerMille >= 0, "support floor must be non-negative")
    val ob = df
      .select(col(basketCol).as("basket"), col(itemCol).as("item"))
      .distinct()
      .persist()
    val nBaskets = broadcast(
      ob.select("basket").distinct().agg(count(lit(1)).as("n_baskets")))
    val marg = ob.groupBy("item").agg(count(lit(1)).as("n_item"))
    val pairs = ob.select(col("basket"), col("item").as("item_a"))
      .join(ob.select(col("basket").as("b2"), col("item").as("item_b")),
        col("basket") === col("b2") && col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b")
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(marg.withColumnRenamed("item", "item_a")
        .withColumnRenamed("n_item", "n_a")), "item_a")
      .join(broadcast(marg.withColumnRenamed("item", "item_b")
        .withColumnRenamed("n_item", "n_b")), "item_b")
      .crossJoin(nBaskets)
      .filter(col("n_both") * 1000 >= col("n_baskets") * minSupportPerMille)
      .select(col("item_a"), col("item_b"), col("n_both"),
        col("n_a"), col("n_b"),
        expr("(n_both * n_baskets * 1000) div (n_a * n_b)")
          .as("lift_milli"))
  }

  private def q139(s: SparkSession, dir: String): DataFrame =
    basketPairs(
      Tables.load(s, dir, "lineitem").select("l_orderkey", "l_partkey")
        .join(broadcast(Tables.load(s, dir, "part")
          .select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey")),
      basketCol = "l_orderkey", itemCol = "p_brand")
      .select(col("item_a").as("brand_a"), col("item_b").as("brand_b"),
        col("n_both"), col("n_a"), col("n_b"), col("lift_milli"))

  private val q139Sql =
    """WITH ob AS (
      |  SELECT DISTINCT l_orderkey AS basket, p_brand AS brand
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |), n AS (
      |  SELECT COUNT(DISTINCT basket) AS n_baskets FROM ob
      |), marg AS (
      |  SELECT brand, COUNT(*) AS n_brand FROM ob GROUP BY brand
      |), pairs AS (
      |  SELECT a.brand AS brand_a, b.brand AS brand_b, COUNT(*) AS n_both
      |  FROM ob a JOIN ob b
      |    ON a.basket = b.basket AND a.brand < b.brand
      |  GROUP BY 1, 2
      |)
      |SELECT brand_a, brand_b, n_both,
      |  ma.n_brand AS n_a, mb.n_brand AS n_b,
      |  (n_both * n_baskets * 1000) // (ma.n_brand * mb.n_brand)
      |    AS lift_milli
      |FROM pairs
      |JOIN marg ma ON ma.brand = brand_a
      |JOIN marg mb ON mb.brand = brand_b
      |CROSS JOIN n
      |WHERE n_both * 50 >= n_baskets""".stripMargin

  // --- q155: multi-source entity reconciliation ----------------------------
  // The master-data merge: three source systems know overlapping,
  // partially-conflicting slices of the customer entity (synthesized
  // deterministically from `customer` so the oracle replays them:
  // CRM = all keys except k%7=0, with STALE balances for k%3=0;
  // billing = k%2=0 with authoritative cents; support = k%5=0).
  // Reconciliation = two FULL OUTER joins on the entity key + a
  // survivorship rule (billing beats CRM on balance), a presence
  // bitmap, and a conflict flag per disputed field. Exercises the
  // null-extended branches on BOTH sides (CRM-missing keys arrive from
  // billing/support; support-only keys have no golden balance → NULL).
  // Scale shape: both joins hash-shuffle on the SAME key, so the second
  // join reuses the first's partitioning (one Exchange per input, no
  // re-shuffle between joins); the sources are projections of one scan.
  private def q155(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer")
      .select(col("c_custkey").as("k"), col("c_name"), col("c_nationkey"),
        expr("CAST(floor(c_acctbal * 100) AS BIGINT)").as("cents"))
    val crm = c.filter(col("k") % 7 =!= 0)
      .select(col("k"), col("c_name").as("crm_name"),
        when(col("k") % 3 === 0, col("cents") - 1000L)
          .otherwise(col("cents")).as("crm_cents"))
    val billing = c.filter(col("k") % 2 === 0)
      .select(col("k"), col("cents").as("bill_cents"))
    val support = c.filter(col("k") % 5 === 0)
      .select(col("k"), col("c_nationkey").cast("long").as("sup_nation"))
    crm.join(billing, Seq("k"), "full_outer")
      .join(support, Seq("k"), "full_outer")
      .select(col("k"),
        (when(col("crm_cents").isNotNull, 1L).otherwise(0L)
          + when(col("bill_cents").isNotNull, 2L).otherwise(0L)
          + when(col("sup_nation").isNotNull, 4L).otherwise(0L))
          .as("present_mask"),
        coalesce(col("bill_cents"), col("crm_cents")).as("golden_cents"),
        when(col("bill_cents").isNotNull && col("crm_cents").isNotNull
          && col("bill_cents") =!= col("crm_cents"), 1L).otherwise(0L)
          .as("cents_conflict"))
  }

  private val q155Sql =
    """WITH c AS (
      |  SELECT c_custkey AS k, c_name, c_nationkey,
      |    CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS cents
      |  FROM customer
      |), crm AS (
      |  SELECT k, c_name AS crm_name,
      |    CASE WHEN k % 3 = 0 THEN cents - 1000 ELSE cents END AS crm_cents
      |  FROM c WHERE k % 7 <> 0
      |), billing AS (
      |  SELECT k, cents AS bill_cents FROM c WHERE k % 2 = 0
      |), support AS (
      |  SELECT k, CAST(c_nationkey AS BIGINT) AS sup_nation
      |  FROM c WHERE k % 5 = 0
      |), j1 AS (
      |  SELECT COALESCE(crm.k, billing.k) AS k, crm_cents, bill_cents
      |  FROM crm FULL OUTER JOIN billing ON crm.k = billing.k
      |), j2 AS (
      |  SELECT COALESCE(j1.k, support.k) AS k, crm_cents, bill_cents,
      |    sup_nation
      |  FROM j1 FULL OUTER JOIN support ON j1.k = support.k
      |)
      |SELECT k,
      |  (CASE WHEN crm_cents IS NOT NULL THEN 1 ELSE 0 END
      |    + CASE WHEN bill_cents IS NOT NULL THEN 2 ELSE 0 END
      |    + CASE WHEN sup_nation IS NOT NULL THEN 4 ELSE 0 END)::BIGINT
      |    AS present_mask,
      |  COALESCE(bill_cents, crm_cents) AS golden_cents,
      |  (CASE WHEN bill_cents IS NOT NULL AND crm_cents IS NOT NULL
      |     AND bill_cents <> crm_cents THEN 1 ELSE 0 END)::BIGINT
      |    AS cents_conflict
      |FROM j2""".stripMargin

  // --- q162: unpivot / melt (wide → long) ----------------------------------
  // The inverse of q51's pivot: lineitem's four money/measure columns
  // melted into (measure, v) long form via the native `Dataset.unpivot`
  // operator (Catalyst Expand — each input row emits 4 long rows in one
  // codegen'd pass, no join, no union of 4 scans), then re-aggregated per
  // (returnflag, measure). All measures cast to exact centi-unit BIGINTs
  // BEFORE melting (unpivot requires a common value type; doubles would
  // put floats in the sum). The oracle replays the melt as a 4-way UNION
  // ALL over one scan — same rows, engine-neutral phrasing. Scale shape:
  // Expand is map-side (4× row fan-out, narrow), and the only shuffle is
  // the final tiny (flag, measure) aggregate.
  private def q162(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .select(col("l_returnflag"),
        expr("CAST(floor(l_quantity * 100) AS BIGINT)").as("qty"),
        expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("price"),
        expr("CAST(floor(l_discount * 100) AS BIGINT)").as("disc"),
        expr("CAST(floor(l_tax * 100) AS BIGINT)").as("tax"))
      .unpivot(
        ids = Array(col("l_returnflag")),
        values = Array(col("qty"), col("price"), col("disc"), col("tax")),
        variableColumnName = "measure",
        valueColumnName = "v")
      .groupBy("l_returnflag", "measure")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"),
        min(col("v")).as("min_v"), max(col("v")).as("max_v"))

  private val q162Sql =
    """WITH base AS (
      |  SELECT l_returnflag,
      |    CAST(FLOOR(l_quantity * 100) AS BIGINT) AS qty,
      |    CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS price,
      |    CAST(FLOOR(l_discount * 100) AS BIGINT) AS disc,
      |    CAST(FLOOR(l_tax * 100) AS BIGINT) AS tax
      |  FROM lineitem
      |), long AS (
      |  SELECT l_returnflag, 'qty' AS measure, qty AS v FROM base
      |  UNION ALL
      |  SELECT l_returnflag, 'price', price FROM base
      |  UNION ALL
      |  SELECT l_returnflag, 'disc', disc FROM base
      |  UNION ALL
      |  SELECT l_returnflag, 'tax', tax FROM base
      |)
      |SELECT l_returnflag, measure, COUNT(*) AS n,
      |  CAST(SUM(v) AS BIGINT) AS sum_v,
      |  MIN(v) AS min_v, MAX(v) AS max_v
      |FROM long GROUP BY 1, 2""".stripMargin

  // --- q171: share-of-total report (RATIO_TO_REPORT analytics) -------------
  // The BI staple Spark spells as windows-over-aggregates: revenue per
  // (returnflag, linestatus) with its share within the flag, its share
  // of the grand total, and the cumulative share walking flags' cells by
  // descending revenue (Pareto ordering; ties broken by status for
  // determinism). All three shares are integer-cent ratios rendered by
  // ONE shared double shape. Scale: the windows run over the AGGREGATED
  // cell grid (|flags|×|statuses| rows), so the unpartitioned
  // grand-total window touches a frame the size of the report, never
  // the fact table — aggregate first, window second is the whole trick.
  private def q171(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = Tables.load(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)"))
        .as("rev"))
    val byFlag = Window.partitionBy("l_returnflag")
    val all = Window.partitionBy()
    val pareto = Window.partitionBy()
      .orderBy(col("rev").desc, col("l_returnflag").asc,
        col("l_linestatus").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("flag_rev", sum(col("rev")).over(byFlag))
      .withColumn("total_rev", sum(col("rev")).over(all))
      .withColumn("cum_rev", sum(col("rev")).over(pareto))
      .select(col("l_returnflag"), col("l_linestatus"), col("rev"),
        expr("round(CAST(rev AS DOUBLE) / CAST(flag_rev AS DOUBLE), 6)")
          .as("share_in_flag"),
        expr("round(CAST(rev AS DOUBLE) / CAST(total_rev AS DOUBLE), 6)")
          .as("share_total"),
        expr("round(CAST(cum_rev AS DOUBLE) / CAST(total_rev AS DOUBLE), 6)")
          .as("cum_share"))
  }

  private val q171Sql =
    """WITH cells AS (
      |  SELECT l_returnflag, l_linestatus,
      |    CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT))
      |      AS BIGINT) AS rev
      |  FROM lineitem GROUP BY 1, 2
      |), w AS (
      |  SELECT l_returnflag, l_linestatus, rev,
      |    CAST(SUM(rev) OVER (PARTITION BY l_returnflag) AS BIGINT)
      |      AS flag_rev,
      |    CAST(SUM(rev) OVER () AS BIGINT) AS total_rev,
      |    CAST(SUM(rev) OVER (ORDER BY rev DESC, l_returnflag ASC,
      |      l_linestatus ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS cum_rev
      |  FROM cells
      |)
      |SELECT l_returnflag, l_linestatus, rev,
      |  round(CAST(rev AS DOUBLE) / CAST(flag_rev AS DOUBLE), 6)
      |    AS share_in_flag,
      |  round(CAST(rev AS DOUBLE) / CAST(total_rev AS DOUBLE), 6)
      |    AS share_total,
      |  round(CAST(cum_rev AS DOUBLE) / CAST(total_rev AS DOUBLE), 6)
      |    AS cum_share
      |FROM w""".stripMargin

  // --- q173: SQL front door (one text, two engines) ------------------------
  // The reference's users speak SQL; this entry proves the library's SQL
  // surface end-to-end by registering the tables ([[Tables.registerAll]])
  // and running ONE dialect-neutral SQL text through `spark.sql` — and
  // handing the DuckDB oracle the IDENTICAL string. No per-engine
  // phrasing at all: the join/filter/HAVING/CAST subset used is common to
  // both dialects (the explicit CAST around SUM pins DuckDB's HUGEINT
  // widening back to BIGINT; it is a no-op on Spark). Catalyst plans it
  // like any DataFrame query — broadcast dims, pushed filters — since
  // views are just named lazy plans.
  private val q173Text =
    """SELECT n_name, o_orderpriority,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS sum_cents,
      |  MIN(o_orderkey) AS first_key
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE o_orderstatus <> 'P'
      |GROUP BY n_name, o_orderpriority
      |HAVING COUNT(*) >= 5""".stripMargin

  private def q173(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(q173Text)
  }

  // --- q174: incremental JOIN-view maintenance (delta rules) ---------------
  // q135's invariant lifted from aggregates to joins: a materialized view
  // V = L ⋈ O maintained under simultaneous inserts to BOTH sides by the
  // textbook delta rule ΔV = ΔL⋈O_old ∪ L_old⋈ΔO ∪ ΔL⋈ΔO, then
  // V_new = V_old ∪ ΔV. The oracle recomputes the full join directly, so
  // the hash-match proves maintain ≡ recompute — including the ΔL⋈ΔO
  // cross-delta term that naive implementations drop (rows where a new
  // lineitem meets a new order would silently vanish; the splits below
  // guarantee such pairs exist: both deltas are keyed on orderkey
  // multiples). Scale shape: at 100 TB only the three delta-sided joins
  // run per refresh and each is bounded by a delta, broadcastable when
  // small; the stored V_old is unioned, never re-joined. The result is
  // compared as a per-group aggregate of the view (counts + exact
  // cents), which is partition- and union-order-independent.
  private def q174(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"),
        expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("cents"))
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
    val lOld = l.filter(expr("l_orderkey % 4 != 0"))
    val lNew = l.filter(expr("l_orderkey % 4 = 0"))
    val oOld = o.filter(expr("o_orderkey % 2 != 0"))
    val oNew = o.filter(expr("o_orderkey % 2 = 0"))
    def j(a: DataFrame, b: DataFrame): DataFrame =
      a.join(b, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_returnflag"), col("o_orderpriority"), col("cents"))
    val vOld = j(lOld, oOld)
    val deltaV = j(lNew, oOld).unionAll(j(lOld, oNew)).unionAll(j(lNew, oNew))
    vOld.unionAll(deltaV)
      .groupBy("l_returnflag", "o_orderpriority")
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
  }

  private val q174Sql =
    """SELECT l_returnflag, o_orderpriority, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |    AS sum_cents
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1, 2""".stripMargin

  // --- q179: data-contract validation suite --------------------------------
  // The dbt-style table contract as ONE battery row set: five checks over
  // orders — NOT NULL, enum domain, value range, key uniqueness,
  // referential integrity to customer — each emitting (check, violations,
  // pass). The three ROW-LEVEL checks fuse into a single scan+aggregate
  // (conditional sums), melted to rows by `stack`; uniqueness counts
  // rows beyond the first per duplicate key (Σ max(cnt−1, 0) — 0 when
  // clean, proportional when not); the FK check is a left-anti count
  // (broadcastable dimension). Scale: two fact scans + one dim anti-join
  // total — checks ride together, not one pass per check. All-green
  // fixtures still hash (pass bits + zeros are data); the range check's
  // fixed 450k-dollar ceiling exercises a non-zero violation path
  // whenever the fixture carries jumbo orders.
  private def q179(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .withColumn("cents", expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
    val rowChecks = o.agg(
        sum(expr("IF(o_orderstatus IS NULL, 1L, 0L)")).as("c1"),
        sum(expr("IF(o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM'," +
          "'4-NOT SPECIFIED','5-LOW'), 0L, 1L)")).as("c2"),
        sum(expr("IF(cents > 0 AND cents <= 45000000, 0L, 1L)")).as("c3"))
      .selectExpr("stack(3, 'not_null_status', c1, 'enum_priority', c2, " +
        "'range_price', c3) AS (check_name, n_violations)")
    val uniq = o.groupBy("o_orderkey").agg(count(lit(1)).as("cnt"))
      .agg(coalesce(sum(expr("IF(cnt > 1, cnt - 1, 0L)")), lit(0L))
        .as("n_violations"))
      .select(lit("unique_orderkey").as("check_name"), col("n_violations"))
    val fk = o.join(
        Tables.load(s, dir, "customer").select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .select(lit("fk_custkey").as("check_name"), col("n_violations"))
    rowChecks.unionAll(uniq).unionAll(fk)
      .select(col("check_name"), col("n_violations"),
        (col("n_violations") === 0L).as("pass"))
  }

  private val q179Sql =
    """WITH o AS (
      |  SELECT *, CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders
      |), rowchecks AS (
      |  SELECT 'not_null_status' AS check_name,
      |    CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_violations
      |  FROM o
      |  UNION ALL
      |  SELECT 'enum_priority',
      |    CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH',
      |      '3-MEDIUM','4-NOT SPECIFIED','5-LOW') THEN 0 ELSE 1 END)
      |      AS BIGINT)
      |  FROM o
      |  UNION ALL
      |  SELECT 'range_price',
      |    CAST(SUM(CASE WHEN cents > 0 AND cents <= 45000000
      |      THEN 0 ELSE 1 END) AS BIGINT)
      |  FROM o
      |  UNION ALL
      |  SELECT 'unique_orderkey',
      |    CAST(COALESCE(SUM(CASE WHEN cnt > 1 THEN cnt - 1 ELSE 0 END), 0)
      |      AS BIGINT)
      |  FROM (SELECT o_orderkey, COUNT(*) AS cnt FROM o GROUP BY 1)
      |  UNION ALL
      |  SELECT 'fk_custkey',
      |    CAST(COUNT(*) AS BIGINT)
      |  FROM o WHERE NOT EXISTS (SELECT 1 FROM customer
      |                           WHERE c_custkey = o_custkey)
      |)
      |SELECT check_name, n_violations, n_violations = 0 AS pass
      |FROM rowchecks""".stripMargin

  // --- q181: period-over-period report (MoM deltas) ------------------------
  // The month-over-month revenue readout: per (priority, month) exact
  // cent totals with the previous month's total (lag), the signed delta,
  // and the percent change as one shared double expression (NULL on the
  // first month — no fake 0% — and NULL-safe when the base month is 0).
  // Month = date_trunc rendered as its epoch-day integer so both engines
  // group and order on the same BIGINT. Lag windows partition by
  // priority and walk the aggregated month grid — report-sized frames,
  // q171's aggregate-first discipline.
  private def q181(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderpriority").orderBy(col("month_day"))
    Tables.load(s, dir, "orders")
      .groupBy(col("o_orderpriority"),
        expr("datediff(date_trunc('MONTH', CAST(o_orderdate AS DATE)), " +
          "DATE '1970-01-01')").cast("long").as("month_day"))
      .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
        .as("rev"))
      .withColumn("prev", lag(col("rev"), 1).over(w))
      .select(col("o_orderpriority"), col("month_day"), col("rev"),
        col("prev"),
        (col("rev") - col("prev")).as("delta"),
        expr("CASE WHEN prev IS NULL OR prev = 0 THEN CAST(NULL AS DOUBLE) " +
          "ELSE round(100.0 * CAST(rev - prev AS DOUBLE) " +
          "/ CAST(prev AS DOUBLE), 4) END").as("pct_change"))
  }

  private val q181Sql =
    """WITH m AS (
      |  SELECT o_orderpriority,
      |    CAST(date_diff('day', DATE '1970-01-01',
      |      date_trunc('month', CAST(o_orderdate AS DATE))) AS BIGINT)
      |      AS month_day,
      |    CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS rev
      |  FROM orders GROUP BY 1, 2
      |), l AS (
      |  SELECT *, LAG(rev, 1) OVER (PARTITION BY o_orderpriority
      |    ORDER BY month_day) AS prev
      |  FROM m
      |)
      |SELECT o_orderpriority, month_day, rev, prev,
      |  rev - prev AS delta,
      |  CASE WHEN prev IS NULL OR prev = 0 THEN CAST(NULL AS DOUBLE)
      |       ELSE round(100.0 * CAST(rev - prev AS DOUBLE)
      |         / CAST(prev AS DOUBLE), 4) END AS pct_change
      |FROM l""".stripMargin

  // --- q187: deletion-request purge audit (cascade + residue proof) --------
  // The right-to-be-forgotten job as an auditable operator: a deletion
  // set (every 97th customer) cascades customer → orders → lineitem
  // (two hops — lineitem references customers only THROUGH orders), each
  // table purged by an anti-join against the broadcast key set, and the
  // audit row per table carries before/purged/after counts plus
  // n_residue — rows in the purged output still reachable from a deleted
  // key, which the same semi-join that did the purge proves is zero. The
  // residue column is the point: a purge that reports "done" without a
  // residue proof is exactly how tombstoned data resurfaces. Scale:
  // deletion sets are small vs the tables (broadcast anti/semi joins, no
  // shuffle of the facts beyond the scan), and each table's audit is one
  // aggregate.
  private def q187(s: SparkSession, dir: String): DataFrame = {
    val delKeys = Tables.load(s, dir, "customer")
      .filter(expr("c_custkey % 97 = 0")).select(col("c_custkey"))
    val o = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_custkey")
    val oPurged = o.join(broadcast(delKeys),
      col("o_custkey") === col("c_custkey"), "left_anti")
    val delOrders = o.join(broadcast(delKeys),
      col("o_custkey") === col("c_custkey"), "left_semi")
      .select(col("o_orderkey").as("del_ok"))
    val l = Tables.load(s, dir, "lineitem").select("l_orderkey")
    // delOrders is |orders|/97 keys (~155k at sf10) — small vs lineitem
    // but PAST Catalyst's pre-AQE broadcast estimate once the semi-join
    // output stats are unknown: without the hint the lineitem anti/semi
    // legs planned as sort-merge at sf10 (full 60M-row shuffle, measured
    // 25.6× for the 10× step). The hint pins the design intent stated
    // above; ReuseExchange shares the one broadcast across both legs.
    val lPurged = l.join(broadcast(delOrders),
      col("l_orderkey") === col("del_ok"), "left_anti")
    def audit(table: String, before: DataFrame, after: DataFrame,
        residue: DataFrame): DataFrame =
      before.agg(count(lit(1)).as("n_before"))
        .join(after.agg(count(lit(1)).as("n_after")), lit(true))
        .join(residue.agg(count(lit(1)).as("n_residue")), lit(true))
        .select(lit(table).as("table_name"), col("n_before"),
          (col("n_before") - col("n_after")).as("n_purged"),
          col("n_after"), col("n_residue"))
    audit("orders", o, oPurged,
        oPurged.join(broadcast(delKeys),
          col("o_custkey") === col("c_custkey"), "left_semi"))
      .unionAll(audit("lineitem", l, lPurged,
        lPurged.join(broadcast(delOrders),
          col("l_orderkey") === col("del_ok"), "left_semi")))
  }

  private val q187Sql =
    """WITH del AS (
      |  SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
      |), delo AS (
      |  SELECT o_orderkey FROM orders
      |  WHERE o_custkey IN (SELECT c_custkey FROM del)
      |), oa AS (
      |  SELECT 'orders' AS table_name,
      |    (SELECT COUNT(*) FROM orders) AS n_before,
      |    (SELECT COUNT(*) FROM delo) AS n_purged,
      |    (SELECT COUNT(*) FROM orders) - (SELECT COUNT(*) FROM delo)
      |      AS n_after,
      |    CAST(0 AS BIGINT) AS n_residue
      |), la AS (
      |  SELECT 'lineitem',
      |    (SELECT COUNT(*) FROM lineitem),
      |    (SELECT COUNT(*) FROM lineitem
      |     WHERE l_orderkey IN (SELECT o_orderkey FROM delo)),
      |    (SELECT COUNT(*) FROM lineitem)
      |      - (SELECT COUNT(*) FROM lineitem
      |         WHERE l_orderkey IN (SELECT o_orderkey FROM delo)),
      |    CAST(0 AS BIGINT)
      |)
      |SELECT * FROM oa UNION ALL SELECT * FROM la""".stripMargin

  // --- q188: lakehouse-ops capstone (contract → diff → purge → checksum) ---
  // The operational day-in-the-life as ONE lazy composition, the ops
  // sibling of q90/q129's curation capstones: total contract violations
  // (q179's suite), dirty Merkle leaves vs the mutated replica (q170's
  // reconciliation via the public `Temporal.merkleBucketDiff`), the
  // purge cascade's order count (q187's deletion set), and the
  // post-purge content checksum that a downstream consumer would pin —
  // four 1-row frames broadcast-joined into one audit row. The oracle
  // is literally the composition of the member oracles as subqueries,
  // so the hash-match proves the composition preserved every member's
  // semantics. Each member keeps its own scale shape; the capstone adds
  // zero shuffles of its own.
  private def q188(s: SparkSession, dir: String): DataFrame = {
    val violations = q179(s, dir)
      .agg(sum(col("n_violations")).as("total_violations"))
    val v1 = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
    val v2 = v1.filter(expr("o_orderkey % 1009 != 0"))
      .withColumn("cents", expr("cents + IF(o_orderkey % 997 = 0, 1L, 0L)"))
    val dirty = Temporal.merkleBucketDiff(v1, v2, "o_orderkey",
        "concat_ws('|', CAST(o_orderkey AS STRING), CAST(cents AS STRING))")
      .agg(count(lit(1)).as("n_dirty_leaves"))
    val purged = q187(s, dir)
      .filter(col("table_name") === "orders")
      .select(col("n_purged").as("n_purged_orders"))
    val afterPurge = Tables.load(s, dir, "orders")
      .join(broadcast(Tables.load(s, dir, "customer")
          .filter(expr("c_custkey % 97 = 0")).select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .select(col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
      .agg(expr("bit_xor(" + Dialect.sparkHash60(
        "concat_ws('|', CAST(o_orderkey AS STRING), " +
          "CAST(cents AS STRING))") + ")").as("survivor_checksum"))
    violations.join(broadcast(dirty), lit(true))
      .join(broadcast(purged), lit(true))
      .join(broadcast(afterPurge), lit(true))
  }

  private def q188Sql(q179: String, q170: String): String =
    s"""SELECT
       |  (SELECT CAST(SUM(n_violations) AS BIGINT) FROM (
       |${q179.linesIterator.map("    " + _).mkString("\n")}
       |  )) AS total_violations,
       |  (SELECT COUNT(*) FROM (
       |${q170.linesIterator.map("    " + _).mkString("\n")}
       |  )) AS n_dirty_leaves,
       |  (SELECT COUNT(*) FROM orders
       |   WHERE o_custkey IN (SELECT c_custkey FROM customer
       |                       WHERE c_custkey % 97 = 0))
       |    AS n_purged_orders,
       |  (SELECT bit_xor(${Dialect.duckHash60(
      "concat_ws('|', CAST(o_orderkey AS VARCHAR), " +
        "CAST(CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS VARCHAR))")})
       |   FROM orders
       |   WHERE o_custkey NOT IN (SELECT c_custkey FROM customer
       |                           WHERE c_custkey % 97 = 0))
       |    AS survivor_checksum""".stripMargin

  // --- q196: CDC snapshot diff (the MERGE classification primitive) --------
  // Two table snapshots → the change set: inserts (new key), deletes
  // (gone key), updates (key present in both, any tracked column
  // changed), unchanged — the classification every MERGE INTO /
  // incremental-materialization pipeline starts from. Snapshots are
  // carved deterministically from orders (A = keys ≢ 0 mod 7; B = keys
  // ≢ 0 mod 3 with price shifted +1 for keys ≡ 0 mod 5 — integer
  // increments are exact in doubles, so the update predicate is
  // bit-deterministic on both engines). Output: per-class row count and
  // key checksums (sum/min/max).
  //
  // Scale shape: ONE full-outer sort-merge join on the key — the diff
  // of two 100 TB snapshots is exactly one co-partitioned join (bucket
  // both snapshots by key to make it shuffle-free), the class label is
  // a map-side CASE over the null sides, and the result is a 4-group
  // aggregate. No distinct, no window, no second pass.
  private def q196(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"),
        col("o_orderstatus").as("st"))
    val a = o.filter(col("k") % 7 =!= 0)
      .select(col("k"), col("p").as("pa"), col("st").as("sta"))
    val b = o.filter(col("k") % 3 =!= 0)
      .withColumn("p",
        when(col("k") % 5 === 0, col("p") + 1).otherwise(col("p")))
      .select(col("k"), col("p").as("pb"), col("st").as("stb"))
    a.join(b, Seq("k"), "full_outer")
      .withColumn("change_type", expr(
        "CASE WHEN pa IS NULL THEN 'insert' " +
          "WHEN pb IS NULL THEN 'delete' " +
          "WHEN pa <> pb OR sta <> stb THEN 'update' " +
          "ELSE 'unchanged' END"))
      .groupBy("change_type")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("k")).as("key_sum"),
        min(col("k")).as("min_key"),
        max(col("k")).as("max_key"))
  }

  private val q196Sql =
    """WITH a AS (
      |  SELECT o_orderkey AS k, o_totalprice AS pa, o_orderstatus AS sta
      |  FROM orders WHERE o_orderkey % 7 != 0
      |), b AS (
      |  SELECT o_orderkey AS k,
      |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1
      |         ELSE o_totalprice END AS pb,
      |    o_orderstatus AS stb
      |  FROM orders WHERE o_orderkey % 3 != 0
      |), d AS (
      |  SELECT CASE WHEN pa IS NULL THEN 'insert'
      |              WHEN pb IS NULL THEN 'delete'
      |              WHEN pa <> pb OR sta <> stb THEN 'update'
      |              ELSE 'unchanged' END AS change_type, k
      |  FROM a FULL JOIN b USING (k)
      |)
      |SELECT change_type, COUNT(*) AS n_rows,
      |  CAST(SUM(k) AS BIGINT) AS key_sum,
      |  MIN(k) AS min_key, MAX(k) AS max_key
      |FROM d GROUP BY 1""".stripMargin

  // --- q198: STREAMING upsert view (the incremental side of q196) ----------
  // A CDC change stream folds into "latest row per key" keyed state —
  // the materialized-upsert-view primitive behind every MERGE-fed table.
  // The fixture synthesizes versioned changes from orders (v1 = base
  // row for every B key; v2 = the price-shifted row for keys ≡ 0 mod 5
  // — exactly q196's update set), streams them through a complete-mode
  // aggregate whose state is max(struct(version, …)) — ONE struct per
  // key forever, the bounded-state upsert fold (a late/duplicate v1
  // cannot displace a v2: struct max orders by version first, so the
  // fold is arrival-order independent). At drain the stream-built view
  // replays q196's diff against snapshot A and must match the
  // oracle-checked batch classification count-for-count (transitive
  // parity, fail-loud ParityGate). Runs on RocksDB like the rest of
  // the streaming battery.
  private def q198(s: SparkSession, dir: String): DataFrame = {
    val fromStream = graft.streaming.StreamConf.drain(s, "q198",
        "complete") { _ =>
      val o = Tables.stream(s, dir, "orders")
        .filter(col("o_orderkey") % 3 =!= 0)
      val v1 = o.select(col("o_orderkey").as("k"), struct(
        lit(1).as("v"), col("o_totalprice").as("pb"),
        col("o_orderstatus").as("stb")).as("row"))
      val v2 = o.filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey").as("k"), struct(
          lit(2).as("v"), (col("o_totalprice") + 1).as("pb"),
          col("o_orderstatus").as("stb")).as("row"))
      v1.union(v2).groupBy("k").agg(max(col("row")).as("r"))
    } { leg =>
      val b = leg.out
        .select(col("k"), col("r.pb").as("pb"), col("r.stb").as("stb"))
      val a = Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").as("pa"), col("o_orderstatus").as("sta"))
      a.join(b, Seq("k"), "full_outer")
        .withColumn("change_type", expr(
          "CASE WHEN pa IS NULL THEN 'insert' " +
            "WHEN pb IS NULL THEN 'delete' " +
            "WHEN pa <> pb OR sta <> stb THEN 'update' " +
            "ELSE 'unchanged' END"))
        .groupBy("change_type")
        .agg(count(lit(1)).as("n_rows"), sum(col("k")).as("key_sum"))
        .collect()
    }
    val batch = q196(s, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    import s.implicits._
    graft.ParityGate(
      fromStream.toSeq.map { r =>
        val ct = r.getString(0)
        (ct, r.getLong(1), r.getLong(2),
          batch.get(ct).contains((r.getLong(1), r.getLong(2))) &&
            batch.size == fromStream.length)
      }.toDF("change_type", "n_rows", "key_sum", "matches_batch"),
      "q198_stream_upsert", "matches_batch")
  }

  // Round-14 conversion (StreamSweep.oracleSql's scheme): the streamed
  // upsert fold's drained view replays q196's diff; the oracle is
  // q196's CTEs projected to q198's columns with the bit pinned TRUE.
  private val q198Sql =
    """WITH a AS (
      |  SELECT o_orderkey AS k, o_totalprice AS pa, o_orderstatus AS sta
      |  FROM orders WHERE o_orderkey % 7 != 0
      |), b AS (
      |  SELECT o_orderkey AS k,
      |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1
      |         ELSE o_totalprice END AS pb,
      |    o_orderstatus AS stb
      |  FROM orders WHERE o_orderkey % 3 != 0
      |), d AS (
      |  SELECT CASE WHEN pa IS NULL THEN 'insert'
      |              WHEN pb IS NULL THEN 'delete'
      |              WHEN pa <> pb OR sta <> stb THEN 'update'
      |              ELSE 'unchanged' END AS change_type, k
      |  FROM a FULL JOIN b USING (k)
      |)
      |SELECT change_type, COUNT(*) AS n_rows,
      |  CAST(SUM(k) AS BIGINT) AS key_sum,
      |  TRUE AS matches_batch
      |FROM d GROUP BY 1""".stripMargin

  // --- q242: equi-depth histogram + selectivity-estimate audit -------------
  // The ANALYZE-statistics side of a query optimizer (equi-depth
  // histograms per Piatetsky-Shapiro & Connell, SIGMOD 1984): build a
  // K-bucket equi-depth histogram over l_extendedprice (cents-exact),
  // then audit the estimator it induces — for a grid of range predicates
  // `cents <= c_j`, the histogram's interpolated cardinality estimate
  // vs the true count, side by side. This is the loop a cost-based
  // optimizer lives on; the entry makes both the construction AND the
  // estimator's error surface oracle-checkable.
  //
  // Scale shape (100 TB): one value-grain aggregation (|distinct cents|
  // rows), one distributed PrefixSum scan over the value grain, then a
  // CLOSED-FORM boundary extraction — each value row knows from
  // (cum−cnt, cum] alone exactly which of the K depth targets
  // r_i = ⌊i·n/K⌋ it crosses (r_i ∈ (cum−cnt, cum] ⇔
  // i ∈ [⌈K(cum−cnt+1)/n⌉, ⌊(K(cum+1)−1)/n⌋]), so the K boundary rows
  // fall out of one explode with NO top-k, NO global sort, NO second
  // pass. Everything downstream (bucket frame, cut grid, estimates)
  // runs on ≤ K-row frames; the true counts come from a per-row
  // closed-form `jmin` (smallest cut index covering the row) folded to
  // a ≤ CutGrid-row histogram — one more scan, no join amplification.
  // The interpolation avoids the (c−lo+1)·rows_b product overflowing
  // BIGINT at 10^12-row scale by splitting rows_b = q·w + r first
  // (q·(c−lo+1) ≤ rows_b and r·(c−lo+1) < w² — both safe).
  private val HistK = 32
  private val CutGrid = 16

  private def q242(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem").select(
      expr("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
        .as("cents"))
    // three bounded driver scalars (one 1-row aggregate, q228 pattern)
    val g = li.agg(count(lit(1)), min(col("cents")), max(col("cents")))
      .head()
    val n = g.getLong(0)
    require(n >= HistK, s"q242: need at least $HistK rows, got $n")
    val gmin = g.getLong(1)
    val span = g.getLong(2) - gmin
    require(span >= CutGrid,
      s"q242: value span $span too narrow for a $CutGrid-point cut grid")
    val vals = li.groupBy("cents").agg(count(lit(1)).as("cnt"))
    val cum = graft.plans.PrefixSum.scan(vals, "cents", Seq(col("cents")),
      Seq(("cnt", "cum")))
    val bnd = cum
      .withColumn("ilo",
        expr(s"($HistK * (cum - cnt + 1) + $n - 1) DIV $n"))
      .withColumn("ihi", expr(s"($HistK * (cum + 1) - 1) DIV $n"))
      .filter(col("ihi") >= col("ilo"))
      .select(explode(expr("sequence(ilo, ihi)")).as("i"),
        col("cents").as("hi"), col("cum"))
    // K-row frame: the single-partition window is over 32 rows at ANY
    // data scale (K is a constant, not data-dependent)
    val w = Window.orderBy("i")
    val bkt = bnd
      .withColumn("lo", coalesce(lag(col("hi"), 1).over(w) + 1, lit(gmin)))
      .withColumn("below", coalesce(lag(col("cum"), 1).over(w), lit(0L)))
      .withColumn("rows_b", col("cum") - col("below"))
    val cuts = s.range(1, CutGrid.toLong)
      .select(col("id").as("j"),
        expr(s"$gmin + (id * $span) DIV $CutGrid").as("cut"))
    val est = cuts
      .join(bkt, col("cut").between(col("lo"), col("hi")))
      .select(col("j"), col("cut"),
        expr("""below + (rows_b DIV (hi - lo + 1)) * (cut - lo + 1)
               |  + ((rows_b % (hi - lo + 1)) * (cut - lo + 1))
               |    DIV (hi - lo + 1)""".stripMargin).as("est_rows"))
    val jm = li
      .select(expr(
        s"greatest(1L, (${CutGrid}L * (cents - $gmin) + $span - 1) " +
          s"DIV $span)").as("jmin"))
      .groupBy("jmin").agg(count(lit(1)).as("c"))
    val tru = cuts.join(jm, col("jmin") <= col("j"))
      .groupBy("j").agg(sum(col("c")).as("true_rows"))
    est.join(tru, Seq("j"), "left")
      .select(col("j").as("cut_id"), col("cut").as("cut_cents"),
        col("est_rows"),
        coalesce(col("true_rows"), lit(0L)).as("true_rows"),
        abs(col("est_rows") - coalesce(col("true_rows"), lit(0L)))
          .as("abs_err"))
  }

  private val q242Sql =
    s"""WITH src AS (
       |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
       |    AS BIGINT) AS cents FROM lineitem
       |), g AS (
       |  SELECT COUNT(*) AS n, MIN(cents) AS gmin,
       |    MAX(cents) - MIN(cents) AS span FROM src
       |), cum AS (
       |  SELECT cents, cnt, SUM(cnt) OVER (ORDER BY cents) AS cum
       |  FROM (SELECT cents, COUNT(*) AS cnt FROM src GROUP BY cents)
       |), bnd AS (
       |  SELECT unnest(generate_series(
       |      CAST(($HistK * (cum - cnt + 1) + n - 1) // n AS BIGINT),
       |      CAST(($HistK * (cum + 1) - 1) // n AS BIGINT))) AS i,
       |    cents AS hi, CAST(cum AS BIGINT) AS cum
       |  FROM cum CROSS JOIN g
       |), bkt AS (
       |  SELECT i, hi, cum,
       |    COALESCE(LAG(hi) OVER (ORDER BY i) + 1,
       |      (SELECT gmin FROM g)) AS lo,
       |    COALESCE(LAG(cum) OVER (ORDER BY i), 0) AS below
       |  FROM bnd
       |), cuts AS (
       |  SELECT j, gmin + (j * span) // $CutGrid AS cut
       |  FROM g CROSS JOIN
       |    (SELECT unnest(generate_series(1, ${CutGrid - 1})) AS j)
       |), est AS (
       |  SELECT j, cut,
       |    below + ((cum - below) // (hi - lo + 1)) * (cut - lo + 1)
       |      + (((cum - below) % (hi - lo + 1)) * (cut - lo + 1))
       |        // (hi - lo + 1) AS est_rows
       |  FROM cuts JOIN bkt ON cut BETWEEN lo AND hi
       |), jm AS (
       |  SELECT GREATEST(1, ($CutGrid * (cents - gmin) + span - 1)
       |      // span) AS jmin,
       |    COUNT(*) AS c
       |  FROM src CROSS JOIN g GROUP BY 1
       |), tru AS (
       |  SELECT j, SUM(c) AS true_rows
       |  FROM cuts JOIN jm ON jmin <= j GROUP BY j
       |)
       |SELECT est.j AS cut_id, est.cut AS cut_cents,
       |  CAST(est_rows AS BIGINT) AS est_rows,
       |  CAST(COALESCE(true_rows, 0) AS BIGINT) AS true_rows,
       |  CAST(abs(est_rows - COALESCE(true_rows, 0)) AS BIGINT)
       |    AS abs_err
       |FROM est LEFT JOIN tru ON est.j = tru.j""".stripMargin

  // --- q245: column profiler (ANALYZE-table statistics) --------------------
  // The other half of q242's optimizer-statistics story: the per-column
  // profile an ANALYZE pass materializes — row/null counts, exact NDV,
  // lexicographic min/max, and the most-frequent value with its count
  // (ties broken to the smallest value, so the profile is a pure
  // function of the data). Every column is profiled through a
  // DETERMINISTIC string image (prices as exact cents, dates as ISO
  // days) so the profile — and its oracle — never touches engine float
  // formatting.
  //
  // Scale shape (100 TB): one unpivot scan (×|cols| row multiplier, the
  // price any profiler pays) into a (col, value)-grain aggregate; all
  // per-column statistics fold from that grain as grouped aggregates.
  // The top value deliberately AVOIDS a rank-window partitioned by
  // column (|cols| partitions → one reducer per column would hold a
  // billion-value partition): it's a grouped max(count) + an equi-join
  // back + a grouped min(value) — three shuffles on value-grain rows,
  // no single-reducer stage anywhere.
  private def q245(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val vg = o.select(expr(
      """stack(6,
        |  'o_orderkey', CAST(o_orderkey AS STRING),
        |  'o_custkey', CAST(o_custkey AS STRING),
        |  'o_orderstatus', o_orderstatus,
        |  'o_totalprice', CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2))
        |    * 100 AS BIGINT) AS STRING),
        |  'o_orderdate', CAST(CAST(o_orderdate AS DATE) AS STRING),
        |  'o_orderpriority', o_orderpriority) AS (col_name, val)"""
        .stripMargin))
      .groupBy("col_name", "val").agg(count(lit(1)).as("cnt"))
    val prof = vg.groupBy("col_name").agg(
      sum(col("cnt")).as("n_rows"),
      sum(when(col("val").isNull, col("cnt")).otherwise(0L)).as("n_null"),
      count(when(col("val").isNotNull, lit(1))).as("n_distinct"),
      min(col("val")).as("min_val"), max(col("val")).as("max_val"),
      max(when(col("val").isNotNull, col("cnt"))).as("top_n"))
    val top = vg.join(
        prof.select(col("col_name"), col("top_n").as("mx")),
        Seq("col_name"))
      .filter(col("cnt") === col("mx") && col("val").isNotNull)
      .groupBy("col_name").agg(min(col("val")).as("top_val"))
    prof.join(top, Seq("col_name"))
      .select(col("col_name"), col("n_rows"), col("n_null"),
        col("n_distinct"), col("min_val"), col("max_val"),
        col("top_val"), col("top_n"))
  }

  private val q245Sql =
    """WITH u AS (
      |  SELECT 'o_orderkey' AS col_name,
      |    CAST(o_orderkey AS VARCHAR) AS val FROM orders
      |  UNION ALL SELECT 'o_custkey', CAST(o_custkey AS VARCHAR)
      |    FROM orders
      |  UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
      |  UNION ALL SELECT 'o_totalprice',
      |    CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
      |      AS VARCHAR) FROM orders
      |  UNION ALL SELECT 'o_orderdate',
      |    CAST(CAST(o_orderdate AS DATE) AS VARCHAR) FROM orders
      |  UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders
      |), vg AS (
      |  SELECT col_name, val, COUNT(*) AS cnt FROM u GROUP BY 1, 2
      |), prof AS (
      |  SELECT col_name,
      |    CAST(SUM(cnt) AS BIGINT) AS n_rows,
      |    CAST(SUM(CASE WHEN val IS NULL THEN cnt ELSE 0 END) AS BIGINT)
      |      AS n_null,
      |    CAST(COUNT(CASE WHEN val IS NOT NULL THEN 1 END) AS BIGINT)
      |      AS n_distinct,
      |    MIN(val) AS min_val, MAX(val) AS max_val,
      |    CAST(MAX(CASE WHEN val IS NOT NULL THEN cnt END) AS BIGINT)
      |      AS top_n
      |  FROM vg GROUP BY 1
      |), top AS (
      |  SELECT vg.col_name, MIN(vg.val) AS top_val
      |  FROM vg JOIN prof ON vg.col_name = prof.col_name
      |    AND vg.cnt = prof.top_n
      |  WHERE vg.val IS NOT NULL
      |  GROUP BY 1
      |)
      |SELECT prof.col_name, n_rows, n_null, n_distinct, min_val,
      |  max_val, top_val, top_n
      |FROM prof JOIN top ON prof.col_name = top.col_name""".stripMargin

  // --- q246: approximate functional-dependency profile ---------------------
  // Data-profiling's dependency half (the TANE family — Huhtala et al.,
  // The Computer Journal 42(2), 1999): for a fixed candidate list of
  // X → Y dependencies over lineitem, the exact violation count
  // (g₃-style error: rows that must be removed for the FD to hold =
  // Σ_X (group size − plurality Y count)) and the induced strength.
  // The candidates span the spectrum on this data — the derived-column
  // dependency (ship date → ship year) holds by construction,
  // low-cardinality pairs are weak — so the profile, not a boolean, is
  // the output. (The obvious key candidate, (orderkey, linenumber), is
  // deliberately ALSO profiled: the synthetic generator repeats line
  // numbers within an order, and a profiler's job is to report that,
  // not assume it away.)
  //
  // Scale shape: each candidate is two grouped aggregates — (X, Y)
  // grain, then X grain with max(count) — and a scalar fold; nothing
  // wider than the value grain ever shuffles. Candidates run as
  // independent unioned branches of one plan.
  private def q246(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    // determinant/dependent stay RAW columns end to end: the keys never
    // reach the output (only the fold does), so a concatenated string
    // key would only widen the two value-grain shuffles. The cost term
    // is irreducible anyway: three of the five candidates have
    // near-row-cardinality (X, Y) grains, so each pays two full-width
    // shuffles of ~n rows — linear, but with no combiner benefit
    // (unique keys), which is what the sf10 decade measures (PERF.md)
    def fd(name: String, xs: Seq[String], y: String): DataFrame = {
      val xc = xs.zipWithIndex.map { case (e, i) => expr(e).as(s"x$i") }
      val xn = xs.indices.map(i => col(s"x$i"))
      li.select(xc :+ expr(y).as("y"): _*)
        .groupBy(xn :+ col("y"): _*).agg(count(lit(1)).as("c"))
        .groupBy(xn: _*).agg(sum(col("c")).as("tot"),
          max(col("c")).as("mx"))
        .agg(sum(col("tot")).as("n_rows"),
          count(lit(1)).as("n_groups"),
          sum(col("tot") - col("mx")).as("n_viol"))
        .select(lit(name).as("fd"), col("n_rows"), col("n_groups"),
          col("n_viol"), (col("n_viol") === 0L).as("holds"),
          expr("1000 * (n_rows - n_viol) DIV n_rows")
            .as("strength_milli"))
    }
    Seq(
      fd("shipdate->shipyear",
        Seq("CAST(l_shipdate AS DATE)"),
        "year(CAST(l_shipdate AS DATE))"),
      fd("orderkey,linenumber->shipdate",
        Seq("l_orderkey", "l_linenumber"),
        "CAST(l_shipdate AS DATE)"),
      fd("partkey,qty->price",
        Seq("l_partkey", "CAST(l_quantity AS BIGINT)"),
        "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)"),
      fd("suppkey->partkey", Seq("l_suppkey"), "l_partkey"),
      fd("returnflag->linestatus", Seq("l_returnflag"), "l_linestatus"))
      .reduce(_ unionByName _)
  }

  private val q246Sql = {
    def fd(name: String, xs: Seq[String], y: String): String = {
      val xsel = xs.zipWithIndex
        .map { case (e, i) => s"$e AS x$i" }.mkString(", ")
      val xn = xs.indices.map(i => s"x$i").mkString(", ")
      s"""SELECT '$name' AS fd,
         |  CAST(SUM(tot) AS BIGINT) AS n_rows,
         |  CAST(COUNT(*) AS BIGINT) AS n_groups,
         |  CAST(SUM(tot - mx) AS BIGINT) AS n_viol,
         |  SUM(tot - mx) = 0 AS holds,
         |  CAST(1000 * (SUM(tot) - SUM(tot - mx)) // SUM(tot) AS BIGINT)
         |    AS strength_milli
         |FROM (
         |  SELECT $xn, SUM(c) AS tot, MAX(c) AS mx FROM (
         |    SELECT $xsel, $y AS y, COUNT(*) AS c
         |    FROM lineitem GROUP BY ALL)
         |  GROUP BY $xn)""".stripMargin
    }
    Seq(
      fd("shipdate->shipyear",
        Seq("CAST(l_shipdate AS DATE)"),
        "year(CAST(l_shipdate AS DATE))"),
      fd("orderkey,linenumber->shipdate",
        Seq("l_orderkey", "l_linenumber"),
        "CAST(l_shipdate AS DATE)"),
      fd("partkey,qty->price",
        Seq("l_partkey", "CAST(l_quantity AS BIGINT)"),
        "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)"),
      fd("suppkey->partkey", Seq("l_suppkey"), "l_partkey"),
      fd("returnflag->linestatus", Seq("l_returnflag"),
        "l_linestatus"))
      .mkString("", "\nUNION ALL\n", "")
  }

  // --- q248: join-cardinality estimation audit -----------------------------
  // The third leg of the optimizer-statistics family (q242 range
  // selectivity, q245 column profiles): |A ⋈ B| estimation. Two
  // estimators per candidate join, audited against the exact join
  // size: the System R uniform-NDV formula n_A·n_B / max(ndv_A, ndv_B)
  // (Selinger et al., SIGMOD 1979) and an end-biased refinement
  // (Ioannidis & Christodoulakis, SIGMOD 1991): the top-F fact keys
  // carry their EXACT per-key product, the remainder falls back to the
  // uniform formula on the residual masses/NDVs. The output is the
  // error surface a cost model would pay on each join of the schema.
  //
  // Scale shape: per candidate, two value-grain aggregates (key counts
  // per side), one equi-join of those grains for the exact size (never
  // the row-level join itself), and a TakeOrdered top-F (distributed
  // partial top-k, no global sort). The uniform quotients use the
  // split-division form (q DIV + remainder) so every product stays
  // exact in BIGINT through the audited decades; at 10^12-row scale
  // the residual product term wants the hi/lo-limb split (documented,
  // not needed in-battery).
  private val JcTopF = 100

  private def q248(s: SparkSession, dir: String): DataFrame = {
    val s0 = s
    def audit(name: String, left: DataFrame, lk: String,
        right: DataFrame, rk: String): DataFrame = {
      val lg = left.select(col(lk).as("k")).groupBy("k")
        .agg(count(lit(1)).as("cl"))
      val rg = right.select(col(rk).as("k")).groupBy("k")
        .agg(count(lit(1)).as("cr"))
      val joined = lg.join(rg, Seq("k")) // value grain, never row grain
        .ckptLocal(eager = false)  // exact + top-F legs
      val top = rg.orderBy(col("cr").desc, col("k").asc).limit(JcTopF)
        .join(lg, Seq("k"), "left")
        .agg(count(lit(1)).as("f"),
          sum(coalesce(col("cl"), lit(0L)) * col("cr"))
            .as("top_exact"),
          sum(coalesce(col("cl"), lit(0L))).as("top_cl"),
          sum(col("cr")).as("top_cr"),
          count(col("cl")).as("top_matched_l"))
      val totals = lg.agg(sum(col("cl")).as("nl"),
          count(lit(1)).as("ndvl"))
        .crossJoin(rg.agg(sum(col("cr")).as("nr"),
          count(lit(1)).as("ndvr")))
        .crossJoin(joined.agg(
          coalesce(sum(col("cl") * col("cr")), lit(0L))
            .as("true_rows")))
        .crossJoin(top)
      totals.select(lit(name).as("join_name"),
          col("nl").as("n_left"), col("nr").as("n_right"),
          col("ndvl").as("ndv_left"), col("ndvr").as("ndv_right"),
          col("true_rows"),
          expr("""(nl DIV greatest(ndvl, ndvr)) * nr
                 |  + ((nl % greatest(ndvl, ndvr)) * nr)
                 |    DIV greatest(ndvl, ndvr)""".stripMargin)
            .as("est_sysr"),
          expr("""top_exact
                 |  + ((nl - top_cl) DIV greatest(ndvl - top_matched_l,
                 |      ndvr - f, 1)) * (nr - top_cr)
                 |  + (((nl - top_cl) % greatest(ndvl - top_matched_l,
                 |      ndvr - f, 1)) * (nr - top_cr))
                 |    DIV greatest(ndvl - top_matched_l, ndvr - f, 1)"""
            .stripMargin).as("est_eb"))
        .withColumn("err_sysr", abs(col("est_sysr") - col("true_rows")))
        .withColumn("err_eb", abs(col("est_eb") - col("true_rows")))
    }
    val li = Tables.load(s0, dir, "lineitem")
    Seq(
      audit("orders*lineitem", Tables.load(s0, dir, "orders"),
        "o_orderkey", li, "l_orderkey"),
      audit("customer*orders", Tables.load(s0, dir, "customer"),
        "c_custkey", Tables.load(s0, dir, "orders"), "o_custkey"),
      audit("part*lineitem", Tables.load(s0, dir, "part"),
        "p_partkey", li, "l_partkey"),
      audit("supplier*lineitem", Tables.load(s0, dir, "supplier"),
        "s_suppkey", li, "l_suppkey"),
      // the one non-key candidate: both sides carry non-uniform per-key
      // counts, so System R's uniformity assumption pays a real error
      // (Σc² > n²/ndv by Cauchy–Schwarz) and the end-biased refinement
      // visibly closes most of it — the row that makes the audit an
      // error SURFACE rather than a wall of zeros
      audit("events*events", Tables.load(s0, dir, "events"), "user_id",
        Tables.load(s0, dir, "events"), "user_id"))
      .reduce(_ unionByName _)
  }

  private val q248Sql = {
    def audit(name: String, lt: String, lk: String, rt: String,
        rk: String): String =
      s"""SELECT '$name' AS join_name, n_left, n_right, ndv_left,
         |  ndv_right, true_rows,
         |  (n_left // greatest(ndv_left, ndv_right)) * n_right
         |    + ((n_left % greatest(ndv_left, ndv_right)) * n_right)
         |      // greatest(ndv_left, ndv_right) AS est_sysr,
         |  top_exact
         |    + ((n_left - top_cl) // greatest(ndv_left - top_matched_l,
         |        ndv_right - f, 1)) * (n_right - top_cr)
         |    + (((n_left - top_cl) % greatest(ndv_left - top_matched_l,
         |        ndv_right - f, 1)) * (n_right - top_cr))
         |      // greatest(ndv_left - top_matched_l, ndv_right - f, 1)
         |    AS est_eb
         |FROM (
         |  SELECT
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM $lt) AS n_left,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM $rt) AS n_right,
         |    (SELECT CAST(COUNT(DISTINCT $lk) AS BIGINT) FROM $lt)
         |      AS ndv_left,
         |    (SELECT CAST(COUNT(DISTINCT $rk) AS BIGINT) FROM $rt)
         |      AS ndv_right,
         |    (SELECT CAST(COALESCE(SUM(cl * cr), 0) AS BIGINT) FROM
         |      (SELECT $lk AS k, COUNT(*) AS cl FROM $lt GROUP BY 1) l
         |      JOIN (SELECT $rk AS k, COUNT(*) AS cr FROM $rt
         |        GROUP BY 1) r ON l.k = r.k) AS true_rows,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM
         |      (SELECT $rk AS k, COUNT(*) AS cr FROM $rt GROUP BY 1
         |       ORDER BY cr DESC, k ASC LIMIT $JcTopF)) AS f,
         |    (SELECT CAST(COALESCE(SUM(COALESCE(cl, 0) * cr), 0)
         |      AS BIGINT) FROM
         |      (SELECT $rk AS k, COUNT(*) AS cr FROM $rt GROUP BY 1
         |       ORDER BY cr DESC, k ASC LIMIT $JcTopF) t
         |      LEFT JOIN (SELECT $lk AS k, COUNT(*) AS cl FROM $lt
         |        GROUP BY 1) l ON t.k = l.k) AS top_exact,
         |    (SELECT CAST(COALESCE(SUM(COALESCE(cl, 0)), 0) AS BIGINT)
         |      FROM
         |      (SELECT $rk AS k, COUNT(*) AS cr FROM $rt GROUP BY 1
         |       ORDER BY cr DESC, k ASC LIMIT $JcTopF) t
         |      LEFT JOIN (SELECT $lk AS k, COUNT(*) AS cl FROM $lt
         |        GROUP BY 1) l ON t.k = l.k) AS top_cl,
         |    (SELECT CAST(COALESCE(SUM(cr), 0) AS BIGINT) FROM
         |      (SELECT $rk AS k, COUNT(*) AS cr FROM $rt GROUP BY 1
         |       ORDER BY cr DESC, k ASC LIMIT $JcTopF)) AS top_cr,
         |    (SELECT CAST(COUNT(cl) AS BIGINT) FROM
         |      (SELECT $rk AS k, COUNT(*) AS cr FROM $rt GROUP BY 1
         |       ORDER BY cr DESC, k ASC LIMIT $JcTopF) t
         |      LEFT JOIN (SELECT $lk AS k, COUNT(*) AS cl FROM $lt
         |        GROUP BY 1) l ON t.k = l.k) AS top_matched_l
         |)""".stripMargin
    val joins = Seq(
      audit("orders*lineitem", "orders", "o_orderkey",
        "lineitem", "l_orderkey"),
      audit("customer*orders", "customer", "c_custkey",
        "orders", "o_custkey"),
      audit("part*lineitem", "part", "p_partkey",
        "lineitem", "l_partkey"),
      audit("supplier*lineitem", "supplier", "s_suppkey",
        "lineitem", "l_suppkey"),
      audit("events*events", "events", "user_id",
        "events", "user_id"))
      .mkString("", "\nUNION ALL\n", "")
    s"""SELECT join_name, n_left, n_right, ndv_left, ndv_right,
       |  true_rows, est_sysr, est_eb,
       |  abs(est_sysr - true_rows) AS err_sysr,
       |  abs(est_eb - true_rows) AS err_eb
       |FROM ($joins)""".stripMargin
  }

  // --- q253: A-priori frequent triples (market-basket, level 3) ------------
  // q139 stops at pairs; this is the level the A-priori pruning
  // argument (Agrawal & Srikant, VLDB 1994) actually exists for:
  // candidate triples are generated ONLY from frequent pairs sharing a
  // prefix ((a,b) ⋈ (a,c), b < c) and pruned by the third sub-pair
  // (b,c) ∈ L2 — the downward-closure property makes the candidate
  // space polynomial in |L2|, never in the item domain. Baskets =
  // distinct (order, category) with category = partkey mod 12 (the
  // basket-analysis grain a category rollup produces); support =
  // order count, minsup = max(2, orders/100).
  //
  // Scale shape: per-order pair/triple generation is Θ(Σ C(m_o, 2|3))
  // with m_o ≤ 12 categories per basket — linear in orders with a
  // small constant; candidate generation runs on the |L2|-row frame
  // (item-domain-bounded); the only data-scale shuffles are the
  // (order, category)-grain distinct and the grouped support counts.
  private val AprCat = 12

  private def q253(s: SparkSession, dir: String): DataFrame = {
    val b = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey").as("oid"),
        expr(s"l_partkey % $AprCat").as("cat"))
      .distinct()
      .ckptLocal(eager = false) // L1 + pair + triple legs
    val nB = b.select("oid").distinct().count() // bounded driver scalar
    val minsup = math.max(2L, nB / 100)
    val l1 = b.groupBy("cat").agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= minsup).select("cat")
    val b1 = b.join(l1, Seq("cat")).select("oid", "cat")
      .ckptLocal(eager = false) // three self-join legs
    val l2 = b1.as("x").join(b1.as("y"),
        col("x.oid") === col("y.oid") && col("x.cat") < col("y.cat"))
      .groupBy(col("x.cat").as("a"), col("y.cat").as("bb"))
      .agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= minsup)
      .select("a", "bb")
      .ckptLocal(eager = false) // prefix join + subset prune
    val cand = l2.as("p")
      .join(l2.as("q"), col("p.a") === col("q.a") &&
        col("p.bb") < col("q.bb"))
      .select(col("p.a").as("a"), col("p.bb").as("b"),
        col("q.bb").as("c"))
      .join(l2.select(col("a").as("b"), col("bb").as("c")),
        Seq("b", "c")) // downward closure: (b, c) must be frequent too
      .select("a", "b", "c")
    b1.as("t1")
      .join(b1.as("t2"),
        col("t1.oid") === col("t2.oid") && col("t1.cat") < col("t2.cat"))
      .join(b1.as("t3"),
        col("t2.oid") === col("t3.oid") && col("t2.cat") < col("t3.cat"))
      .select(col("t1.cat").as("a"), col("t2.cat").as("b"),
        col("t3.cat").as("c"))
      .join(cand, Seq("a", "b", "c"), "left_semi")
      .groupBy("a", "b", "c").agg(count(lit(1)).as("support"))
      .filter(col("support") >= minsup)
      .select(col("a"), col("b"), col("c"), col("support"),
        lit(nB).as("n_orders"),
        expr(s"(1000 * support) DIV $nB").as("support_milli"))
  }

  private val q253Sql =
    s"""WITH b AS (
       |  SELECT DISTINCT l_orderkey AS oid, l_partkey % $AprCat AS cat
       |  FROM lineitem
       |), n AS (
       |  SELECT GREATEST(2, COUNT(DISTINCT oid) // 100) AS minsup,
       |    COUNT(DISTINCT oid) AS no
       |  FROM b
       |), l1 AS (
       |  SELECT cat FROM b GROUP BY cat
       |  HAVING COUNT(*) >= (SELECT minsup FROM n)
       |), b1 AS (
       |  SELECT b.oid, b.cat FROM b JOIN l1 USING (cat)
       |), l2 AS (
       |  SELECT x.cat AS a, y.cat AS bb
       |  FROM b1 x JOIN b1 y ON x.oid = y.oid AND x.cat < y.cat
       |  GROUP BY 1, 2 HAVING COUNT(*) >= (SELECT minsup FROM n)
       |), cand AS (
       |  SELECT p.a, p.bb AS b, q.bb AS c
       |  FROM l2 p
       |  JOIN l2 q ON p.a = q.a AND p.bb < q.bb
       |  JOIN l2 r ON r.a = p.bb AND r.bb = q.bb
       |), tri AS (
       |  SELECT t1.cat AS a, t2.cat AS b, t3.cat AS c,
       |    COUNT(*) AS support
       |  FROM b1 t1
       |  JOIN b1 t2 ON t1.oid = t2.oid AND t1.cat < t2.cat
       |  JOIN b1 t3 ON t2.oid = t3.oid AND t2.cat < t3.cat
       |  JOIN cand ON cand.a = t1.cat AND cand.b = t2.cat
       |    AND cand.c = t3.cat
       |  GROUP BY 1, 2, 3 HAVING COUNT(*) >= (SELECT minsup FROM n)
       |)
       |SELECT a, b, c, CAST(support AS BIGINT) AS support,
       |  (SELECT CAST(no AS BIGINT) FROM n) AS n_orders,
       |  CAST((1000 * support) // (SELECT no FROM n) AS BIGINT)
       |    AS support_milli
       |FROM tri""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q253_apriori_triples" -> q253 _,
    "q248_join_card_est" -> q248 _,
    "q245_column_profile" -> q245 _,
    "q246_fd_profile" -> q246 _,
    "q242_equidepth_selectivity" -> q242 _,
    "q198_stream_upsert" -> q198 _,
    "q196_snapshot_diff" -> q196 _,
    "q188_ops_capstone" -> q188 _,
    "q187_purge_audit" -> q187 _,
    "q181_period_report" -> q181 _,
    "q179_data_contract" -> q179 _,
    "q174_join_maintenance" -> q174 _,
    "q173_sql_surface" -> q173 _,
    "q171_ratio_report" -> q171 _,
    "q162_unpivot" -> q162 _,
    "q155_reconciliation" -> q155 _,
    "q135_agg_maintenance" -> q135 _,
    "q137_skyline" -> q137 _,
    "q139_basket_pairs" -> q139 _,
    "q81_cdc_upsert" -> q81 _,
    "q79_bloom_semi_join" -> q79 _,
    "q69_outer_join" -> q69 _,
    "q60_theta_join" -> q60 _,
    "q63_setops_all" -> q63 _,
    "q64_lateral_topk" -> q64 _,
    "q65_null_semantics" -> q65 _,
    "q66_struct_ops" -> q66 _,
    "q61_not_in" -> q61 _,
    "q203_not_in_scale" -> q203 _,
    "q58_skew_salted_join" -> q58 _,
    "q59_value_windows" -> q59 _,
    "q51_pivot" -> q51 _,
    "q52_posexplode" -> q52 _,
    "q53_rank_stats" -> q53 _,
    "q54_hash_sample" -> q54 _,
    "q55_corr_subquery" -> q55 _,
    "q49_collect_argmax" -> q49 _,
    "q47_date_arith" -> q47 _,
    "q48_window_frames" -> q48 _,
    "q46_percentiles" -> q46 _,
    "q44_json_map_funcs" -> q44 _,
    "q45_array_funcs" -> q45 _,
    "q37_grouping_sets" -> q37 _,
    "q38_approx_distinct" -> q38 _,
    "q39_skew_salted_agg" -> q39 _,
    "q43_topk_grouped" -> q43 _,
    "q1_pricing_summary" -> q1 _,
    "q2_join_agg" -> q2 _,
    "q3_topk" -> q3 _,
    "q4_semi_join" -> q4 _,
    "q5_multiway_join" -> q5 _,
    "q6_filter_agg" -> q6 _,
    "q7_window_rank" -> q7 _,
    "q8_rollup" -> q8 _,
    "q9_setops" -> q9 _,
    "q10_distinct_agg" -> q10 _,
    "q11_cube" -> q11 _,
    "q12_anti_join" -> q12 _,
    "q13_string_funcs" -> q13 _,
    "q14_date_agg" -> q14 _,
    "q15_regex_json" -> q15 _,
    "q16_case_bucket" -> q16 _)

  val oracleSql: Map[String, String] = Map(
    "q253_apriori_triples" -> q253Sql,
    "q248_join_card_est" -> q248Sql,
    "q245_column_profile" -> q245Sql,
    "q246_fd_profile" -> q246Sql,
    "q242_equidepth_selectivity" -> q242Sql,
    "q38_approx_distinct" -> q38Sql,
    "q196_snapshot_diff" -> q196Sql,
    "q198_stream_upsert" -> q198Sql,
    "q188_ops_capstone" -> q188Sql(q179Sql, Temporal.q170Sql),
    "q187_purge_audit" -> q187Sql,
    "q181_period_report" -> q181Sql,
    "q179_data_contract" -> q179Sql,
    "q174_join_maintenance" -> q174Sql,
    "q173_sql_surface" -> q173Text,
    "q171_ratio_report" -> q171Sql,
    "q162_unpivot" -> q162Sql,
    "q155_reconciliation" -> q155Sql,
    "q135_agg_maintenance" -> q135Sql,
    "q137_skyline" -> q137Sql,
    "q139_basket_pairs" -> q139Sql,
    "q81_cdc_upsert" -> q81Sql,
    "q79_bloom_semi_join" -> q79Sql,
    "q69_outer_join" -> q69Sql,
    "q60_theta_join" -> q60Sql,
    "q63_setops_all" -> q63Sql,
    "q64_lateral_topk" -> q64Sql,
    "q65_null_semantics" -> q65Sql,
    "q66_struct_ops" -> q66Sql,
    "q61_not_in" -> q61Sql,
    "q203_not_in_scale" -> q61Sql, // decomposition is semantics-preserving
    "q58_skew_salted_join" -> q58Sql,
    "q59_value_windows" -> q59Sql,
    "q51_pivot" -> q51Sql,
    "q52_posexplode" -> q52Sql,
    "q53_rank_stats" -> q53Sql,
    "q54_hash_sample" -> q54Sql,
    "q55_corr_subquery" -> q55Sql,
    "q37_grouping_sets" -> q37Sql,
    // q38_approx_distinct intentionally has no oracle (engine-specific HLL)
    "q39_skew_salted_agg" -> q39Sql,
    "q43_topk_grouped" -> q43Sql,
    "q44_json_map_funcs" -> q44Sql,
    "q45_array_funcs" -> q45Sql,
    "q46_percentiles" -> q46Sql,
    "q47_date_arith" -> q47Sql,
    "q48_window_frames" -> q48Sql,
    "q49_collect_argmax" -> q49Sql,
    "q1_pricing_summary" -> q1Sql,
    "q2_join_agg" -> q2Sql,
    "q3_topk" -> q3Sql,
    "q4_semi_join" -> q4Sql,
    "q5_multiway_join" -> q5Sql,
    "q6_filter_agg" -> q6Sql,
    "q7_window_rank" -> q7Sql,
    "q8_rollup" -> q8Sql,
    "q9_setops" -> q9Sql,
    "q10_distinct_agg" -> q10Sql,
    "q11_cube" -> q11Sql,
    "q12_anti_join" -> q12Sql,
    "q13_string_funcs" -> q13Sql,
    "q14_date_agg" -> q14Sql,
    "q15_regex_json" -> q15Sql,
    "q16_case_bucket" -> q16Sql)
}
