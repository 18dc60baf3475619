package graft.ops

import graft.SparkTestBase

/** Round-14 plan pins — the two round-11 `weak` flags were plans whose
  * in-code scale claims were false (q133 claimed WindowGroupLimit but
  * sorted full posting lists; q191 collected a user's full timeline into
  * one aggregation buffer before the cap). These asserts make the fixed
  * shapes load-bearing: a refactor that reintroduces an unbounded buffer
  * or a full per-group sort fails here, not at 100 TB.
  */
class Round14PlanSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, sf)
      .queryExecution.executedPlan.toString

  private def count(pat: String, p: String): Int =
    ("\\b" + pat + "\\b").r.findAllIn(p).size

  test("q133: single scan, bounded top-k aggregate, no Window/Sort") {
    val p = plan("q133_inverted_index")
    // the posting sample is a bounded-heap Aggregator INSIDE the term
    // aggregate — no window, no per-term sort of full posting lists
    assert(count("Window", p) == 0, s"expected no Window:\n$p")
    assert(count("Sort", p) == 0, s"expected no Sort:\n$p")
    // exactly 2 hash-partitioned data exchanges: (term, doc) then term
    // (the n_total side's SinglePartition merge of 1-row partial counts
    // and its BroadcastExchange don't move data rows)
    assert(count("Exchange hashpartitioning", p) == 2,
      s"expected 2 hash data Exchanges:\n$p")
    // two-phase: partial top-k/df/Σtf run map-side on (term, doc)-
    // partitioned data — a stopword term's work spreads across tasks
    assert(p.contains("partial_topkaggregator") ||
      p.contains("partial_TopKAggregator") ||
      p.toLowerCase.contains("partial_topkagg"),
      s"expected partial top-k aggregation:\n$p")
    // the 1-row doc count joins by explicit broadcast, never a shuffle
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), s"expected broadcast count:\n$p")
  }

  test("q191: per-user cap compiles to WindowGroupLimit before collect") {
    val p = plan("q191_behavior_align")
    // rank ≤ 128 is a FILTER above the window → InferWindowGroupLimit
    // pre-trims map-side; the collect_list buffer is bounded at 128
    assert(p.contains("WindowGroupLimit"), s"expected WindowGroupLimit:\n$p")
  }

  test("q193: corpus grams meet the bench set by BROADCAST, not shuffle") {
    val p = plan("q193_contamination")
    // the corpus side must be filtered by a broadcast hash join before
    // any exchange — a shuffled join here would move the full corpus
    // gram stream at 100 TB
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    // anti-join of bench ids is also broadcast
    assert(p.contains("LeftAnti"), s"expected broadcast anti join:\n$p")
    assert(count("SortMergeJoin", p) <= 1, // bench × hits (50 rows) only
      s"corpus-side SMJ crept in:\n$p")
  }

  test("q196: the diff is ONE full-outer join and one aggregate") {
    val p = plan("q196_snapshot_diff")
    assert(p.contains("FullOuter"), s"expected full-outer join:\n$p")
    assert(count("SortMergeJoin", p) == 1, s"expected exactly 1 join:\n$p")
    assert(count("Window", p) == 0 && count("CartesianProduct", p) == 0,
      s"unexpected window/cartesian:\n$p")
  }

  test("q197: corpus scans once (checkpoint), solve runs on the aggregate") {
    val p = plan("q197_mixture_cap")
    // the corpus aggregate materializes ONCE via localCheckpoint — every
    // consumer reads the checkpointed n_sources-row frame, so the query
    // plan itself contains no parquet scan at all (observed before the
    // barrier: 4 corpus scans)
    assert(!p.contains("Scan parquet"), s"corpus re-scan crept in:\n$p")
    // the level solve's window runs on the aggregate, one tiny exchange
    assert(count("Exchange hashpartitioning", p) <= 1,
      s"expected at most 1 hash exchange:\n$p")
  }
}
