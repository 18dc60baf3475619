package graft.ops

import graft.CkptLocalOps
import graft.{QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed connected components over an edge list — the cluster-
  * resolution step of a near-dup dedup pipeline (SURVEY §2.9): LSH/SimHash
  * candidate generation yields PAIRS; turning pairs into duplicate
  * GROUPS ("keep one doc per component") is a connected-components
  * problem over the pair graph.
  *
  * Algorithm: min-label propagation with pointer jumping, expressed
  * entirely as DataFrame joins/aggregations —
  *
  *   1. every vertex starts labeled with its own id;
  *   2. each round, every vertex adopts the minimum over three candidate
  *      sets fused into ONE aggregate: its own label, its neighbors'
  *      labels (edges⋈labels), and its representative's label
  *      (labels⋈labels — the pointer-jumping step). The jump roughly
  *      doubles label reach per round, so convergence is O(log diameter)
  *      rounds at the same two-jobs-per-round cost as plain propagation;
  *   3. stop when a round changes no label.
  *
  * Every round is a pair of key-partitioned joins + a partial aggregate —
  * no driver-side data, no full-graph collect — and each round's result
  * is localCheckpoint()ed so lineage stays O(1) instead of growing per
  * iteration (superseded checkpoint blocks are released by Spark's
  * ContextCleaner once the superseded round's RDD is unreferenced).
  * The iterative loops here (this one, [[Graph.kCore]],
  * [[Graph.hopDistances]], [[Graph.shortestPaths]]) checkpoint each
  * round with `ckptCounted`, which counts the rows their fixpoint test
  * needs in the checkpoint's own execution: one Spark execution per
  * round, not a checkpoint plus a `count()`.
  *
  * Determinism: labels are ids, min is associative/commutative, and the
  * fixpoint (min id reachable) is unique — results are independent of
  * partitioning and iteration interleaving.
  */
object Graph extends QueryModule {

  /** @param edges undirected edges as columns `a`, `b` (self-loops and
    *              duplicates tolerated; null endpoints dropped); vertex
    *              type must be orderable.
    * @return one row per distinct non-null endpoint: (`id`, `comp`) with
    *         `comp` = the minimum vertex id reachable from `id`
    *         (component representative).
    * @throws IllegalStateException if labels have not converged after
    *         `maxIter` HOOK rounds — a silent early stop would report
    *         one component as several. Each round is min-hooking
    *         followed by FULL path compression (Shiloach–Vishkin
    *         shape). Empirically rounds track O(log |V|) (5 on the
    *         q209 eps-graph, vs 26 for layer propagation), but the
    *         PROVEN per-round guarantee is only pairwise tree merging,
    *         so the fail-loud default is sized to the worst case:
    *         `maxIter` = 48 covers 2⁴⁷ label trees — more vertices
    *         than a 100 TB corpus has bytes — and costs nothing when
    *         converged (the loop exits on the first quiescent round).
    *
    * Why ROOT-hooking + full compression, not per-vertex label
    * propagation with a fused pointer jump: propagating to vertices
    * merges two label trees one BOUNDARY LAYER per round (the interior
    * still points at the old root, so a big tree bleeds into its
    * lower-labeled neighbor hop-by-hop — measured 26 rounds on an
    * 815-vertex / 4,889-edge spatial eps-graph, and a 100-TB corpus's
    * larger diameters would blow past any fixed cap). Hooking the ROOT
    * (each edge (a,b) addresses its message to `comp(a)`, proposing
    * `comp(b)`) merges whole trees at once: every tree adjacent to a
    * lower-labeled tree hooks in one round, chains of hooks flatten in
    * the compression loop (`comp ← comp(comp)` halves every chain depth
    * per step — true pointer doubling), so trees-per-component at least
    * halve per round: the same eps-graph converges in 5 rounds, and
    * rounds grow O(log |V|), never with graph diameter.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 48): DataFrame = {
    val pairs = edges.select(col("a"), col("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
    // Vertex set BEFORE dropping self-loops: a vertex whose only edge is
    // (v, v) is still a (singleton) component and must appear in the
    // output.
    val verts = pairs
      .select(explode(array(col("a"), col("b"))).as("id")).distinct()
    // Symmetrized edge set; read by every hook round.
    // Round 18 NOTE: caching this hash(a)-pre-partitioned (repartition
    // on the join key before a partition-local distinct) removes the
    // per-round sym-side Exchange — but was tried and REVERTED: the
    // explicit partitioning disables AQE coalescing along the whole
    // per-round join path, and at bench scale (sf0.1) the extra task
    // overhead cost 15–30% on every CC consumer (q50 2.4→2.9 s, q209
    // 3.2→3.8 s measured). The per-round exchange is AQE-coalesced to
    // near-zero cost at this scale; at cluster scale the right fix is
    // bucketed/pre-partitioned EDGE STORAGE, not a plan-level pin.
    val und = pairs.filter(col("a") =!= col("b"))
    val sym = und
      .union(und.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .persist()

    var labels = verts.select(col("id"), col("id").as("comp"))
      .ckptLocal(true)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      // root-hook: each edge (a,b) addresses a's ROOT (comp(a)),
      // proposing b's root (comp(b)) — whole trees merge per round, not
      // boundary layers (`sym` carries both directions). The proposal
      // targets only root ids; a root's own label is in the min, so
      // labels stay monotone non-increasing and the hook pointer graph
      // is acyclic by the < order. The previous label rides the same
      // aggregate (min over the own-row only) so the changed-count needs
      // no labels⋈next join, and the counted checkpoint takes it in the
      // hook step's one execution (the compression loop below adds one
      // more per doubling step — O(log chain-depth) of them per round).
      val msgs = sym
        .join(labels.select(col("id").as("a"), col("comp").as("ca")), "a")
        .join(labels.select(col("id").as("b"), col("comp").as("cb")), "b")
        .select(col("ca").as("id"), col("cb").as("comp"))
      val (hooked, moved) = labels.withColumn("own", lit(true))
        .unionByName(msgs.withColumn("own", lit(false)))
        .groupBy("id").agg(
          min(col("comp")).as("comp"),
          min(when(col("own"), col("comp"))).as("prev"))
        .ckptCounted(col("comp") =!= col("prev"))
      changed = moved
      labels = hooked.select(col("id"), col("comp"))
      // full path compression: comp ← comp(comp) until idempotent.
      // Labels are always vertex ids with comp(x) ≤ x, so the self-join
      // matches every row and labels stay monotone non-increasing; when
      // a step moves nothing the mapping is idempotent and the loop
      // exits having adopted an identical frame. Termination is
      // guaranteed for well-formed labels (each step HALVES every
      // chain's depth, so 64 steps cover chains of 2⁶⁴), but a
      // corrupted frame (a label cycle from a buggy caller edge type)
      // must fail loud like every other iterative loop here, not spin.
      var compressing = changed > 0
      var cstep = 0
      while (compressing) {
        if (cstep >= 64) throw new IllegalStateException(
          "connectedComponents: path compression did not reach a " +
            "fixpoint in 64 doubling steps — label frame is corrupt " +
            "(cycle?); doubling covers chains of depth 2^64")
        val (stepped, jumped) = labels
          .join(labels.select(col("id").as("comp"), col("comp").as("jump")),
            "comp")
          .ckptCounted(col("jump") =!= col("comp"))
        compressing = jumped > 0
        labels = stepped.select(col("id"), col("jump").as("comp"))
        cstep += 1
      }
      iter += 1
    }
    sym.unpersist()
    if (changed > 0) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds " +
        s"($changed labels still changing) — raise maxIter")
    labels
  }

  // --- weighted PageRank, fixed iterations, integer-scaled -----------------

  /** Weighted PageRank over a directed edge list, `iters` synchronous
    * rounds, all arithmetic in SCALED 64-bit integers so the result is
    * bit-reproducible across engines, partitionings, and cluster sizes
    * (double summation is order-dependent; integer summation is not).
    *
    * Semantics per round (damping d = `dampingPct`/100, scale R):
    *   contrib(s→t, w) = (r(s) · w) div out_w(s)        — floor per edge
    *   r'(t)           = ((R div |V|)·(100−dampingPct)) div 100
    *                     + (Σ contrib(·→t) · dampingPct) div 100
    * The contribution is COMPUTED as the algebraically identical
    *   (r div ow)·w + ((r mod ow)·w) div ow
    * (exact for non-negative operands: write r = q·ow + m, m < ow; then
    * floor(r·w/ow) = q·w + floor(m·w/ow)). The naive `r·w` product
    * overflows int64 once R·w ≥ 2^63 (w ≥ ~9.2e6 at the default R=1e12)
    * — Spark (non-ANSI) would wrap silently while DuckDB widens to
    * HUGEINT, breaking cross-engine reproducibility exactly where it is
    * claimed. The split form bounds every intermediate by
    * max(r, ow·max(w)): since r ≤ ~R and (r div ow)·w ≤ r when w ≤ ow,
    * the requirement weakens to out_w(s)·max(w) < 2^63 — edge weights to
    * ~3e9 are safe instead of ~9e6.
    * Dangling nodes (no out-edges) leak their mass — the common
    * simplification; the floors lose ≤1 unit per edge per round, i.e.
    * ~1e-12 of total mass at the default scale. Both are part of the
    * operator's pinned contract (the oracle replays them exactly).
    *
    * Scale shape: each round is one key-partitioned edges⋈ranks join +
    * one `dst` aggregate — the standard distributed PageRank step; the
    * edge frame is persisted by the CALLER if reused. `|V|` is computed
    * once (the only driver action; O(distinct nodes) ≪ edges at crawl
    * scale — callers with huge vertex sets pass `numNodes` explicitly).
    *
    * @param edges columns `src`, `dst`, `w` (positive integral weight)
    * @param smallVertexSet set when |V| is dimension-sized (fits a
    *        broadcast): the per-round rank and out-weight sides become
    *        broadcast joins, so the edge set is NEVER shuffled — each
    *        round costs one map-side pass + the `dst` aggregate. Leave
    *        false for web-scale graphs, where ranks are |V|-sized and
    *        the rounds are key-partitioned shuffle joins.
    * @return (`id`, `rank_scaled`) — rank in units of R⁻¹
    */
  def pageRank(edges: DataFrame, iters: Int, scale: Long = 1000000000000L,
      dampingPct: Int = 85, numNodes: Option[Long] = None,
      smallVertexSet: Boolean = false): DataFrame = {
    require(iters >= 1 && dampingPct >= 0 && dampingPct <= 100)
    val bc: DataFrame => DataFrame =
      if (smallVertexSet) broadcast else identity
    val nodes = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct().persist()
    val n = numNodes.getOrElse(nodes.count())
    val base = ((scale / n) * (100 - dampingPct)) / 100
    val outw = edges.groupBy("src").agg(sum(col("w")).as("ow"))
    var ranks = nodes.withColumn("r", lit(scale / n))
    for (_ <- 1 to iters) {
      val in = edges
        .join(bc(outw), "src")
        .join(bc(ranks.select(col("id").as("src"), col("r"))), "src")
        .select(col("dst").as("id"),
          expr("(r div ow) * w + ((r % ow) * w) div ow").as("c"))
        .groupBy("id").agg(sum(col("c")).as("m"))
      // broadcast the RIGHT side: the left-preserved side of an outer
      // join can't be the broadcast build side
      ranks = nodes
        .join(bc(in), Seq("id"), "left")
        .select(col("id"),
          (lit(base) + expr("(coalesce(m, 0L) * " + dampingPct +
            ") div 100")).as("r"))
        // truncate lineage per round (connectedComponents' trade): an
        // uncheckpointed round-k plan nests round-(k−1)'s whole subtree
        // inside its broadcast/shuffle, so the rounds re-execute
        // serially inside one another instead of each running once
        .ckptLocal(false)
    }
    // nodes stays persisted until the caller's action (battery harnesses
    // clearCache() per entry); unpersisting here would force |iters|+1
    // recomputes of the node set inside the final plan.
    ranks.withColumnRenamed("r", "rank_scaled")
  }

  // --- q107: PageRank over the nation-level trade graph --------------------
  // Edge (customer nation → supplier nation, weight = lineitem count):
  // "who buys from whom" at nation grain. The edge build is the 100 TB
  // part — a fact-table aggregation where every dimension join is a
  // broadcast, so the only shuffle is the final (src,dst) groupBy (625
  // keys max); the PageRank rounds then run on a dimension-sized frame.
  // 3 rounds, d=0.85, R=1e12 — every floor pinned by the oracle.
  private val PrIters = 3
  private val PrScale = 1000000000000L

  private[graft] def tradeEdges(s: SparkSession, dir: String): DataFrame = {
    val nat = Tables.load(s, dir, "nation")
    Tables.load(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      .join(Tables.load(s, dir, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.load(s, dir, "customer")
        .select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.load(s, dir, "supplier")
        .select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat.select(col("n_nationkey").as("cnk"),
        col("n_name").as("src"))), col("c_nationkey") === col("cnk"))
      .join(broadcast(nat.select(col("n_nationkey").as("snk"),
        col("n_name").as("dst"))), col("s_nationkey") === col("snk"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
  }

  private def q107(s: SparkSession, dir: String): DataFrame = {
    // persisted: the fact-table aggregation feeds |V| + every round; the
    // battery harness clearCache()s per entry
    val edges = tradeEdges(s, dir).persist()
    pageRank(edges, PrIters, PrScale, smallVertexSet = true)
      .withColumnRenamed("id", "nation")
      .orderBy(col("rank_scaled").desc, col("nation").asc)
  }

  /** Oracle: the identical integer recurrence, iterations unrolled as
    * CTEs (r0 → it1 → … → itN). DuckDB `//` truncates toward zero —
    * identical to Spark `div` on the all-positive values here; SUMs are
    * cast back to BIGINT (DuckDB widens to HUGEINT).
    */
  private val q107Sql = {
    val base = s"(($PrScale // nn) * 15) // 100"
    def iter(prev: String, name: String): String =
      s"""$name AS (
         |  SELECT nodes.id,
         |    CAST($base + (COALESCE(m.s, 0) * 85) // 100 AS BIGINT) AS r
         |  FROM nodes CROSS JOIN n
         |  LEFT JOIN (
         |    SELECT dst AS id,
         |      CAST(SUM((r // ow) * w + ((r % ow) * w) // ow) AS BIGINT) AS s
         |    FROM e JOIN outw USING (src) JOIN $prev ON e.src = $prev.id
         |    GROUP BY dst) m ON nodes.id = m.id
         |)""".stripMargin
    val iters = (1 to PrIters)
      .map(i => iter(if (i == 1) "r0" else s"it${i - 1}", s"it$i"))
      .mkString(",\n")
    s"""WITH e AS (
       |  SELECT cn.n_name AS src, sn.n_name AS dst, COUNT(*) AS w
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation cn ON c_nationkey = cn.n_nationkey
       |  JOIN nation sn ON s_nationkey = sn.n_nationkey
       |  GROUP BY 1, 2
       |), nodes AS (
       |  SELECT src AS id FROM e UNION SELECT dst FROM e
       |), n AS (SELECT COUNT(*) AS nn FROM nodes),
       |outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM e GROUP BY src),
       |r0 AS (SELECT id, CAST($PrScale // nn AS BIGINT) AS r
       |       FROM nodes CROSS JOIN n),
       |$iters
       |SELECT id AS nation, r AS rank_scaled FROM it$PrIters
       |ORDER BY rank_scaled DESC, nation ASC""".stripMargin
  }

  /** The unrolled-iteration PageRank CTE suffix — q107's oracle
    * recurrence factored out so callers ranking OTHER edge sets
    * (q238's word co-occurrence graph) don't fork the integer
    * arithmetic. Assumes a CTE `e(src, dst, w)` is already in scope;
    * emits `nodes, n, outw, r0, it1..it<iters>` with final ranks in
    * `it<iters>(id, r)`. Same overflow-split contribution and the
    * same `//`-truncation-equals-`div` argument (all values
    * non-negative) as [[pageRank]].
    */
  private[graft] def pageRankUnrolledSql(iters: Int, scale: Long,
      dampingPct: Int = 85): String = {
    val base = s"(($scale // nn) * ${100 - dampingPct}) // 100"
    def iter(prev: String, name: String): String =
      s"""$name AS (
         |  SELECT nodes.id,
         |    CAST($base + (COALESCE(m.s, 0) * $dampingPct) // 100
         |      AS BIGINT) AS r
         |  FROM nodes CROSS JOIN n
         |  LEFT JOIN (
         |    SELECT dst AS id,
         |      CAST(SUM((r // ow) * w + ((r % ow) * w) // ow) AS BIGINT) AS s
         |    FROM e JOIN outw USING (src) JOIN $prev ON e.src = $prev.id
         |    GROUP BY dst) m ON nodes.id = m.id
         |)""".stripMargin
    val chain = (1 to iters)
      .map(i => iter(if (i == 1) "r0" else s"it${i - 1}", s"it$i"))
      .mkString(",\n")
    s"""nodes AS (
       |  SELECT src AS id FROM e UNION SELECT dst FROM e
       |), n AS (SELECT COUNT(*) AS nn FROM nodes),
       |outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM e GROUP BY src),
       |r0 AS (SELECT id, CAST($scale // nn AS BIGINT) AS r
       |       FROM nodes CROSS JOIN n),
       |$chain""".stripMargin
  }

  // --- frontier BFS: minimum hop distance from a seed set ------------------

  /** Minimum hop count from any seed, frontier-expanded: each round joins
    * only the PREVIOUS round's newly-reached nodes against the edge list
    * (never the full visited set), anti-joins out already-visited ids,
    * and stops early when the frontier empties — the textbook distributed
    * BFS shape: per round one key-partitioned join + one anti join, both
    * sized by the frontier, not the graph. `maxHops` caps the rounds
    * (and is part of the result contract: nodes farther than `maxHops`
    * are absent).
    *
    * @param edges directed edges `src`, `dst`
    * @param seeds distance-0 nodes, column `id`
    * @return (`id`, `hops`) for every node within `maxHops` of a seed
    */
  def hopDistances(edges: DataFrame, seeds: DataFrame,
      maxHops: Int): DataFrame = {
    require(maxHops >= 0)
    var dist = seeds.select(col("id"), lit(0L).as("hops"))
      .distinct().ckptLocal(true)
    var frontier = dist
    var h = 1
    var frontierSize = 1L
    while (h <= maxHops && frontierSize > 0) {
      // lineage O(1) per round, CC's trade; the counted checkpoint is
      // the round's one execution
      val (next, reached) = frontier
        .join(edges, frontier("id") === edges("src"))
        .select(edges("dst").as("id"), lit(h.toLong).as("hops"))
        .distinct()
        .join(dist.select("id"), Seq("id"), "left_anti")
        .ckptCounted()
      frontierSize = reached
      if (frontierSize > 0) {
        dist = dist.unionByName(next).ckptLocal(false)
        frontier = next
      }
      h += 1
    }
    dist
  }

  // --- q128: trade-graph hop distances -------------------------------------
  // BFS over the SPARSIFIED nation trade graph (only edges with at least
  // half the maximum flow — the "major trade routes"), seeded from the
  // ASIA nations: how many major-route hops does each nation sit from
  // the ASIA bloc? Sparsification is relative (w·2 ≥ max(w)) so the
  // entry is scale-factor stable; the oracle replays it and the capped
  // recursion as a recursive CTE with the identical integer comparison.
  private val BfsMaxHops = 6

  private def q128(s: SparkSession, dir: String): DataFrame = {
    val edges = tradeEdges(s, dir).persist()
    val maxW = edges.agg(max(col("w"))).head().getLong(0)
    val sparse = edges.filter(col("w") * 2 >= maxW).select("src", "dst")
    val seeds = Tables.load(s, dir, "nation")
      .join(broadcast(Tables.load(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .select(col("n_name").as("id"))
    hopDistances(sparse, seeds, BfsMaxHops)
      .withColumnRenamed("id", "nation")
  }

  private val q128Sql =
    s"""WITH RECURSIVE e AS (
       |  SELECT cn.n_name AS src, sn.n_name AS dst, COUNT(*) AS w
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation cn ON c_nationkey = cn.n_nationkey
       |  JOIN nation sn ON s_nationkey = sn.n_nationkey
       |  GROUP BY 1, 2
       |), se AS (
       |  SELECT src, dst FROM e WHERE w * 2 >= (SELECT MAX(w) FROM e)
       |), seeds AS (
       |  SELECT n_name AS id FROM nation
       |  JOIN region ON n_regionkey = r_regionkey
       |  WHERE r_name = 'ASIA'
       |), reach AS (
       |  SELECT id, 0 AS d FROM seeds
       |  UNION ALL
       |  SELECT se.dst, d + 1 FROM reach JOIN se ON reach.id = se.src
       |  WHERE d < $BfsMaxHops
       |)
       |SELECT id AS nation, CAST(MIN(d) AS BIGINT) AS hops
       |FROM reach GROUP BY id""".stripMargin

  // --- q134: triangle counting + local clustering coefficients -------------
  // Per nation over the undirected trade graph: degree, number of
  // triangles through the node, and the local clustering coefficient
  // 2T/(d(d-1)) — the "how clique-ish is this node's neighborhood"
  // primitive behind community detection and link-spam scoring.
  //
  // Algorithm: DEGREE-ORDERED oriented join counting (the "forward"
  // algorithm, Schank & Wagner 2005 / Latapy 2008). Undirected edges
  // are canonicalized to (u < v) pairs once, then each edge is oriented
  // from its lower-(degree, id) endpoint to its higher one — a DAG
  // under the total rank order, so each triangle x≺y≺z materializes
  // exactly once as wedge (x→y)⋈(y→z) closed by the semi-joined (x→z)
  // edge. Scale shape: two key-partitioned shuffle joins over the EDGE
  // list (never vertices × vertices), and the orientation is what makes
  // that survive skew: every vertex's OUT-degree is at most O(√|E|)
  // (its out-neighbors all have ≥ its own degree, and Σdeg = 2|E|), so
  // per-middle-vertex wedge fan-out is in(v)·out(v) ≤ in(v)·O(√|E|)
  // and total wedge work is O(|E|^{3/2}) — the enumeration optimum —
  // where the unoriented/id-canonical join is Θ(deg(hub)²) on a hub
  // vertex (TriangleKnHitsSpec pins the star-graph blowup: 0 oriented
  // wedges vs ~n²/4 id-canonical). Each triangle is then exploded to
  // its 3 corners for the per-node count; orientation changes the PLAN,
  // never the answer, so the brute-force oracle is unchanged.

  /** PUBLIC operator: per-node triangle count + local clustering
    * coefficient over canonical undirected simple edges `(u, v)` with
    * `u < v` (orderable vertex type; no self-loops, no duplicates).
    * Returns (`id`, `degree`, `n_triangles`, `clustering`). */
  def triangleStats(und: DataFrame): DataFrame = {
    val deg = und.select(col("u").as("id"))
      .union(und.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
      .ckptLocal(eager = false) // read by orientation + final join
    val oriented = rankOrient(und, deg)
    val tri = wedges(oriented)
      .join(oriented.select(col("s").as("a3"), col("d").as("c3")),
        col("a") === col("a3") && col("c") === col("c3"),
        "left_semi")
      .select(col("a"), col("b"), col("c"))
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("t"))
    deg.join(perNode, Seq("id"), "left")
      .select(
        col("id"),
        col("degree"),
        coalesce(col("t"), lit(0L)).as("n_triangles"),
        expr("""CASE WHEN degree < 2 THEN 0.0
               |ELSE round(2.0 * CAST(coalesce(t, 0) AS DOUBLE)
               |  / (CAST(degree AS DOUBLE) * (CAST(degree AS DOUBLE) - 1.0)),
               |  6) END""".stripMargin).as("clustering"))
  }

  /** Orient canonical (u, v) edges from the lower-(degree, id) endpoint
    * to the higher: columns (`s`, `d`). Total order (ids are distinct),
    * so the result is a DAG with out-degree ≤ O(√|E|) everywhere. */
  private[ops] def rankOrient(und: DataFrame, deg: DataFrame): DataFrame = {
    val ru = deg.select(col("id").as("u"), col("degree").as("du"))
    val rv = deg.select(col("id").as("v"), col("degree").as("dv"))
    val uFirst = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
    und.join(ru, "u").join(rv, "v")
      .select(when(uFirst, col("u")).otherwise(col("v")).as("s"),
        when(uFirst, col("v")).otherwise(col("u")).as("d"))
  }

  /** Wedge enumeration over oriented edges: (a→b)⋈(b→c). Exposed for
    * the skew probe — its cardinality IS the join's fan-out cost. */
  private[ops] def wedges(oriented: DataFrame): DataFrame =
    oriented.select(col("s").as("a"), col("d").as("b"))
      .join(oriented.select(col("s").as("b2"), col("d").as("c")),
        col("b") === col("b2"))
      .select(col("a"), col("b"), col("c"))

  private def q134(s: SparkSession, dir: String): DataFrame = {
    // Sparsify to major routes first (relative threshold, like q128 —
    // scale-factor stable): the FULL trade graph is complete at sf≥0.01,
    // which makes every clustering coefficient 1.0; the w·3 ≥ max(w)
    // subgraph keeps ~2/3 of the edges and a non-trivial topology.
    val edges = tradeEdges(s, dir).persist()
    val maxW = edges.agg(max(col("w"))).head().getLong(0)
    // canonical undirected simple edges: drop self-loops, fold direction
    val und = edges
      .filter(col("src") =!= col("dst") && col("w") * 3 >= maxW)
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
      .persist()
    triangleStats(und).withColumnRenamed("id", "nation")
  }

  private val q134Sql =
    """WITH e AS (
      |  SELECT cn.n_name AS src, sn.n_name AS dst, COUNT(*) AS w
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation cn ON c_nationkey = cn.n_nationkey
      |  JOIN nation sn ON s_nationkey = sn.n_nationkey
      |  GROUP BY 1, 2
      |), und AS (
      |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      |  FROM e WHERE src <> dst AND w * 3 >= (SELECT MAX(w) FROM e)
      |), deg AS (
      |  SELECT id, COUNT(*) AS degree FROM (
      |    SELECT u AS id FROM und UNION ALL SELECT v FROM und
      |  ) GROUP BY id
      |), tri AS (
      |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM und e1 JOIN und e2 ON e1.v = e2.u
      |  WHERE EXISTS (SELECT 1 FROM und e3
      |                WHERE e3.u = e1.u AND e3.v = e2.v)
      |), pernode AS (
      |  SELECT id, COUNT(*) AS t
      |  FROM (SELECT unnest([a, b, c]) AS id FROM tri) GROUP BY id
      |)
      |SELECT deg.id AS nation, deg.degree,
      |  CAST(COALESCE(t, 0) AS BIGINT) AS n_triangles,
      |  CASE WHEN degree < 2 THEN 0.0
      |  ELSE round(2.0 * CAST(COALESCE(t, 0) AS DOUBLE)
      |    / (CAST(degree AS DOUBLE) * (CAST(degree AS DOUBLE) - 1.0)), 6) END
      |    AS clustering
      |FROM deg LEFT JOIN pernode ON deg.id = pernode.id""".stripMargin

  // --- q164: link prediction (common neighbors / Jaccard / RA) -------------
  // "Which trade routes don't exist yet but should": for every NON-edge
  // pair of the sparsified undirected graph (q134's w·3 ≥ max(w)
  // subgraph), the three classic neighborhood predictors — common
  // neighbor count, Jaccard coefficient cn/(dx+dy−cn), and the
  // Resource-Allocation index Σ_z 1/deg(z). RA instead of Adamic-Adar
  // on purpose: AA's 1/ln(deg) would put libm's ln in the parity
  // surface, while RA in integer micro-units (1000000 div d, truncating
  // division both engines) is exact. Scale shape: candidate pairs come
  // from the WEDGE join (two neighbors of a shared center — Σ deg(z)²
  // pairs, the standard link-prediction generator), never the |V|²
  // cross product; at a 100 TB graph the hub centers get degree-capped
  // before wedging (same lever as q139's basket cap). One shuffle for
  // the per-pair aggregate, one anti-join to drop existing edges,
  // degree attach on the tiny per-vertex frame.
  /** Link-prediction scores for every NON-edge pair of a canonical
    * undirected simple graph `und` (columns u < v, no self-loops, no
    * duplicates): common-neighbor count, Jaccard cn/(dx+dy−cn), and the
    * Resource-Allocation index Σ_z 1/deg(z) in exact integer micro-units
    * (1000000 div d — no libm in the parity surface, unlike Adamic-Adar's
    * 1/ln). Candidates come from the wedge join (Σ deg(z)² pairs), never
    * the |V|² cross product; degree-cap hub centers upstream on graphs
    * with heavy tails.
    */
  def linkPredictionScores(und: DataFrame): DataFrame = {
    val adj = und.select(col("u").as("z"), col("v").as("n"))
      .union(und.select(col("v").as("z"), col("u").as("n")))
    val deg = adj.groupBy("z").agg(count(lit(1)).as("d"))
    val wedges = adj.as("a")
      .join(adj.as("b"), col("a.z") === col("b.z") && col("a.n") < col("b.n"))
      .join(deg.select(col("z").as("cz"), col("d")), col("a.z") === col("cz"))
      .select(col("a.n").as("x"), col("b.n").as("y"), col("d"))
    val pairs = wedges.groupBy("x", "y")
      .agg(count(lit(1)).as("n_common"),
        sum(expr("1000000 div d")).as("ra_micro"))
      .join(und, col("x") === col("u") && col("y") === col("v"), "left_anti")
    pairs
      .join(deg.select(col("z").as("x"), col("d").as("dx")), Seq("x"))
      .join(deg.select(col("z").as("y"), col("d").as("dy")), Seq("y"))
      .select(col("x"), col("y"), col("n_common"),
        expr("round(CAST(n_common AS DOUBLE) " +
          "/ CAST(dx + dy - n_common AS DOUBLE), 6)").as("jaccard"),
        col("ra_micro"))
  }

  private def q164(s: SparkSession, dir: String): DataFrame = {
    val edges = tradeEdges(s, dir).persist()
    val maxW = edges.agg(max(col("w"))).head().getLong(0)
    val und = edges
      .filter(col("src") =!= col("dst") && col("w") * 3 >= maxW)
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
      .persist()
    linkPredictionScores(und)
  }

  private val q164Sql =
    """WITH e AS (
      |  SELECT cn.n_name AS src, sn.n_name AS dst, COUNT(*) AS w
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation cn ON c_nationkey = cn.n_nationkey
      |  JOIN nation sn ON s_nationkey = sn.n_nationkey
      |  GROUP BY 1, 2
      |), und AS (
      |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      |  FROM e WHERE src <> dst AND w * 3 >= (SELECT MAX(w) FROM e)
      |), adj AS (
      |  SELECT u AS z, v AS n FROM und UNION ALL SELECT v, u FROM und
      |), deg AS (
      |  SELECT z, COUNT(*) AS d FROM adj GROUP BY z
      |), wed AS (
      |  SELECT a.n AS x, b.n AS y, dz.d AS d
      |  FROM adj a JOIN adj b ON a.z = b.z AND a.n < b.n
      |  JOIN deg dz ON dz.z = a.z
      |), prs AS (
      |  SELECT x, y, COUNT(*) AS n_common,
      |    CAST(SUM(1000000 // d) AS BIGINT) AS ra_micro
      |  FROM wed GROUP BY x, y
      |), ne AS (
      |  SELECT p.* FROM prs p
      |  WHERE NOT EXISTS (SELECT 1 FROM und
      |                    WHERE und.u = p.x AND und.v = p.y)
      |)
      |SELECT ne.x, ne.y, ne.n_common,
      |  round(CAST(n_common AS DOUBLE)
      |    / CAST(dx.d + dy.d - n_common AS DOUBLE), 6) AS jaccard,
      |  ne.ra_micro
      |FROM ne JOIN deg dx ON dx.z = ne.x JOIN deg dy ON dy.z = ne.y""".stripMargin

  // --- q168: hierarchical subtree rollup (recursive-CTE semantics) ---------
  // The org-chart / bill-of-materials aggregation relational engines
  // express as WITH RECURSIVE: every customer node (parent = custkey
  // div 7 — a deterministic ~7-ary forest) rolls its own order value
  // plus ALL transitive descendants' into subtree_cents / n_desc.
  // Spark has no recursive CTE; the scale-first equivalent is the
  // synchronous bottom-up tree DP: iterate sub ← value + Σ_children sub
  // for depth rounds — after k rounds each node holds its k-level
  // subtree, and depth = ⌈log₇ maxKey⌉ (driver-computed from one max,
  // data-independent per key domain) covers the whole forest. Each
  // round is ONE child→parent aggregate join keyed by parent — the
  // q107/q128 fixed-round pattern, localCheckpoint per round for
  // lineage control. The oracle runs the textbook WITH RECURSIVE
  // descendant closure — same semantics, both engines exact integers.
  /** Bottom-up tree DP over a parent-child forest: after `depth` rounds
    * every node holds the SUM of `valueCol` and the node count over its
    * whole subtree (self included). `nodes` needs (id, parent, valueCol);
    * roots carry NULL parent. Each round is ONE child→parent
    * aggregate join (the q107/q128 fixed-round pattern),
    * localCheckpoint'd for lineage control. `depth` must be ≥ the
    * forest height; extra rounds are idempotent (once every child holds
    * its full subtree, v + Σ children reproduces the same totals — the
    * recurrence is at its fixpoint).
    *
    * Caller contract: roots carry NULL parent. A node listed as its own
    * parent is NOT detected here (a distributed id = parent assert would
    * cost a scan per call); it feeds its own total back to itself every
    * round and silently inflates its ancestors — canonicalize self-loops
    * to NULL before calling, as q168 does for custkey 0.
    */
  def subtreeRollup(nodes: DataFrame, valueCol: String,
      depth: Int): DataFrame = {
    val base = nodes.select(col("id"), col("parent"),
      col(valueCol).as("__v"))
    var sub = base.select(col("id"), col("__v").as("sub"), lit(1L).as("nd"))
    for (_ <- 1 to depth) {
      val fromChildren = base.select(col("id"), col("parent"))
        .join(sub, Seq("id"))
        .groupBy(col("parent").as("id"))
        .agg(sum(col("sub")).as("cs"), sum(col("nd")).as("cn"))
      sub = base.select(col("id"), col("__v"))
        .join(fromChildren, Seq("id"), "left")
        .select(col("id"),
          (col("__v") + coalesce(col("cs"), lit(0L))).as("sub"),
          (lit(1L) + coalesce(col("cn"), lit(0L))).as("nd"))
        .ckptLocal(eager = false)
    }
    base.join(sub, Seq("id"))
      .select(col("id"), col("parent"), col("__v").as(valueCol),
        col("sub").as("subtree"), col("nd").as("n_desc"))
  }

  private def q168(s: SparkSession, dir: String): DataFrame = {
    // Root guard: custkey 0 exists and 0 div 7 = 0 — left as its own
    // parent it is a self-loop (the recursion never terminates and the
    // rollup self-double-counts every round). NULL parent = forest root.
    val nodes = Tables.load(s, dir, "customer")
      .select(col("c_custkey").as("id"),
        expr("CASE WHEN c_custkey = 0 THEN CAST(NULL AS BIGINT) " +
          "ELSE c_custkey div 7 END").as("parent"))
    val vals = Tables.load(s, dir, "orders")
      .groupBy(col("o_custkey").as("id"))
      .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).as("oc"))
    val base = nodes.join(vals, Seq("id"), "left")
      .select(col("id"), col("parent"),
        coalesce(col("oc"), lit(0L)).as("v_cents"))
      .persist()
    val maxKey = base.agg(max(col("id"))).head().getLong(0)
    val depth = math.max(1,
      math.ceil(math.log(maxKey.toDouble + 1) / math.log(7.0)).toInt)
    subtreeRollup(base, "v_cents", depth)
      .withColumnRenamed("subtree", "subtree_cents")
  }

  private val q168Sql =
    """WITH RECURSIVE v AS (
      |  SELECT c_custkey AS id,
      |    CASE WHEN c_custkey = 0 THEN CAST(NULL AS BIGINT)
      |         ELSE c_custkey // 7 END AS parent,
      |    CAST(COALESCE(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)), 0)
      |      AS BIGINT) AS v_cents
      |  FROM customer LEFT JOIN orders ON o_custkey = c_custkey
      |  GROUP BY 1, 2
      |), d(anc, node) AS (
      |  SELECT id, id FROM v
      |  UNION ALL
      |  SELECT d.anc, v.id FROM d JOIN v ON v.parent = d.node
      |)
      |SELECT a.id, a.parent, a.v_cents,
      |  CAST(SUM(n.v_cents) AS BIGINT) AS subtree_cents,
      |  COUNT(*) AS n_desc
      |FROM d JOIN v a ON a.id = d.anc JOIN v n ON n.id = d.node
      |GROUP BY 1, 2, 3""".stripMargin

  // --- q210: k-core decomposition of the trade graph -----------------------
  // The standard link-graph quality filter (Seidman 1983; the "spam farm
  // / fringe node" peel used on crawl graphs before PageRank-style
  // scoring): iteratively delete every vertex whose degree in the
  // REMAINING graph is < k — what survives is the maximal subgraph where
  // every vertex keeps ≥ k neighbors, the dense backbone that cannot be
  // peeled away. Run on the customer↔supplier bipartite trade graph
  // (edge when ≥ 2 lineitems connect the pair; customers carry negated
  // keys so the two key spaces cannot collide), k = 3.
  //
  // Scale shape: the edge build is one fact-fact equi-join (lineitem ⋈
  // orders on the order key) + an entity-grain aggregate — the peel then
  // runs on the aggregated graph, orders of magnitude smaller than the
  // fact table. Each peel round semi-joins the CURRENT edge set on both
  // endpoints to the vertices whose degree in it is ≥ k, and checkpoints
  // and counts the result in ONE Spark execution; the edge frame shrinks
  // monotonically (the full edge set is never rescanned after round 1),
  // and an unchanged edge count is the fixpoint. Peeling is
  // inherently iterative — a path graph needs n/2 rounds — but real
  // trade/link graphs peel in tens of rounds (measured: 1 round at
  // sf0.01, 23 at sf0.1); the round cap fails loud, and the oracle
  // replays exactly [[KcRounds]] rounds as chained CTEs (extra rounds
  // past the fixpoint are no-ops, so convergence within the cap ⇒ the
  // replay is exact — the q207 bounded-replay precedent).

  /** PUBLIC operator: the k-core of an undirected graph. `edges` as
    * columns `a`, `b` (self-loops dropped, duplicates collapsed).
    * Returns (`vid`, `deg`) — every vertex of the k-core with its
    * induced degree (≥ k by construction).
    *
    * One Spark execution per peel round: the next edge frame
    * `cur ⋉ S on a ⋉ S on b`, with S the vertices of degree ≥ k in
    * `cur`, is checkpointed and counted together (`ckptCounted`). S is
    * one frame read by both semi-joins, so the plan builds its exchange
    * once and reuses it. The peel stops when the edge count is
    * unchanged: every vertex of the symmetrized set has an edge and
    * dropping a vertex drops its edges, so an unchanged edge set is an
    * unchanged vertex set. The symmetrized input is counted the same
    * way, so a k-core of r rounds costs r + 1 executions before the
    * caller's action.
    * @throws IllegalStateException when the peel has not reached a
    *         fixpoint within `maxRounds` (a silent early stop would
    *         report a non-core superset). */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 64): DataFrame = {
    require(k >= 1 && maxRounds >= 1, s"kCore: k=$k maxRounds=$maxRounds")
    val und = edges.select(col("a"), col("b"))
      .filter(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
    var (cur, n) = und
      .union(und.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .ckptCounted()
    var rounds = 0
    var converged = n == 0L
    while (!converged && rounds < maxRounds) {
      val keep = cur.groupBy("a").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("a").as("v"))
      // the induced subgraph on `keep`; next round's degrees come from
      // this smaller frame
      val (next, m) = cur
        .join(keep, col("a") === col("v"), "left_semi")
        .join(keep, col("b") === col("v"), "left_semi")
        .ckptCounted()
      converged = m == n || m == 0L
      cur = next
      n = m
      rounds += 1
    }
    if (!converged) throw new IllegalStateException(
      s"kCore did not reach a fixpoint in $maxRounds rounds — raise " +
        "maxRounds")
    cur.groupBy("a").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k) // vacuous at fixpoint; keeps the contract
      .select(col("a").as("vid"), col("deg"))
  }

  private[ops] val KcK = 3
  private[ops] val KcRounds = 32
  private[ops] val KcMinLinks = 2

  private def q210(s: SparkSession, dir: String): DataFrame = {
    val cs = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      .join(Tables.load(s, dir, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey", "l_suppkey").agg(count(lit(1)).as("nl"))
      .filter(col("nl") >= KcMinLinks)
    kCore(cs.select((-col("o_custkey")).cast("bigint").as("a"),
      col("l_suppkey").cast("bigint").as("b")), k = KcK,
      maxRounds = KcRounds)
      .withColumn("kind",
        when(col("vid") < 0, lit("customer")).otherwise(lit("supplier")))
  }

  private val q210Sql: String = {
    val head =
      s"""WITH cs AS (
         |  SELECT o.o_custkey AS c, l.l_suppkey AS s
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  GROUP BY 1, 2 HAVING count(*) >= $KcMinLinks
         |), e AS MATERIALIZED (
         |  SELECT CAST(-c AS BIGINT) AS a, CAST(s AS BIGINT) AS b FROM cs
         |  UNION ALL
         |  SELECT CAST(s AS BIGINT), CAST(-c AS BIGINT) FROM cs
         |), v0 AS (
         |  SELECT DISTINCT a AS id FROM e
         |)""".stripMargin
    val rounds = (1 to KcRounds).map { i =>
      s""", v$i AS MATERIALIZED (
         |  SELECT e.a AS id FROM e
         |  JOIN v${i - 1} x ON e.a = x.id JOIN v${i - 1} y ON e.b = y.id
         |  GROUP BY e.a HAVING count(*) >= $KcK
         |)""".stripMargin
    }.mkString
    head + rounds +
      s"""
         |SELECT e.a AS vid, count(*) AS deg,
         |  CASE WHEN e.a < 0 THEN 'customer' ELSE 'supplier' END AS kind
         |FROM e
         |JOIN v$KcRounds x ON e.a = x.id JOIN v$KcRounds y ON e.b = y.id
         |GROUP BY e.a""".stripMargin
  }

  // --- q211: weighted label-propagation communities -------------------------
  // Community detection (Raghavan et al. 2007) over the same trade
  // graph: each vertex adopts the label carrying the largest total edge
  // weight among its neighbors, synchronously, for a FIXED number of
  // rounds — the published practice for LPA at scale ("run L
  // iterations"), and the only well-defined variant: free-running
  // synchronous LPA can oscillate (bipartite two-coloring flip-flop),
  // while a fixed-round schedule with a deterministic tie-break
  // (max Σw, then MIN label) is exact and cross-engine replayable — the
  // q207/q210 bounded-replay precedent, oracle = chained CTEs, one per
  // round. Communities after L rounds are the hub-anchored trade
  // neighborhoods (which customers/suppliers move together) — the same
  // primitive a curation pipeline uses to group near-dup clusters or
  // topic-cluster a link graph without choosing k (q207 needs k;
  // q209 needs a metric space; LPA needs only edges).
  //
  // Scale shape per round: one equi-join (edges ⋈ labels on the
  // neighbor endpoint) + two aggregates keyed by (vertex, label) then
  // vertex — all shuffles carry the entity-grain graph, and the label
  // frame is localCheckpointed per round so the plan stays O(1)/round.

  /** PUBLIC operator: synchronous weighted label propagation for
    * exactly `rounds` rounds. `edges` as (`a`, `b`, `w`) with positive
    * integral weights (symmetrized, self-loops dropped). Returns
    * (`vid`, `lbl`) — the label is a vertex id, initially each vertex's
    * own; ties broken by (max Σw, min label). One Spark execution per
    * round, the eager checkpoint of its labels; the initial labels are
    * planned into round 1 rather than checkpointed on their own. */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"labelPropagation: rounds=$rounds must be >= 1")
    val und = edges.select(col("a"), col("b"), col("w"))
      .filter(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
    val sym = und
      .union(und.select(col("b").as("a"), col("a").as("b"), col("w")))
      .groupBy("a", "b").agg(sum(col("w")).as("w"))
      .ckptLocal(eager = false) // read by every round
    var labels = sym.select(col("a").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
    for (_ <- 1 to rounds) {
      // One shuffle for the two-level aggregate: hash(a) satisfies the
      // (a, lbl) clustering, so after the explicit repartition both the
      // per-label sum and the per-vertex argmax run partition-local.
      labels = sym
        .join(labels.select(col("id").as("b"), col("lbl")), "b")
        .repartition(col("a"))
        .groupBy("a", "lbl").agg(sum(col("w")).as("ws"))
        .groupBy("a")
        .agg(min(struct((-col("ws")).as("nws"), col("lbl"))).as("m"))
        .select(col("a").as("id"), col("m.lbl").as("lbl"))
        .ckptLocal(eager = true)
    }
    labels.select(col("id").as("vid"), col("lbl"))
  }

  private[ops] val LpaRounds = 4

  /** The bipartite customer–supplier trade graph (customers in the
    * negative id space), shared by q211 (LPA) and q223 (Louvain) —
    * distinct from [[tradeEdges]]'s nation-level projection. */
  private[ops] def custSuppEdges(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      .join(Tables.load(s, dir, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey", "l_suppkey").agg(count(lit(1)).as("nl"))
      .filter(col("nl") >= KcMinLinks)
      .select((-col("o_custkey")).cast("bigint").as("a"),
        col("l_suppkey").cast("bigint").as("b"), col("nl").as("w"))

  private def q211(s: SparkSession, dir: String): DataFrame =
    labelPropagation(custSuppEdges(s, dir), rounds = LpaRounds)
      .withColumn("kind",
        when(col("vid") < 0, lit("customer")).otherwise(lit("supplier")))

  /** Semi-synchronous one-level Louvain (greedy modularity moves — the
    * OPTIMIZATION half of community detection; [[modularityMicro]] is
    * the evaluation half): every vertex starts in its own singleton
    * community and, in alternating parity half-steps, greedily adopts
    * the neighboring community with the best modularity gain.
    *
    * Move rule (Blondel et al. 2008, one level): v joins the label L
    * maximizing ΔQ ∝ w_vL − deg_v·tot∖v(L)/2m. Comparisons multiply
    * through by 2m so the score is EXACT BIGINT:
    * score(L) = 2m·w_vL − deg_v·(tot(L) − [lbl_v = L]·deg_v); staying
    * is a candidate with w_v,own over v's own-community neighbors (0
    * when none), ties break on the smaller label. BIGINT bound:
    * 2m·w_vL ≤ (2m)² needs 2m < 3·10⁹ — far above any realistic
    * weighted-degree total here; for heavier graphs quantize w first.
    *
    * SEMI-synchronous is the determinism device: fully synchronous
    * greedy moves oscillate on bipartite structure (two singletons
    * adopt each other's label forever — the same pathology q218
    * measures in sync-LPA), while sequential Louvain is
    * order-dependent and unreplayable. Alternating by vertex-id parity
    * (abs(id) % 2; half the vertices move while the other half's
    * labels stay frozen) is deterministic, replayable in SQL, and
    * breaks the ping-pong: published as "semi-synchronous label
    * propagation" (Cordasco & Gargano 2010), applied here to the
    * Louvain objective. `rounds` full rounds = 2·rounds half-steps.
    *
    * Scale shape: each half-step is two hash aggregates (tot, w_vL) +
    * an argmax — all shuffles key on vertex/label ids (cardinality
    * grows with the graph, partitions evenly); labels are
    * checkpointed per half-step exactly like [[labelPropagation]], so
    * the plan stays linear in rounds. Input contract = LPA's: (a, b,
    * w > 0), symmetrized internally, self-loops dropped. Output
    * (vid, lbl).
    */
  def louvainOneLevel(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"louvainOneLevel: rounds=$rounds must be >= 1")
    louvainMoves(louvainSym(edges), rounds)
  }

  /** Input normalization shared by the Louvain levels: symmetrized
    * directed rows with INPUT self-loops dropped (the LPA contract —
    * coarse-graph self-loops are created internally and only by
    * [[louvainMultiLevel]]). */
  private def louvainSym(edges: DataFrame): DataFrame = {
    val und = edges.select(col("a"), col("b"), col("w"))
      .filter(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
    und
      .union(und.select(col("b").as("a"), col("a").as("b"), col("w")))
      .groupBy("a", "b").agg(sum(col("w")).cast("bigint").as("w"))
      .ckptLocal(eager = false) // read by every half-step
  }

  /** The greedy parity-half-step mover shared by every Louvain level.
    * `sym` is a symmetrized directed edge frame that MAY carry
    * self-loops (a = b): a coarse graph stores each community's intra
    * weight as its self-loop. Self-loops count toward degree k and 2m
    * (they are weight the vertex carries into whichever community it
    * joins — standard Blondel coarse-graph semantics) but are excluded
    * from the neighbor-label candidate weights w_vL, since a vertex's
    * self-weight moves WITH it and cancels out of every gain
    * comparison. */
  private def louvainMoves(sym: DataFrame, rounds: Int): DataFrame = {
    val deg = sym.groupBy(col("a").as("id"))
      .agg(sum(col("w")).cast("bigint").as("k"))
      .ckptLocal(eager = false)
    val mm = sym.groupBy().agg(sum(col("w")).cast("bigint").as("m2"))
    var labels = sym.select(col("a").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
      .ckptLocal(eager = true)
    for (h <- 1 to 2 * rounds) {
      val par = h % 2
      val tot = labels.join(deg, "id")
        .groupBy("lbl").agg(sum(col("k")).as("tot"))
      // Raw neighbor-label rows feed ONE (id, l) aggregate below — the
      // former per-(a, l) pre-aggregate was redundant (sum of sums =
      // sum, and the single groupBy's map-side partial agg does the
      // same reduction before the exchange): one aggregate exchange per
      // half-step instead of two (guide §2.4).
      val neigh = sym
        .filter(col("a") =!= col("b") && abs(col("a") % 2) === par)
        .join(labels.select(col("id").as("b"), col("lbl").as("l")), "b")
        .select(col("a").as("id"), col("l"), col("w").as("wvl"))
      // own label always a candidate (w 0 when no intra neighbor):
      // without it a vertex whose best neighbor-label gain is negative
      // would be forced to move anyway
      val own = labels.filter(abs(col("id") % 2) === par)
        .select(col("id"), col("lbl").as("l"), lit(0L).as("wvl"))
      val cands = neigh.unionByName(own)
        .groupBy("id", "l").agg(sum(col("wvl")).as("wvl"))
      // join the label-keyed side FIRST, the id-keyed sides last: the
      // argmax below groups on id and reuses the id join's partitioning
      // instead of paying its own exchange (inner joins commute)
      val scored = cands
        .join(tot.select(col("lbl").as("l"), col("tot")), "l")
        .join(labels.select(col("id"), col("lbl").as("ownl")), "id")
        .join(deg, "id")
        .crossJoin(broadcast(mm))
        .withColumn("sc", col("m2") * col("wvl") - col("k") *
          (col("tot") -
            when(col("ownl") === col("l"), col("k")).otherwise(lit(0L))))
      val moved = scored.groupBy("id")
        .agg(min(struct((-col("sc")).as("nsc"), col("l"))).as("m"))
        .select(col("id"), col("m.l").as("nl"))
      labels = labels.join(moved, Seq("id"), "left")
        .select(col("id"), coalesce(col("nl"), col("lbl")).as("lbl"))
        .ckptLocal(eager = true)
    }
    labels.select(col("id").as("vid"), col("lbl"))
  }

  /** Full multi-level Louvain (Blondel et al. 2008): run the one-level
    * greedy mover, COARSEN the labeling into a super-graph (community →
    * super-vertex; Σw between communities → super-edge; intra-community
    * Σw → self-loop, preserving every degree and 2m), re-run the mover
    * on the coarse graph, and expand labels back to the original
    * vertices — repeated `levels` times. The standard Louvain invariant
    * makes levels compose exactly: the coarse partition-of-singletons
    * scores the SAME modularity as the expanded level-k labeling, so
    * any coarse-level gain is a gain on the original graph
    * (LouvainSpec pins Q non-decreasing level-over-level at two SFs).
    *
    * Scale shape: coarsening is one double equi-join (edges ⋈ labels on
    * each endpoint) + a (lblA, lblB) aggregate — the same shuffle
    * pattern as [[modularityMicro]]'s intra leg — and every later level
    * runs on the COARSE graph (|communities| vertices, collapsing
    * fast), so level 1 dominates cost. `levels = 1` ≡
    * [[louvainOneLevel]]. Output (vid, lbl) — lbl is a level-1
    * community id that survived every coarse round. */
  def louvainMultiLevel(edges: DataFrame, rounds: Int,
      levels: Int): DataFrame = {
    require(rounds >= 1 && levels >= 1 && levels <= 8,
      s"louvainMultiLevel: rounds=$rounds levels=$levels outside " +
        "1../1..8 (each level is a chained oracle CTE block)")
    val sym = louvainSym(edges)
    var labels = louvainMoves(sym, rounds)
    for (_ <- 2 to levels) {
      val coarse = sym
        .join(labels.select(col("vid").as("a"), col("lbl").as("la")), "a")
        .join(labels.select(col("vid").as("b"), col("lbl").as("lb")), "b")
        .groupBy(col("la").as("a"), col("lb").as("b"))
        .agg(sum(col("w")).cast("bigint").as("w"))
        .ckptLocal(eager = false) // read by every half-step
      val clabels = louvainMoves(coarse, rounds)
      labels = labels
        .join(clabels.select(col("vid").as("lbl"), col("lbl").as("l2")),
          "lbl")
        .select(col("vid"), col("l2").as("lbl"))
        .ckptLocal(eager = true)
    }
    labels
  }

  /** Trade-graph CTEs (no WITH prefix): `cs` (qualifying customer–
    * supplier links) + symmetrized weighted `e` — shared by the LPA
    * (q211/q218) and Louvain (q223) oracle chains. */
  private val tradeGraphHead: String =
    s"""cs AS (
       |  SELECT o.o_custkey AS c, l.l_suppkey AS s, count(*) AS n
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  GROUP BY 1, 2 HAVING count(*) >= $KcMinLinks
       |), e AS MATERIALIZED (
       |  SELECT CAST(-c AS BIGINT) AS a, CAST(s AS BIGINT) AS b,
       |    CAST(n AS BIGINT) AS w
       |  FROM cs
       |  UNION ALL
       |  SELECT CAST(s AS BIGINT), CAST(-c AS BIGINT), CAST(n AS BIGINT)
       |  FROM cs
       |)""".stripMargin

  /** Shared CTE body (no WITH prefix): trade graph `e` + LPA label CTEs
    * through `l<LpaRounds>` — the prefix of both q211's and q218's
    * oracles (q218 needs to splice it under WITH RECURSIVE). */
  private val lpaChainBody: String = {
    val head = tradeGraphHead +
      s""", l0 AS (
         |  SELECT DISTINCT a AS id, a AS lbl FROM e
         |)""".stripMargin
    val rounds = (1 to LpaRounds).map { i =>
      s""", l$i AS MATERIALIZED (
         |  SELECT a AS id, lbl FROM (
         |    SELECT e.a, l.lbl, SUM(e.w) AS ws,
         |      ROW_NUMBER() OVER (PARTITION BY e.a
         |        ORDER BY SUM(e.w) DESC, l.lbl ASC) AS rn
         |    FROM e JOIN l${i - 1} l ON e.b = l.id
         |    GROUP BY e.a, l.lbl)
         |  WHERE rn = 1
         |)""".stripMargin
    }.mkString
    head + rounds
  }

  private val q211Sql: String =
    "WITH " + lpaChainBody +
      s"""
         |SELECT id AS vid, lbl,
         |  CASE WHEN id < 0 THEN 'customer' ELSE 'supplier' END AS kind
         |FROM l$LpaRounds""".stripMargin

  // --- q223: semi-synchronous one-level Louvain on the trade graph ---------
  // [[louvainOneLevel]] (2 rounds = 4 half-steps) on q211's bipartite
  // customer–supplier graph — the graph where q218 MEASURED sync-LPA's
  // pathology (single-sided communities, negative Q). The greedy
  // modularity mover with parity half-steps is the fix: its labels are
  // two-sided by construction (a customer joins a supplier's community
  // and the label SURVIVES the next half-step because only the other
  // parity class moves). LouvainSpec pins Q(louvain) > Q(sync-LPA) on
  // the real sf0.001 graph via modularityMicro. The oracle replays all
  // four half-steps (exact BIGINT gain scores, smaller-label ties).
  private val LouvainRounds = 2

  private def q223(s: SparkSession, dir: String): DataFrame =
    louvainOneLevel(custSuppEdges(s, dir), rounds = LouvainRounds)
      .withColumn("kind",
        when(col("vid") < 0, lit("customer")).otherwise(lit("supplier")))

  /** One oracle half-step: parity movers greedily adopt the
    * gain-argmax label; frozen-parity labels carry over. Parameterized
    * over the edge/degree/2m/label CTE names so [[q225Sql]] can replay
    * the SAME mover on the coarse graph (`e.a <> e.b` keeps coarse
    * self-loops out of the candidate weights — they count only in
    * deg/2m, the Spark side's [[louvainMoves]] contract). */
  private def louvainStepSql(i: Int, e: String = "e",
      deg: String = "deg", mm: String = "mm", g: String = "g"): String = {
    val par = i % 2
    val prev = s"$g${i - 1}"
    s""", ${g}t$i AS (
       |  SELECT g.lbl, CAST(SUM(d.k) AS BIGINT) AS tot
       |  FROM $prev g JOIN $deg d ON g.id = d.id GROUP BY g.lbl
       |), ${g}cands$i AS (
       |  SELECT id, l, CAST(SUM(wvl) AS BIGINT) AS wvl FROM (
       |    SELECT e.a AS id, gu.lbl AS l, e.w AS wvl
       |    FROM $e e JOIN $prev gu ON e.b = gu.id
       |    WHERE abs(e.a % 2) = $par AND e.a <> e.b
       |    UNION ALL
       |    SELECT id, lbl AS l, 0 FROM $prev WHERE abs(id % 2) = $par
       |  ) GROUP BY id, l
       |), ${g}moved$i AS (
       |  SELECT id, l AS lbl FROM (
       |    SELECT c.id, c.l, ROW_NUMBER() OVER (PARTITION BY c.id
       |      ORDER BY m.m2 * c.wvl - d.k * (t.tot -
       |        CASE WHEN gv.lbl = c.l THEN d.k ELSE 0 END) DESC,
       |        c.l ASC) AS rn
       |    FROM ${g}cands$i c
       |    JOIN $prev gv ON c.id = gv.id
       |    JOIN $deg d ON c.id = d.id
       |    JOIN ${g}t$i t ON c.l = t.lbl
       |    CROSS JOIN $mm m)
       |  WHERE rn = 1
       |), $g$i AS MATERIALIZED (
       |  SELECT g.id, COALESCE(mv.lbl, g.lbl) AS lbl
       |  FROM $prev g LEFT JOIN ${g}moved$i mv ON g.id = mv.id
       |)""".stripMargin
  }

  private val q223Sql: String =
    "WITH " + tradeGraphHead +
      s""", deg AS MATERIALIZED (
         |  SELECT a AS id, CAST(SUM(w) AS BIGINT) AS k FROM e GROUP BY a
         |), mm AS (
         |  SELECT CAST(SUM(w) AS BIGINT) AS m2 FROM e
         |), g0 AS (
         |  SELECT DISTINCT a AS id, a AS lbl FROM e
         |)""".stripMargin +
      (1 to 2 * LouvainRounds).map(i => louvainStepSql(i)).mkString +
      s"""
         |SELECT id AS vid, lbl,
         |  CASE WHEN id < 0 THEN 'customer' ELSE 'supplier' END AS kind
         |FROM g${2 * LouvainRounds}""".stripMargin

  // --- q225: multi-level (full Blondel) Louvain on the trade graph ---------
  // Level 2 of q223: coarsen the level-1 communities into super-vertices
  // (Σw between communities → super-edge, intra-community Σw →
  // self-loop), re-run the SAME parity mover on the coarse graph, expand
  // back. The oracle replays coarsening as one double-join aggregate CTE
  // and level 2 as four more chained half-step CTEs via the
  // parameterized [[louvainStepSql]] — identical BIGINT gain arithmetic,
  // self-loops excluded from candidate weights exactly like the Spark
  // side. LouvainSpec pins Q(level 2) ≥ Q(level 1) under
  // [[modularityMicro]] at sf0.01 AND sf0.1 (the Louvain expand
  // invariant: the coarse singleton partition scores the same Q as the
  // expanded level-1 labels, so coarse gains are original-graph gains).
  private def q225(s: SparkSession, dir: String): DataFrame =
    louvainMultiLevel(custSuppEdges(s, dir), rounds = LouvainRounds,
        levels = 2)
      .withColumn("kind",
        when(col("vid") < 0, lit("customer")).otherwise(lit("supplier")))

  private val q225Sql: String = {
    val lvl1End = s"g${2 * LouvainRounds}"
    "WITH " + tradeGraphHead +
      s""", deg AS MATERIALIZED (
         |  SELECT a AS id, CAST(SUM(w) AS BIGINT) AS k FROM e GROUP BY a
         |), mm AS (
         |  SELECT CAST(SUM(w) AS BIGINT) AS m2 FROM e
         |), g0 AS (
         |  SELECT DISTINCT a AS id, a AS lbl FROM e
         |)""".stripMargin +
      (1 to 2 * LouvainRounds).map(i => louvainStepSql(i)).mkString +
      s""", ce AS MATERIALIZED (
         |  SELECT ga.lbl AS a, gb.lbl AS b, CAST(SUM(e.w) AS BIGINT) AS w
         |  FROM e e JOIN $lvl1End ga ON e.a = ga.id
         |           JOIN $lvl1End gb ON e.b = gb.id
         |  GROUP BY ga.lbl, gb.lbl
         |), cdeg AS MATERIALIZED (
         |  SELECT a AS id, CAST(SUM(w) AS BIGINT) AS k FROM ce GROUP BY a
         |), cmm AS (
         |  SELECT CAST(SUM(w) AS BIGINT) AS m2 FROM ce
         |), h0 AS (
         |  SELECT DISTINCT a AS id, a AS lbl FROM ce
         |)""".stripMargin +
      (1 to 2 * LouvainRounds)
        .map(i => louvainStepSql(i, "ce", "cdeg", "cmm", "h")).mkString +
      s"""
         |SELECT g.id AS vid, h.lbl,
         |  CASE WHEN g.id < 0 THEN 'customer' ELSE 'supplier' END AS kind
         |FROM $lvl1End g JOIN h${2 * LouvainRounds} h ON h.id = g.lbl"""
        .stripMargin
  }

  // --- q218: modularity of the q211 communities ------------------------------
  // The EVALUATION half of community detection (the q202-for-ANN
  // pattern applied to q211): Newman–Girvan modularity
  // Q = Σ_c [ w_in_c/2m − (deg_c/2m)² ] over the weighted symmetrized
  // graph (2m = total directed weight, w_in_c = intra-community directed
  // weight, deg_c = summed weighted degree). Cross-engine exactness: the
  // two fractions are MICRO/MILLI-FLOORED PRE-SUM (the q215 recipe) —
  // term_micro_c = (10⁶·w_in_c) div 2m − ((10³·deg_c) div 2m)², all
  // BIGINT-safe at ANY scale (10⁶·w_in ≤ 10⁶·2m needs 2m < 9.2·10¹²;
  // the milli-floored degree ratio is ≤ 10³ so its square is ≤ 10⁶ —
  // no (2m)² ever materializes, which is what would overflow first).
  // The floor bias is < 2·10⁻⁶ per community — far below any decision
  // threshold a pipeline would put on Q — and the oracle replays the
  // identical arithmetic, so the driver hash pins it exactly.

  /** PUBLIC operator: modularity score of a vertex labeling over a
    * weighted undirected graph, in floored micro-units. `edges` as
    * (`a`, `b`, `w`) positive weights (symmetrized, self-loops
    * dropped — [[labelPropagation]]'s graph contract); `labels` as
    * (`vid`, `lbl`). One summary row: (n_communities, n_vertices,
    * two_m, intra_w, q_micro). */
  def modularityMicro(edges: DataFrame, labels: DataFrame): DataFrame = {
    val und = edges.select(col("a"), col("b"), col("w"))
      .filter(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
    val sym = und
      .union(und.select(col("b").as("a"), col("a").as("b"), col("w")))
      .groupBy("a", "b").agg(sum(col("w")).as("w"))
      .ckptLocal(eager = false) // total + degree + intra legs
    val tot = sym.groupBy()
      .agg(sum(col("w")).cast("bigint").as("m2")) // 1 row
    val deg = sym.groupBy("a")
      .agg(sum(col("w")).cast("bigint").as("k"))
    val lab = labels.select(col("vid").as("id"), col("lbl"))
    val comm = lab.join(deg, col("id") === col("a"))
      .groupBy("lbl")
      .agg(count(lit(1)).as("nv"), sum(col("k")).as("degc"))
    val win = sym
      .join(lab.select(col("id").as("a"), col("lbl").as("la")), "a")
      .join(lab.select(col("id").as("b"), col("lbl").as("lb")), "b")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("lbl"))
      .agg(sum(col("w")).cast("bigint").as("w_in"))
    val terms = comm.join(win, Seq("lbl"), "left")
      .withColumn("w_in", coalesce(col("w_in"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("term_micro", expr(
        "(1000000L * w_in) div m2 - " +
          "((1000L * degc) div m2) * ((1000L * degc) div m2)"))
    terms.groupBy(col("m2").as("two_m"))
      .agg(count(lit(1)).as("n_communities"),
        sum(col("nv")).as("n_vertices"),
        sum(col("w_in")).as("intra_w"),
        sum(col("term_micro")).as("q_micro"))
      .select(col("n_communities"), col("n_vertices"), col("two_m"),
        col("intra_w"), col("q_micro"))
  }

  // Battery entry: one row per SCORED LABELING —
  //   'lpa_bipartite': q211's synchronous-LPA labels on the bipartite
  //     trade graph. Modularity comes out NEGATIVE by structure, not by
  //     bug: synchronous LPA on a bipartite graph oscillates label
  //     origin between the two sides every round (customer labels live
  //     in the negative id space, supplier labels in the positive one,
  //     and each round swaps which side holds which), so communities
  //     are single-sided and intra-community edges barely exist
  //     (measured 4 of 42,592 at sf0.01) — the canonical published
  //     caveat for sync-LPA, and exactly the kind of defect a curation
  //     pipeline needs the EVALUATION operator to catch before trusting
  //     cluster output. The row is the honest score of q211's labels.
  //   'cc_neardup': connected-component labels on the MinHash near-dup
  //     graph (q50's clusters, w = 1 per verified pair). Components are
  //     perfect communities (intra_w = 2m by construction), so Q_micro
  //     ≈ 10⁶·(1 − Σ(deg_c/2m)²) — high positive when duplicate
  //     families are many and small, degrading toward 0 if one giant
  //     component swallowed the corpus: the dedup-quality early-warning
  //     number.
  private def q218(s: SparkSession, dir: String): DataFrame = {
    val cs = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      .join(Tables.load(s, dir, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey", "l_suppkey").agg(count(lit(1)).as("nl"))
      .filter(col("nl") >= KcMinLinks)
    val biEdges = cs.select(
      (-col("o_custkey")).cast("bigint").as("a"),
      col("l_suppkey").cast("bigint").as("b"),
      col("nl").as("w"))
    val bi = modularityMicro(biEdges,
        labelPropagation(biEdges, rounds = LpaRounds))
      .withColumn("labeling", lit("lpa_bipartite"))
    val ndEdges = Dedup.lshVerifiedPairs(s, dir)
      .filter(col("jac") >= Dedup.NearDupJac)
      .select(col("d1").as("a"), col("d2").as("b"), lit(1L).as("w"))
    val nd = modularityMicro(ndEdges,
        connectedComponents(ndEdges.select("a", "b"))
          .select(col("id").as("vid"), col("comp").as("lbl")))
      .withColumn("labeling", lit("cc_neardup"))
    bi.unionByName(nd)
      .select(col("labeling"), col("n_communities"), col("n_vertices"),
        col("two_m"), col("intra_w"), col("q_micro"))
  }

  private val q218Sql: String = {
    // modularity replay over edge CTE `e` (symmetrized, columns a/b/w)
    // and label CTE `lab` (columns id/<lcol>), suffixed to avoid CTE
    // name collisions between the two scored labelings
    def modCtes(e: String, lab: String, lcol: String, sfx: String) =
      s""", deg$sfx AS (SELECT a AS id, CAST(SUM(w) AS BIGINT) AS k
         |              FROM $e GROUP BY a)
         |, tot$sfx AS (SELECT CAST(SUM(w) AS BIGINT) AS m2 FROM $e)
         |, comm$sfx AS (
         |  SELECT l.$lcol AS lbl, CAST(COUNT(*) AS BIGINT) AS nv,
         |    CAST(SUM(d.k) AS BIGINT) AS degc
         |  FROM $lab l JOIN deg$sfx d ON d.id = l.id
         |  GROUP BY l.$lcol
         |), win$sfx AS (
         |  SELECT la.$lcol AS lbl, CAST(SUM(e.w) AS BIGINT) AS w_in
         |  FROM $e e
         |  JOIN $lab la ON la.id = e.a
         |  JOIN $lab lb ON lb.id = e.b
         |  WHERE la.$lcol = lb.$lcol
         |  GROUP BY la.$lcol
         |), terms$sfx AS (
         |  SELECT c.lbl, c.nv, COALESCE(w.w_in, 0) AS w_in, c.degc,
         |    ((1000000 * COALESCE(w.w_in, 0)) // t.m2
         |      - ((1000 * c.degc) // t.m2) * ((1000 * c.degc) // t.m2))
         |      AS term_micro,
         |    t.m2
         |  FROM comm$sfx c
         |  LEFT JOIN win$sfx w ON w.lbl = c.lbl
         |  CROSS JOIN tot$sfx t
         |)""".stripMargin
    def finalSel(tag: String, sfx: String) =
      s"""SELECT '$tag' AS labeling,
         |  CAST(COUNT(*) AS BIGINT) AS n_communities,
         |  CAST(SUM(nv) AS BIGINT) AS n_vertices,
         |  m2 AS two_m,
         |  CAST(SUM(w_in) AS BIGINT) AS intra_w,
         |  CAST(SUM(term_micro) AS BIGINT) AS q_micro
         |FROM terms$sfx GROUP BY m2""".stripMargin
    "WITH RECURSIVE " + lpaChainBody +
      s"""
         |, ${Dedup.nearDupCcCtes}
         |, ne AS MATERIALIZED (
         |  SELECT CAST(d1 AS BIGINT) AS a, CAST(d2 AS BIGINT) AS b,
         |    CAST(1 AS BIGINT) AS w
         |  FROM e0
         |  UNION ALL
         |  SELECT CAST(d2 AS BIGINT), CAST(d1 AS BIGINT), CAST(1 AS BIGINT)
         |  FROM e0
         |)""".stripMargin +
      modCtes("e", s"l$LpaRounds", "lbl", "_b") +
      modCtes("ne", "comp", "comp", "_n") + "\n" +
      finalSel("lpa_bipartite", "_b") + "\nUNION ALL\n" +
      finalSel("cc_neardup", "_n")
  }

  // --- q213: single-source shortest paths (weighted) ------------------------
  // The weighted complement of q128's unweighted BFS hops: synchronous
  // Bellman–Ford relaxation rounds until fixpoint — dist(v) is monotone
  // non-increasing, every round is one equi-join (edges ⋈ current
  // frontier distances) + a min aggregate, and convergence is detected
  // by a quiescent round (fail-loud cap, like kCore: a silent early stop
  // would report inflated distances). Rounds needed = the shortest-path
  // TREE depth, not |V| (measured 3 at sf0.01, 9 at sf0.1); the oracle
  // replays exactly [[SpRounds]] rounds as chained CTEs — post-fixpoint
  // rounds are no-ops (the q207/q210/q211 bounded-replay pattern).
  // Positive weights are the contract (Bellman–Ford tolerates negative
  // EDGES but the fail-loud-on-cap convergence argument and the bounded
  // oracle replay assume no negative cycle; a fused raise_error guard
  // rejects w ≤ 0 on the first scan rather than converging to nonsense).

  /** PUBLIC operator: exact SSSP by synchronous Bellman–Ford. `edges`
    * as (`a`, `b`, `w`) with POSITIVE integral weights (symmetrized;
    * parallel edges collapse to their minimum weight). Returns one row
    * per vertex: (`vid`, `dist`) with `dist` NULL when unreachable from
    * `source`.
    * @throws IllegalStateException if distances have not reached a
    *         fixpoint within `maxRounds`. */
  def shortestPaths(edges: DataFrame, source: Long,
      maxRounds: Int = 32): DataFrame = {
    require(maxRounds >= 1, s"shortestPaths: maxRounds=$maxRounds")
    val guardedW = expr("CASE WHEN w > 0 THEN CAST(w AS BIGINT) ELSE " +
      "CAST(raise_error('shortestPaths: weights must be positive') " +
      "AS BIGINT) END")
    val und = edges.select(col("a"), col("b"), guardedW.as("w"))
      .filter(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
    val sym = und
      .union(und.select(col("b").as("a"), col("a").as("b"), col("w")))
      .groupBy("a", "b").agg(min(col("w")).as("w"))
      .ckptLocal(eager = false) // read by every relaxation round
    val verts = sym.select(col("a").as("id")).distinct()
      .ckptLocal(eager = false)
    var dist = verts.filter(col("id") === lit(source))
      .withColumn("dist", lit(0L))
      .ckptLocal(eager = true)
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      val relax = sym.join(dist.withColumnRenamed("id", "a"), "a")
        .select(col("b").as("id"), (col("dist") + col("w")).as("dist"))
      // a newly-reached vertex has prev NULL — null-safe inequality
      val (next, moved) = dist.withColumn("own", lit(true))
        .unionByName(relax.withColumn("own", lit(false)))
        .groupBy("id").agg(
          min(col("dist")).as("dist"),
          min(when(col("own"), col("dist"))).as("prev"))
        .ckptCounted(!(col("dist") <=> col("prev")))
      changed = moved
      dist = next.select(col("id"), col("dist"))
      rounds += 1
    }
    if (changed > 0) throw new IllegalStateException(
      s"shortestPaths did not reach a fixpoint in $maxRounds rounds — " +
        "raise maxRounds")
    verts.join(dist, Seq("id"), "left")
      .select(col("id").as("vid"), col("dist"))
  }

  private[ops] val SpRounds = 24
  private[ops] val SpSource = 1L // supplier 1 (suppliers carry +keys)

  private def q213(s: SparkSession, dir: String): DataFrame = {
    val cs = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      .join(Tables.load(s, dir, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey", "l_suppkey").agg(count(lit(1)).as("nl"))
      .filter(col("nl") >= KcMinLinks)
    shortestPaths(cs.select(
        (-col("o_custkey")).cast("bigint").as("a"),
        col("l_suppkey").cast("bigint").as("b"),
        expr("1000000L div nl").as("w")), // strong links = short hops
      source = SpSource, maxRounds = SpRounds)
      .withColumn("kind",
        when(col("vid") < 0, lit("customer")).otherwise(lit("supplier")))
  }

  private val q213Sql: String = {
    val head =
      s"""WITH cs AS (
         |  SELECT o.o_custkey AS c, l.l_suppkey AS s, count(*) AS n
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  GROUP BY 1, 2 HAVING count(*) >= $KcMinLinks
         |), e AS MATERIALIZED (
         |  SELECT CAST(-c AS BIGINT) AS a, CAST(s AS BIGINT) AS b,
         |    CAST(1000000 // n AS BIGINT) AS w
         |  FROM cs
         |  UNION ALL
         |  SELECT CAST(s AS BIGINT), CAST(-c AS BIGINT),
         |    CAST(1000000 // n AS BIGINT)
         |  FROM cs
         |), d0 AS (
         |  SELECT CAST($SpSource AS BIGINT) AS id, CAST(0 AS BIGINT) AS d
         |)""".stripMargin
    val rounds = (1 to SpRounds).map { i =>
      s""", d$i AS MATERIALIZED (
         |  SELECT id, MIN(d) AS d FROM (
         |    SELECT id, d FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.b AS id, p.d + e.w AS d
         |    FROM e JOIN d${i - 1} p ON e.a = p.id)
         |  GROUP BY id
         |)""".stripMargin
    }.mkString
    head + rounds +
      s"""
         |SELECT v.id AS vid, d.d AS dist,
         |  CASE WHEN v.id < 0 THEN 'customer' ELSE 'supplier' END AS kind
         |FROM (SELECT DISTINCT a AS id FROM e) v
         |LEFT JOIN d$SpRounds d ON v.id = d.id""".stripMargin
  }

  // --- q216: HITS hubs & authorities over the trade graph ------------------
  // Kleinberg's HITS (JACM 1999) on the directed supplier→customer
  // bipartite trade graph (q210's edge build: distinct trading pairs
  // with ≥ KcMinLinks lineitems): a supplier is a good HUB if it serves
  // customers many good hubs serve; a customer is a good AUTHORITY if
  // good hubs serve it — the mutually-recursive pair PageRank's single
  // score can't express (on a bipartite graph HITS is the power
  // iteration for the adjacency matrix's principal singular pair).
  //
  // Cross-engine exactness: the textbook L2 normalization needs sqrt —
  // not integer-replayable — so the iteration uses MAX normalization
  // (a standard variant; scaling per round by any positive factor
  // leaves the power iteration's direction, and therefore the ranking,
  // unchanged): after each half-step every score is renormalized to
  //   v ← (raw · S) div max(raw),   S = 10⁴ basis points,
  // all BIGINT, truncating division (operands nonnegative, so Spark's
  // `div` ≡ DuckDB's `//`). The argmax vertex sits at exactly S every
  // round, so max(raw) ≥ S > 0 forever and the division is total.
  // Int64 bound: raw ≤ in-degree · S, times S for the renormalize →
  // degree · 10⁸ < 2⁶³ holds to degree ~9·10¹⁰ — any real graph.
  //
  // Scale shape: the edge frame is fact-aggregated once (the only
  // corpus-sized work) and persisted; each round is 2 equi-joins of
  // that frame against vertex-dim score frames + vertex aggregates,
  // localCheckpoint-truncated per round (pageRank's lineage trade).
  // Rounds fixed at 4 — the battery contract is "4 rounds of the
  // integer iteration", replayed verbatim by the oracle's chained CTEs
  // (the q107/q213 bounded-replay pattern).

  /** Hub/authority scores: (role ∈ {hub, authority}, id, score) with
    * score ∈ [0, scale] after `rounds` max-normalized iterations.
    * `edges` are directed (src, dst); hubs live on the src side,
    * authorities on the dst side.
    */
  def hits(edges: DataFrame, rounds: Int = 4, scale: Long = 10000L)
      : DataFrame = {
    require(rounds >= 1 && scale >= 1, "hits: rounds and scale must be >= 1")
    val e = edges.select(col("src").cast("bigint").as("src"),
      col("dst").cast("bigint").as("dst")).persist()
    var h = e.select(col("src").as("id")).distinct()
      .withColumn("v", lit(scale))
    var a: DataFrame = null
    for (_ <- 1 to rounds) {
      // the raw-score frame feeds both the max normalizer and the
      // renormalized scores — checkpointed so the edge join + aggregate
      // run once per half-step instead of relying on exchange reuse
      // (the q238 dirCnt lesson)
      val ar = e.join(h.select(col("id").as("src"), col("v")), "src")
        .groupBy("dst").agg(sum(col("v")).as("raw"))
        .ckptLocal(false)
      a = ar.crossJoin(broadcast(ar.agg(max(col("raw")).as("mx"))))
        .select(col("dst").as("id"),
          expr(s"(raw * ${scale}L) div mx").as("v"))
        .ckptLocal(false)
      val hr = e.join(a.select(col("id").as("dst"), col("v")), "dst")
        .groupBy("src").agg(sum(col("v")).as("raw"))
        .ckptLocal(false)
      h = hr.crossJoin(broadcast(hr.agg(max(col("raw")).as("mx"))))
        .select(col("src").as("id"),
          expr(s"(raw * ${scale}L) div mx").as("v"))
        .ckptLocal(false)
    }
    h.withColumn("role", lit("hub"))
      .unionByName(a.withColumn("role", lit("authority")))
      .select(col("role"), col("id"), col("v").as("score"))
  }

  private val HitsRounds = 4
  private val HitsScale = 10000L
  private val HitsTopK = 10

  private def q216(s: SparkSession, dir: String): DataFrame = {
    val cs = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      .join(Tables.load(s, dir, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey", "l_suppkey").agg(count(lit(1)).as("nl"))
      .filter(col("nl") >= KcMinLinks)
    val scores = hits(
      cs.select(col("l_suppkey").cast("bigint").as("src"),
        col("o_custkey").cast("bigint").as("dst")),
      rounds = HitsRounds, scale = HitsScale)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("role").orderBy(col("score").desc, col("id").asc)
    scores.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= HitsTopK)
  }

  private val q216Sql: String = {
    val head =
      s"""WITH cs AS MATERIALIZED (
         |  SELECT o.o_custkey AS c, l.l_suppkey AS s
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  GROUP BY 1, 2 HAVING count(*) >= $KcMinLinks
         |), h0 AS (
         |  SELECT DISTINCT s, CAST($HitsScale AS BIGINT) AS v FROM cs
         |)""".stripMargin
    val rounds = (1 to HitsRounds).map { i =>
      s""", ar$i AS (
         |  SELECT c, CAST(SUM(v) AS BIGINT) AS raw
         |  FROM cs JOIN h${i - 1} USING (s) GROUP BY c
         |), a$i AS MATERIALIZED (
         |  SELECT c, (raw * $HitsScale) // (SELECT MAX(raw) FROM ar$i) AS v
         |  FROM ar$i
         |), hr$i AS (
         |  SELECT s, CAST(SUM(v) AS BIGINT) AS raw
         |  FROM cs JOIN a$i USING (c) GROUP BY s
         |), h$i AS MATERIALIZED (
         |  SELECT s, (raw * $HitsScale) // (SELECT MAX(raw) FROM hr$i) AS v
         |  FROM hr$i
         |)""".stripMargin
    }.mkString
    head + rounds +
      s"""
         |SELECT role, id, score, rank FROM (
         |  SELECT 'authority' AS role, CAST(c AS BIGINT) AS id, v AS score,
         |    CAST(ROW_NUMBER() OVER (ORDER BY v DESC, c ASC) AS INTEGER)
         |      AS rank
         |  FROM a$HitsRounds
         |  UNION ALL
         |  SELECT 'hub', CAST(s AS BIGINT), v,
         |    CAST(ROW_NUMBER() OVER (ORDER BY v DESC, s ASC) AS INTEGER)
         |  FROM h$HitsRounds
         |)
         |WHERE rank <= $HitsTopK""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q216_hits" -> q216 _,
    "q107_pagerank" -> q107 _,
    "q128_bfs_hops" -> q128 _,
    "q134_triangles" -> q134 _,
    "q164_link_prediction" -> q164 _,
    "q168_subtree_rollup" -> q168 _,
    "q210_kcore" -> q210 _,
    "q211_label_prop" -> q211 _,
    "q223_louvain" -> q223 _,
    "q225_louvain_multilevel" -> q225 _,
    "q218_modularity" -> q218 _,
    "q213_sssp" -> q213 _)

  val oracleSql: Map[String, String] = Map(
    "q216_hits" -> q216Sql,
    "q107_pagerank" -> q107Sql,
    "q128_bfs_hops" -> q128Sql,
    "q134_triangles" -> q134Sql,
    "q164_link_prediction" -> q164Sql,
    "q168_subtree_rollup" -> q168Sql,
    "q210_kcore" -> q210Sql,
    "q211_label_prop" -> q211Sql,
    "q223_louvain" -> q223Sql,
    "q225_louvain_multilevel" -> q225Sql,
    "q218_modularity" -> q218Sql,
    "q213_sssp" -> q213Sql)
}
