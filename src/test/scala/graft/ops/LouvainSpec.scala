package graft.ops

import graft.SparkTestBase

/** Pins [[Graph.louvainOneLevel]] (q223) — the optimization half of
  * community detection — on the hand-simulated bridged-triangles
  * trajectory and against sync-LPA on the real bipartite trade graph.
  */
class LouvainSpec extends SparkTestBase {

  import spark.implicits._

  private def bridgedTriangles = Seq(
    (1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 1L),
    (4L, 5L, 1L), (5L, 6L, 1L), (4L, 6L, 1L),
    (3L, 4L, 1L)).toDF("a", "b", "w")

  test("bridged triangles: hand-simulated 4-half-step trajectory") {
    // half-step 1 (odd movers): 1→lbl2, 3→lbl1 (tie 8/8 → smaller), 5→lbl6
    // half-step 2 (even movers): 4→lbl6; 2, 6 stay
    // half-step 3: 3→lbl2 (gain 16 beats staying 0) — triangles complete
    // half-step 4: everyone stays (own-community gains dominate)
    val got = Graph.louvainOneLevel(bridgedTriangles, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(1L -> 2L, 2L -> 2L, 3L -> 2L,
      4L -> 6L, 5L -> 6L, 6L -> 6L))
  }

  test("bridged triangles: labels score the known optimum Q") {
    val labels = Graph.louvainOneLevel(bridgedTriangles, rounds = 2)
    val q = Graph.modularityMicro(bridgedTriangles, labels).collect()(0)
    assert(q.getLong(0) === 2L, "two communities")
    assert(q.getLong(4) === 357142L, "ModularitySpec's hand-computed Q")
  }

  test("real trade graph: Louvain beats sync-LPA under the same evaluator") {
    val edges = Graph.custSuppEdges(spark, "/root/testdata/sf0.001")
      .localCheckpoint()
    val louvain = Graph.louvainOneLevel(edges, rounds = 2)
    val lpa = Graph.labelPropagation(edges, rounds = Graph.LpaRounds)
    val qLouvain = Graph.modularityMicro(edges, louvain)
      .collect()(0).getLong(4)
    val qLpa = Graph.modularityMicro(edges, lpa).collect()(0).getLong(4)
    assert(qLouvain > qLpa,
      s"greedy modularity ($qLouvain) must beat the oscillating " +
        s"sync-LPA labeling ($qLpa) on the bipartite graph")
    assert(qLouvain > 0L, "two-sided communities have positive Q")
  }

  test("louvainMultiLevel(levels = 1) is exactly louvainOneLevel") {
    val one = Graph.louvainOneLevel(bridgedTriangles, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = Graph.louvainMultiLevel(bridgedTriangles, rounds = 2,
        levels = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(one === multi)
  }

  test("level 2 coarsening never loses a vertex and only merges labels") {
    val l1 = Graph.louvainOneLevel(bridgedTriangles, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val l2 = Graph.louvainMultiLevel(bridgedTriangles, rounds = 2,
        levels = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(l1.keySet === l2.keySet)
    // expansion is a function of the level-1 label: same l1 label ⇒
    // same l2 label (levels merge communities, never split them)
    l1.groupBy(_._2).values.foreach { members =>
      assert(members.keys.map(l2).toSet.size === 1)
    }
  }

  // The ask-#5 pins: level-over-level modularity is non-decreasing on
  // the REAL trade graph at two scales — the Louvain expand invariant
  // (the coarse singleton partition scores exactly the level-1 Q, so
  // every coarse-graph gain is an original-graph gain).
  for (sf <- Seq("sf0.01", "sf0.1")) {
    test(s"$sf trade graph: Q(level 2) >= Q(level 1) > 0") {
      val edges = Graph.custSuppEdges(spark, s"/root/testdata/$sf")
        .localCheckpoint()
      val q1 = Graph.modularityMicro(edges,
          Graph.louvainOneLevel(edges, rounds = 2))
        .collect()(0).getLong(4)
      val q2 = Graph.modularityMicro(edges,
          Graph.louvainMultiLevel(edges, rounds = 2, levels = 2))
        .collect()(0).getLong(4)
      assert(q1 > 0L, s"level-1 Q_micro $q1")
      assert(q2 >= q1,
        s"level 2 decreased modularity: $q2 < $q1 at $sf")
    }
  }

  test("determinism: two runs produce identical labels") {
    val a = Graph.louvainOneLevel(bridgedTriangles, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Graph.louvainOneLevel(bridgedTriangles, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a === b)
  }
}
