package graft.ops

import graft.SparkTestBase

/** Connected components: fixpoint correctness against brute-force
  * union-find on small graphs, plus edge-case handling.
  */
class GraphSpec extends SparkTestBase {

  private def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Graph.connectedComponents(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Brute-force union-find reference. */
  private def brute(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val ids = edges.flatMap(e => Seq(e._1, e._2)).distinct
    ids.map(x => x -> find(x)).toMap
  }

  test("two triangles joined by a bridge collapse to one component") {
    val edges = Seq[(Long, Long)]((1L, 2L), (2L, 3L), (3L, 1L),
      (10L, 11L), (11L, 12L), (12L, 10L), (3L, 10L))
    assert(components(edges) == brute(edges))
    assert(components(edges).values.toSet == Set(1L))
  }

  test("long path graph converges to the minimum endpoint") {
    // worst case for label propagation: diameter = n
    val edges = (1L until 12L).map(i => (i, i + 1))
    val got = components(edges)
    assert(got == brute(edges))
    assert(got.values.toSet == Set(1L))
  }

  test("disjoint clusters keep separate representatives") {
    val edges = Seq[(Long, Long)]((5L, 9L), (9L, 7L), (20L, 21L), (30L, 31L))
    val got = components(edges)
    assert(got == brute(edges))
    assert(got.values.toSet == Set(5L, 20L, 30L))
  }

  test("self-loops and duplicate/reversed edges are tolerated") {
    val edges = Seq[(Long, Long)]((1L, 1L), (1L, 2L), (2L, 1L), (1L, 2L))
    val got = components(edges)
    assert(got == Map(1L -> 1L, 2L -> 1L))
  }

  test("a vertex whose only edge is a self-loop is a singleton component") {
    assert(components(Seq((5L, 5L))) == Map(5L -> 5L))
    assert(components(Seq((5L, 5L), (1L, 2L)))
      == Map(5L -> 5L, 1L -> 1L, 2L -> 1L))
  }

  test("refuses to return non-converged labels when maxIter is too small") {
    import spark.implicits._
    // path of 9 vertices: diameter 8, one jump-accelerated round is not
    // enough — must throw, never silently split the component
    val edges = (1L until 9L).map(i => (i, i + 1)).toDF("a", "b")
    intercept[IllegalStateException] {
      Graph.connectedComponents(edges, maxIter = 1)
    }
  }

  test("a 2,000-vertex permuted path (diameter 2,000, min id mid-path) " +
      "converges within the default 20 rounds") {
    import spark.implicits._
    // root-hooking + full compression must converge in O(log |V|)
    // rounds regardless of diameter — per-vertex propagation (the old
    // shape) would need ~2,000 rounds here and throw
    val perm = (0 until 2000).map(i => ((i.toLong * 997L) % 2000L) + 1L)
    val edges = perm.sliding(2).map(p => (p(0), p(1))).toSeq.toDF("a", "b")
    val got = Graph.connectedComponents(edges)
    assert(got.count() == 2000)
    assert(got.select("comp").distinct().collect().map(_.getLong(0)).toSeq
      == Seq(1L))
  }

  test("empty edge set yields an empty labeling") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Graph.connectedComponents(empty).count() == 0)
  }

  test("random graphs match union-find (seeded)") {
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { _ =>
      val edges = Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter(e => e._1 != e._2)
      assert(components(edges) == brute(edges))
    }
  }

  test("hopDistances: min hops, maxHops cap, unreachable absent, early stop") {
    import spark.implicits._
    // chain 1→2→3→4→5 plus shortcut 1→3; island 9→10
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 3L),
      (9L, 10L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    def run(maxHops: Int) = Graph.hopDistances(edges, seeds, maxHops)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // shortcut wins: 3 is 1 hop, so 4 is 2 and 5 is 3; island unreachable
    assert(run(6) == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 3L))
    // cap binds: node 5 (3 hops) drops at maxHops = 2
    assert(run(2) == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
    // random directed graphs vs Floyd-style brute force (seeded)
    val rnd = new scala.util.Random(7)
    (1 to 2).foreach { _ =>
      val es = Seq.fill(50)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
        .filter(e => e._1 != e._2).distinct
      val bruteDist = {
        var d = Map(0L -> 0L)
        var frontier = Set(0L)
        var h = 1L
        while (frontier.nonEmpty && h <= 6) {
          val nxt = es.filter(e => frontier(e._1)).map(_._2)
            .filterNot(d.contains).toSet
          d ++= nxt.map(_ -> h); frontier = nxt; h += 1
        }
        d
      }
      val got = Graph.hopDistances(es.toDF("src", "dst"),
          Seq(0L).toDF("id"), 6)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == bruteDist, s"edges=$es")
    }
  }
}
