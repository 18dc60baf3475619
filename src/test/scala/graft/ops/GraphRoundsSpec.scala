package graft.ops

import graft.CkptLocalOps
import graft.SparkTestBase
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, expr}
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._

/** Pins `ckptCounted`, the counted eager checkpoint the iterative Graph
  * loops run once per round, and the Spark executions each iterative
  * operator costs on a small fixture: one per checkpoint (lazy ones
  * included, as they materialize in their own execution), one per
  * round or step of a fixpoint loop, and the caller's collect.
  */
class GraphRoundsSpec extends SparkTestBase {

  import spark.implicits._

  private val ids = (1L to 100L).toDF("id")

  test("ckptCounted counts what count() counts, with and without a " +
      "predicate, and returns a checkpoint leaf") {
    val (all, n) = ids.ckptCounted()
    assert(n == ids.count() && n == 100L)
    val odd = col("id") % 2 === 1
    val (_, m) = ids.ckptCounted(odd)
    assert(m == ids.filter(odd).count() && m == 50L)
    val (_, none) = ids.filter(col("id") < 0).ckptCounted()
    assert(none == 0L)
    assert(all.queryExecution.logical.isInstanceOf[LogicalRDD],
      all.queryExecution.logical.treeString)
    assert(all.as[Long].collect().sorted.toSeq == (1L to 100L))
  }

  test("ckptCounted throws a failing frame's error instead of waiting " +
      "on its count") {
    val bad = ids.select(
      expr("CASE WHEN id = 7 THEN raise_error('seven is bad') " +
        "ELSE CAST(id AS STRING) END").as("s"))
    import scala.concurrent.ExecutionContext.Implicits.global
    val attempt = Future(bad.ckptCounted())
    val err = intercept[Exception](Await.result(attempt, 2.minutes))
    assert(!err.isInstanceOf[java.util.concurrent.TimeoutException],
      "ckptCounted waited on the count of a failed execution")
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(err).exists(e => Option(e.getMessage)
      .exists(_.contains("seven is bad"))), err.toString)
  }

  test("kCore runs one execution per peel round") {
    // K5 with a 3-edge pendant chain at k = 2: three rounds peel the
    // chain end by end and a fourth confirms the fixpoint; add the
    // count of the symmetrized input and the caller's collect
    val clique = for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)
    val chained = (clique ++ Seq((5L, 10L), (10L, 11L), (11L, 12L)))
      .toDF("a", "b")
    val rounds = 4
    var got = Map.empty[Long, Long]
    val n = sqlExecutions {
      got = Graph.kCore(chained, 2).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(got == (1L to 5L).map(_ -> 4L).toMap)
    assert(n == rounds + 2, s"$n executions for $rounds peel rounds")
    // an empty edge set is already the fixpoint: the symmetrized
    // input's count and the collect, no peel round
    val empty = sqlExecutions {
      assert(Graph.kCore(Seq.empty[(Long, Long)].toDF("a", "b"), 2)
        .collect().isEmpty)
    }
    assert(empty == 2, s"$empty executions for an empty graph")
  }

  test("connectedComponents runs one execution per hook round and per " +
      "compression step") {
    // two triangles joined by a bridge (GraphSpec's fixture): the initial
    // labels, hook round 1 and its three compression steps, a hook round
    // that moves nothing (so no compression), and the collect
    val edges = Seq[(Long, Long)]((1L, 2L), (2L, 3L), (3L, 1L),
      (10L, 11L), (11L, 12L), (12L, 10L), (3L, 10L)).toDF("a", "b")
    val n = sqlExecutions {
      assert(Graph.connectedComponents(edges).collect()
        .map(_.getLong(1)).toSet == Set(1L))
    }
    assert(n == 7, s"$n executions")
  }

  test("shortestPaths runs one execution per relaxation round") {
    // path 1 -3- 2 -4- 3 -5- 4 from 1: the lazy edge and vertex
    // checkpoints, the source's, three rounds that reach a vertex each
    // and one that moves nothing, and the collect
    val path = Seq((1L, 2L, 3L), (2L, 3L, 4L), (3L, 4L, 5L))
      .toDF("a", "b", "w")
    var got = Map.empty[Long, Long]
    val n = sqlExecutions {
      got = Graph.shortestPaths(path, 1L).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(got == Map(1L -> 0L, 2L -> 3L, 3L -> 7L, 4L -> 12L))
    assert(n == 8, s"$n executions")
  }

  test("labelPropagation runs one execution per round") {
    // the lazy edge checkpoint, one per round, and the collect
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 1L, 1L), (3L, 4L, 1L))
      .toDF("a", "b", "w")
    val n = sqlExecutions {
      assert(Graph.labelPropagation(edges, 2).collect().length == 4)
    }
    assert(n == 4, s"$n executions for 2 rounds")
  }
}
