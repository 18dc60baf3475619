package graft.ops

import graft.CkptLocalOps
import graft.SparkTestBase
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, expr}
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._

/** Pins `ckptCounted`, the counted eager checkpoint the iterative Graph
  * loops run once per round, and the execution count it buys kCore.
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
  }
}
