package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native nearest-centroid search: `graft_l2_argmin(point, cents, d)`
  * scans a FLATTENED row-major `array<bigint>` of k·d centroid
  * coordinates and returns `struct(cid, dist)` — the index of the
  * nearest centroid by squared L2 (ties → the LOWEST index, because
  * the scan keeps the first strict minimum) and that distance.
  *
  * Why (round 17): the Lloyd assignment was a
  * `crossJoin(broadcast(centroids))` + `min(struct(dist, cid))`
  * aggregate — correct, and fine at q207's k=4, but at q236's
  * adaptive k the join materializes n·k rows each ~1 KB wide (the
  * point vector rides EVERY candidate row) through an aggregate whose
  * struct-ordering comparator is interpreted: measured 1,201 s for
  * q236 at the sf10 decade (200k points × k=512), where the actual
  * arithmetic is ~6.5e9 multiply-adds. This expression evaluates the
  * whole argmin per POINT in one codegen'd loop over a 2 MB literal —
  * no join rows, no aggregate, no comparator. Early exit per centroid
  * (partial sum ≥ best ⇒ the full sum cannot win, terms are squares;
  * an exact tie would keep the earlier index anyway) is value-
  * identical by the same argument.
  *
  * Numeric contract (oracle parity): identical long arithmetic to the
  * crossJoin + min(struct) formulation — Σ(a−b)² per centroid in Java
  * long (wrapping like the builtin on overflow; callers bound the
  * element domain), smallest dist wins, ties to the smallest index.
  * The caller guarantees centroid ids are DENSE 0..k−1 in scan order
  * (kmSeeds numbers them so; kmUpdate preserves them).
  * Null contract: any null input or null element → NULL; a cents
  * length not divisible by d or an empty cents → NULL (caller
  * require()s never feed these).
  */
case class L2ArgMin(point: Expression, cents: Expression, dim: Expression)
    extends TernaryExpression {

  override def first: Expression = point
  override def second: Expression = cents
  override def third: Expression = dim

  override def checkInputDataTypes(): TypeCheckResult = {
    def arr(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (arr(point.dataType) && arr(cents.dataType) &&
      dim.dataType == IntegerType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<bigint>, array<bigint>, int), got " +
        s"(${point.dataType.catalogString}, " +
        s"${cents.dataType.catalogString}, ${dim.dataType.catalogString})")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("cid", LongType, nullable = false),
    StructField("dist", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "graft_l2_argmin"

  override def nullSafeEval(p: Any, c: Any, dv: Any): Any = {
    val x = p.asInstanceOf[ArrayData]
    val cs = c.asInstanceOf[ArrayData]
    val d = dv.asInstanceOf[Int]
    if (d <= 0 || x.numElements() != d ||
      cs.numElements() == 0 || cs.numElements() % d != 0) return null
    val k = cs.numElements() / d
    var best = Long.MaxValue
    var bestCid = -1L
    var ci = 0
    while (ci < k) {
      var s = 0L
      var j = 0
      val off = ci * d
      while (j < d && s < best) {
        if (x.isNullAt(j) || cs.isNullAt(off + j)) return null
        val diff = x.getLong(j) - cs.getLong(off + j)
        s += diff * diff
        j += 1
      }
      if (j == d && s < best) { best = s; bestCid = ci.toLong }
      ci += 1
    }
    new GenericInternalRow(Array[Any](bestCid, best))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode =
    nullSafeCodeGen(ctx, ev, (p, c, dv) => {
      val k = ctx.freshName("k")
      val ci = ctx.freshName("ci")
      val j = ctx.freshName("j")
      val off = ctx.freshName("off")
      val s = ctx.freshName("s")
      val best = ctx.freshName("best")
      val bestCid = ctx.freshName("bestCid")
      val diff = ctx.freshName("diff")
      val row = classOf[GenericInternalRow].getName
      s"""
         |if ($dv <= 0 || $p.numElements() != $dv ||
         |    $c.numElements() == 0 || $c.numElements() % $dv != 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $k = $c.numElements() / $dv;
         |  long $best = Long.MAX_VALUE;
         |  long $bestCid = -1L;
         |  for (int $ci = 0; $ci < $k && !${ev.isNull}; $ci++) {
         |    long $s = 0L;
         |    int $off = $ci * $dv;
         |    int $j = 0;
         |    for (; $j < $dv && $s < $best; $j++) {
         |      if ($p.isNullAt($j) || $c.isNullAt($off + $j)) {
         |        ${ev.isNull} = true; break;
         |      }
         |      long $diff = $p.getLong($j) - $c.getLong($off + $j);
         |      $s += $diff * $diff;
         |    }
         |    if (!${ev.isNull} && $j == $dv && $s < $best) {
         |      $best = $s; $bestCid = (long) $ci;
         |    }
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = new $row(new Object[]{
         |      java.lang.Long.valueOf($bestCid),
         |      java.lang.Long.valueOf($best)});
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): L2ArgMin =
    copy(newFirst, newSecond, newThird)
}
