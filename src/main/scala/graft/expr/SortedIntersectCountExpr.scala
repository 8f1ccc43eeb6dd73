package graft.expr

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Intersection COUNT of two SORTED `array<long>` columns by two-pointer
  * merge — the verify kernel of the exact set-similarity joins
  * ([[graft.functions.DedupFunctions.jaccardJoinExact]] and the capped /
  * summary modes riding it).
  *
  * The composable form, `size(array_intersect(a, b))`, builds a hash set
  * over one side and materializes the intersection ARRAY per pair only to
  * take its length — measured ~5 µs per candidate pair on q115's int-rank
  * currency at sf1 (SCALE.md q115 attribution: 3.2M candidates, 9.6 s in the verify
  * stage). The joins only ever need the COUNT, and the rank arrays are
  * sorted by construction (sort_array in setsInt), so a primitive
  * two-pointer walk — no allocation, no hashing — does the same work in
  * O(|a|+|b|) comparisons inside whole-stage codegen.
  *
  * CONTRACT: both arrays must be sorted ascending (duplicates allowed —
  * counted like array_intersect counts distinct matches only if inputs
  * are distinct; the callers feed array_distinct'd rank sets). Unsorted
  * input silently undercounts, so this stays an internal expression
  * behind [[NativeFunctions.sorted_intersect_count]] for callers that
  * construct sorted sets. Null if either side is null (matches
  * size(array_intersect) over null input, which yields null).
  * Null ELEMENTS are not expected (ranks are non-null by construction);
  * the loop treats them as 0 via ArrayData.getLong semantics.
  */
case class SortedIntersectCountExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_count"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sorted_intersect_count needs array<bigint> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (nx, ny) = (x.numElements(), y.numElements())
    // contract guard on the INTERPRETED path only — the specs drive this
    // twin directly, so a future caller feeding unsorted arrays fails loud
    // instead of silently undercounting; `require`, not `assert`, so the
    // guard survives -Xdisable-assertions. The codegen twin (the hot path)
    // stays branch-free; interpreted fallback pays one scan per array.
    var k = 1
    while (k < nx) {
      require(x.getLong(k - 1) <= x.getLong(k),
        "sorted_intersect_count: left array violates the sorted-ascending contract")
      k += 1
    }
    k = 1
    while (k < ny) {
      require(y.getLong(k - 1) <= y.getLong(k),
        "sorted_intersect_count: right array violates the sorted-ascending contract")
      k += 1
    }
    var i = 0; var j = 0; var c = 0
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $nx = $x.numElements();
         |int $ny = $y.numElements();
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $x.getLong($i);
         |  long $yv = $y.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; }
         |  else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
