package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** |A ∩ B| of two SORTED `array<int>` columns by linear merge — the
  * set-intersection payload for dense corpora whose element universe
  * is too large for fixed-width bitmaps ([[BitmapExpr]]).
  *
  * Why this exists (r14 sweep catch at sf3): the containment scan's
  * dense family represented per-document gram sets as U-bit bitmaps,
  * feasible only while U ≤ ~2¹⁵ (512 words/doc); past the cap the
  * operator fell through to prefix filtering, which detonates on dense
  * corpora (no gram is rare, candidates ≈ all pairs MATERIALIZED).
  * Sorted id arrays cost 4·|set| bytes/doc — for |set| ≪ U they are
  * far SMALLER than the bitmap (150 grams vs 52k-bit maps at the sf3
  * corpus: ~600 B vs 6.5 KB) — and the merge intersect is
  * O(|a| + |b|) per pair, comparable to the popcount loop. Both sides
  * must be sorted ascending (the build site uses `sort_array`);
  * duplicate elements within one side count once only if the inputs
  * are duplicate-free (the build site aggregates DISTINCT gram ids).
  * Participates in whole-stage codegen.
  */
case class SortedIntersectCountExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectRT.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SortedIntersectRT.count($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The merge kernel, one static call from `eval` and from the generated
  * code. */
object SortedIntersectRT {
  def count(x: ArrayData, y: ArrayData): Long = {
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < nx && j < ny) {
      val xi = x.getInt(i); val yj = y.getInt(j)
      if (xi == yj) { c += 1L; i += 1; j += 1 }
      else if (xi < yj) i += 1
      else j += 1
    }
    c
  }
}

object SortedIntersectExpr {
  /** Column API: |A ∩ B| of two sorted, duplicate-free `array<int>`s. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    ColumnBridge.column(SortedIntersectCountExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
