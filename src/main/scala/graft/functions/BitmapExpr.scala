package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Fixed-width bitset columns for DENSE set universes.
  *
  * When the distinct-element universe of a set-similarity problem is
  * small (a synthetic corpus's few thousand distinct shingles, a
  * bounded category vocabulary), the per-document set is better
  * represented as a bitmap over the global dictionary than as an
  * exploded (id, element) table: intersection size becomes
  * popcount(AND) over a few dozen words instead of a join — and a
  * whole table of bitmaps is small enough to BROADCAST, turning the
  * verify stage of a similarity join into a map-side scan with zero
  * shuffle. Both expressions participate in whole-stage codegen.
  */
object BitmapExpr {

  /** Column API: build an `array<long>` bitmap of `nWords` words from
    * an `array<int>` of bit positions (positions ≥ 64·nWords are
    * ignored — caller sizes nWords from the dictionary). */
  def bitmapBuild(gids: Column, nWords: Int): Column =
    ColumnBridge.column(BitmapBuildExpr(ColumnBridge.expression(gids), nWords))

  /** Column API: popcount of the AND of two bitmaps (= |A ∩ B|). */
  def bitmapAndCount(a: Column, b: Column): Column =
    ColumnBridge.column(BitmapAndCountExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}

/** The bitmap kernels, one static call each from `eval` and from the
  * generated code. */
object BitmapRT {

  /** Bits `gids` of an `nWords`-word bitset; positions outside it are
    * ignored. */
  def build(gids: ArrayData, nWords: Int): UnsafeArrayData = {
    val w = new Array[Long](nWords)
    var i = 0
    val n = gids.numElements()
    while (i < n) {
      val g = gids.getInt(i)
      if (g >= 0 && (g >>> 6) < nWords) w(g >>> 6) |= 1L << (g & 63)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(w)
  }

  /** popcount(x AND y) over the shorter bitmap's words. */
  def andCount(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var c = 0L
    var i = 0
    while (i < n) {
      c += java.lang.Long.bitCount(x.getLong(i) & y.getLong(i))
      i += 1
    }
    c
  }
}

/** `array<int>` bit positions → `array<long>` bitset of `nWords` words. */
case class BitmapBuildExpr(child: Expression, nWords: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(in: Any): Any =
    BitmapRT.build(in.asInstanceOf[ArrayData], nWords)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.functions.BitmapRT.build($in, $nWords);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** popcount(a AND b) over two `array<long>` bitmaps → Long. */
case class BitmapAndCountExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable

  override protected def nullSafeEval(a: Any, b: Any): Any =
    BitmapRT.andCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.BitmapRT.andCount($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
