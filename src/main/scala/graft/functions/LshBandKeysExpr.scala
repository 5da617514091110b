package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** All LSH band keys of one vector as a single fused Catalyst
  * expression with whole-stage codegen — the signature stage of
  * [[graft.operators.Similarity.cosinePairsBanded]].
  *
  * The composed column form (`bands × rowsPerBand` separate
  * `aggregate(zip_with(vec, plane, _*_), 0.0, _+_)` dot products)
  * evaluates every hyperplane through interpreted higher-order-function
  * lambdas, allocating a fresh 64-element array per plane per row — at
  * the selective 8×16 tier that is 128 allocations/row and dominated
  * the r14 sweep (per-row signature cost, not candidates). This
  * expression computes the same keys in one tight loop (the static
  * [[LshBandKeysRT.keys]] kernel, which `eval` and the generated code
  * both call): no lambda dispatch, one pass over the sign matrix.
  *
  * NUMERICALLY IDENTICAL to the column form, which the generated-SQL
  * oracles replay: the per-plane accumulation is the same sequential
  * left-to-right fold of `vec(d) * ±1.0` (multiplication by ±1.0 is
  * exact in IEEE 754, so adding `±vec(d)` is bit-equal), and the
  * on-a-plane convention is the same `round(dot, 6) >= 0` — the
  * half-up decimal rounding is reproduced exactly, via
  * `BigDecimal.valueOf` (the shortest-decimal form Spark's Round
  * uses — NOT the exact-binary `new BigDecimal`, which lands 5e-7 on
  * the other side of the half-up boundary) on the rare |dot| ≤ 1e-6
  * boundary and a plain sign test elsewhere
  * (for |dot| > 1e-6 the rounded value provably keeps the sign).
  * Parity with the column form is pinned property-style in
  * SimilarityPlanSpec.
  *
  * Key layout (must match [[graft.operators.Similarity.lshBandKeys]]
  * and the SQL oracle generator): band m uses planes
  * m·rowsPerBand … m·rowsPerBand+rowsPerBand−1, key =
  * m·2^rowsPerBand + Σ_j bit_j·2^j. The sign matrix is derived from
  * [[graft.operators.Similarity.planeSign]] at construction and rides
  * along as a compact byte array reference.
  *
  * Vectors shorter than `dim`, or with a null element among the first
  * `dim`, fail loudly (the corpus contract is fixed-dimension
  * embeddings; the HOF form would silently zero the affected bits
  * instead, which no shipped data path relies on).
  */
case class LshBandKeysExpr(child: Expression, dim: Int, bands: Int,
    rowsPerBand: Int, signs: Array[Byte]) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any =
    LshBandKeysRT.keys(input.asInstanceOf[ArrayData], signs, dim, bands, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = ctx.addReferenceObj("lshSigns", signs, "byte[]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.LshBandKeysRT.keys($v, $s, $dim, $bands, $rowsPerBand);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The band-key kernel, one static call from `eval` and from the
  * generated code. */
object LshBandKeysRT {

  private def planeNonNeg(dot: Double): Boolean =
    if (dot > 1e-6) true
    else if (dot < -1e-6) false
    // NaN fails BOTH sign tests and would reach BigDecimal.valueOf
    // (NumberFormatException). The composed form's Spark round()
    // passes NaN through and Spark SQL orders NaN ABOVE every other
    // double, so `round(NaN, 6) >= 0` is TRUE — parity demands the
    // bit set. (±Infinity never reaches here: it decides at the sign
    // tests, same as the composed form's comparison.)
    else if (java.lang.Double.isNaN(dot)) true
    // BigDecimal.valueOf (the double's SHORTEST-DECIMAL form — what
    // Spark's Round uses), NOT new BigDecimal (the exact binary
    // expansion): for 5e-7 the two differ on which side of the
    // half-up boundary the value sits, caught by the parity probe in
    // SimilarityPlanSpec
    else java.math.BigDecimal.valueOf(dot)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue() >= 0

  def keys(v: ArrayData, signs: Array[Byte], dim: Int, bands: Int,
      rowsPerBand: Int): GenericArrayData = {
    PqRT.check("LshBandKeysExpr", v, dim)
    val keys = new Array[Long](bands)
    var m = 0
    while (m < bands) {
      var bits = 0L
      var j = 0
      while (j < rowsPerBand) {
        val base = (m * rowsPerBand + j) * dim
        var acc = 0.0
        var d = 0
        while (d < dim) {
          val x = v.getDouble(d)
          acc += (if (signs(base + d) > 0) x else -x)
          d += 1
        }
        if (planeNonNeg(acc)) bits |= (1L << j)
        j += 1
      }
      keys(m) = m.toLong * (1L << rowsPerBand) + bits
      m += 1
    }
    new GenericArrayData(keys)
  }
}

object LshBandKeysExpr {

  /** Column API: the `bands` LSH band keys of an array<double> column,
    * with the sign matrix built from `planeSign`. */
  def bandKeys(vec: Column, dim: Int, bands: Int, rowsPerBand: Int,
      planeSign: (Int, Int) => Double): Column = {
    val signs = new Array[Byte](bands * rowsPerBand * dim)
    var p = 0
    while (p < bands * rowsPerBand) {
      var d = 0
      while (d < dim) {
        signs(p * dim + d) = if (planeSign(p, d) > 0) 1 else -1
        d += 1
      }
      p += 1
    }
    ColumnBridge.column(LshBandKeysExpr(
      ColumnBridge.expression(vec), dim, bands, rowsPerBand, signs))
  }
}
