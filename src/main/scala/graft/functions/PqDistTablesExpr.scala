package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** All `m` probe-side PQ distance TABLES of one vector as a single
  * fused expression with whole-stage codegen — the asymmetric-distance
  * (ADC) companion of [[PqEncodeExpr]]: where the corpus encoder needs
  * each subspace's argmin, the probe keeps the whole nCodes-entry
  * distance array per subspace (ADC looks distances up by corpus code).
  *
  * The composed column form built m separate `array(round(aggregate(
  * zip_with(slice(vec, …), codewordLit, (x,y) ⇒ (x−y)²), 0.0, _+_), 6),
  * …)` columns — m·nCodes interpreted higher-order-function folds
  * (HOFs are CodegenFallback), a fresh `slice` allocation per
  * (subspace, code), and the codebook inlined as literal trees
  * m·nCodes times (~69 KB of plan text parsed/optimized/codegen'd per
  * run even though the probe set is tiny — see
  * plans/r16/q_ann_pq_after.txt). This expression computes the same
  * tables in one loop over a compact codebook reference (the static
  * [[PqRT.tables]] kernel, which `eval` and the generated code both
  * call).
  *
  * NUMERICALLY IDENTICAL to the column form (which the generated SQL
  * oracle replays): per-(subspace, code) distance = the same sequential
  * left-to-right fold of (v[d] − cb[d])² in index order, rounded
  * half-up to 6 decimals via `BigDecimal.valueOf` — the
  * shortest-decimal form Spark's `Round` uses — with NaN/Infinity
  * passing through unrounded exactly like `Round` (and
  * [[PqEncodeExpr]]'s guard). Parity is pinned property-style in
  * SimilarityPlanSpec. Vectors shorter than `dim`, or with a null
  * element, fail loudly.
  *
  * @param codebook row-major nCodes × dim doubles (full vectors; each
  *                 subspace reads its own slice)
  * @return array<array<double>>: element s (1-based via element_at) is
  *         subspace s's nCodes distances in code order
  */
case class PqDistTablesExpr(child: Expression, dim: Int, m: Int,
    nCodes: Int, codebook: Array[Double]) extends UnaryExpression {

  require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
  require(codebook.length == nCodes * dim,
    s"codebook has ${codebook.length} doubles, need ${nCodes * dim}")

  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any =
    PqRT.tables(input.asInstanceOf[ArrayData], codebook, dim, m, nCodes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("pqCodebook", codebook, "double[]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.PqRT.tables($v, $cb, $dim, $m, $nCodes);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqDistTablesExpr {

  /** Column API: the `m` per-subspace distance tables of an
    * array<double> column against a codebook of full vectors. */
  def tables(vec: Column, dim: Int, m: Int,
      codebook: Array[Seq[Double]]): Column =
    ColumnBridge.column(PqDistTablesExpr(ColumnBridge.expression(vec), dim, m,
      codebook.length, PqRT.flatten(codebook, dim)))
}
