package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** All `m` product-quantization codes of one vector as a single fused
  * Catalyst expression with whole-stage codegen — the corpus-encoding
  * stage of [[graft.operators.Similarity.pqTopK]].
  *
  * The composed column form built, per subspace, an array of `nCodes`
  * `round(aggregate(zip_with(slice(vec, …), codewordLit, (x,y) ⇒
  * (x−y)²), 0.0, _+_), 6)` distances and took
  * `array_position(darr, array_min(darr))` — every distance evaluated
  * through interpreted higher-order-function lambdas (HOFs are
  * CodegenFallback), a fresh `slice` allocation per (subspace, code),
  * and the whole codebook inlined as literal trees m·nCodes times
  * (the before-plan was 206 KB of expression text; see
  * plans/r16/q_ann_pq_before.txt). This expression computes the same
  * codes in one loop over a compact codebook reference (the static
  * [[PqRT.codes]] kernel, which `eval` and the generated code both
  * call): no lambda dispatch, plan text collapses to one node.
  *
  * NUMERICALLY IDENTICAL to the column form, which the generated SQL
  * oracle replays:
  *  - per-(subspace, code) distance = the same sequential left-to-right
  *    fold of (v[d] − cb[d])² in index order, rounded half-up to 6
  *    decimals via `BigDecimal.valueOf` — the shortest-decimal form
  *    Spark's `Round` uses (see the parity note on
  *    [[LshBandKeysExpr]]);
  *  - code = the 1-based FIRST index of the minimum distance, compared
  *    under Spark's double ordering (`java.lang.Double.compare`, NaN
  *    greatest), exactly `array_position(d, array_min(d))`. Distances
  *    are sums of squares, so −0.0 can never arise and the first-min
  *    scan equals the equality-based position lookup.
  *
  * Parity with the column form is pinned property-style in
  * SimilarityPlanSpec. Vectors shorter than `dim`, or with a null
  * element, fail loudly (the corpus contract is fixed-dimension
  * embeddings).
  *
  * @param codebook row-major nCodes × dim doubles (full vectors; each
  *                 subspace reads its own slice)
  */
case class PqEncodeExpr(child: Expression, dim: Int, m: Int,
    nCodes: Int, codebook: Array[Double]) extends UnaryExpression {

  require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
  require(codebook.length == nCodes * dim,
    s"codebook has ${codebook.length} doubles, need ${nCodes * dim}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any =
    PqRT.codes(input.asInstanceOf[ArrayData], codebook, dim, m, nCodes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("pqCodebook", codebook, "double[]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.PqRT.codes($v, $cb, $dim, $m, $nCodes);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqEncodeExpr {

  /** Column API: the `m` 1-based PQ codes of an array<double> column
    * against a codebook of full vectors (one per code). */
  def codes(vec: Column, dim: Int, m: Int,
      codebook: Array[Seq[Double]]): Column =
    ColumnBridge.column(PqEncodeExpr(ColumnBridge.expression(vec), dim, m,
      codebook.length, PqRT.flatten(codebook, dim)))
}

/** The PQ kernels, one static call each from `eval` and from the
  * generated code. [[PqEncodeExpr]]'s codes and [[PqDistTablesExpr]]'s
  * tables share one distance fold and its rounding. A codebook is
  * row-major nCodes × dim doubles (full vectors; each subspace reads
  * its own slice).
  */
object PqRT {

  /** Vectors shorter than `dim`, or with a null element, have no
    * distance (and no LSH band key, [[LshBandKeysRT]]): they fail
    * loudly. */
  private[functions] def check(name: String, v: ArrayData, dim: Int): Unit = {
    if (v.numElements() < dim) throw new IllegalArgumentException(
      s"$name: vector has ${v.numElements()} elements, need $dim")
    var d = 0
    while (d < dim) {
      if (v.isNullAt(d)) throw new IllegalArgumentException(
        s"$name: vector element $d is null")
      d += 1
    }
  }

  /** Subspace `s`'s distance to code `c`: the sequential fold of
    * (v[d] − cb[d])² over its `w` dimensions, rounded half-up to 6
    * decimals. NaN/Infinity skip the BigDecimal rounding (valueOf THROWS
    * on non-finite doubles, where Spark's Round passes them through
    * unchanged) — same guard as [[LshBandKeysRT]]. */
  private def dist(v: ArrayData, codebook: Array[Double], dim: Int, w: Int,
      s: Int, c: Int): Double = {
    var acc = 0.0
    var i = 0
    while (i < w) {
      val d = v.getDouble(s * w + i) - codebook(c * dim + s * w + i)
      acc += d * d
      i += 1
    }
    if (java.lang.Double.isNaN(acc) || java.lang.Double.isInfinite(acc)) acc
    else java.math.BigDecimal.valueOf(acc)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  /** Per subspace, the 1-based first index of the minimum distance.
    * NaN compares GREATEST under Double.compare, so a NaN distance never
    * beats any finite one. */
  def codes(v: ArrayData, codebook: Array[Double], dim: Int, m: Int,
      nCodes: Int): GenericArrayData = {
    check("PqEncodeExpr", v, dim)
    val w = dim / m
    val codes = new Array[Long](m)
    var s = 0
    while (s < m) {
      var bestIdx = 0
      var best = 0.0
      var c = 0
      while (c < nCodes) {
        val r = dist(v, codebook, dim, w, s, c)
        if (c == 0 || java.lang.Double.compare(r, best) < 0) {
          best = r; bestIdx = c
        }
        c += 1
      }
      codes(s) = bestIdx + 1L // array_position is 1-based
      s += 1
    }
    new GenericArrayData(codes)
  }

  /** Per subspace, the nCodes distances in code order. */
  def tables(v: ArrayData, codebook: Array[Double], dim: Int, m: Int,
      nCodes: Int): GenericArrayData = {
    check("PqDistTablesExpr", v, dim)
    val w = dim / m
    val tables = new Array[Any](m)
    var s = 0
    while (s < m) {
      val dists = new Array[Double](nCodes)
      var c = 0
      while (c < nCodes) {
        dists(c) = dist(v, codebook, dim, w, s, c)
        c += 1
      }
      tables(s) = new GenericArrayData(dists)
      s += 1
    }
    new GenericArrayData(tables)
  }

  /** A codebook of full vectors, one per code, as the kernels read it. */
  def flatten(codebook: Array[Seq[Double]], dim: Int): Array[Double] = {
    val flat = new Array[Double](codebook.length * dim)
    var c = 0
    while (c < codebook.length) {
      require(codebook(c).length == dim,
        s"codebook vector $c has ${codebook(c).length} dims, need $dim")
      var d = 0
      while (d < dim) { flat(c * dim + d) = codebook(c)(d); d += 1 }
      c += 1
    }
    flat
  }
}
