package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import graft.functions._

/** The custom array expressions give the same result interpreted as
  * through their generated code. The IVM engine and Spark's folding of
  * local data evaluate them interpreted; whole-stage codegen runs the
  * generated code. Each row of the table is one expression over edge
  * inputs; both paths must return the same value, bit for bit, or fail
  * with the same exception.
  */
class KernelParitySpec extends AnyFunSuite {

  private val ints = ArrayType(IntegerType, containsNull = true)
  private val longs = ArrayType(LongType, containsNull = true)
  private val doubles = ArrayType(DoubleType, containsNull = true)

  private def ref(i: Int, dt: DataType) = BoundReference(i, dt, nullable = true)
  private def arr(xs: Any*): ArrayData = new GenericArrayData(xs.toArray)

  private case class Failed(what: String)

  /** A Catalyst value in comparable form: arrays as Seqs, doubles by
    * their exact decimal image (so -0.0 and 0.0 differ), failures as
    * their class and message. */
  private def outcome(f: => Any, dt: DataType): Any = {
    def norm(v: Any, dt: DataType): Any = (v, dt) match {
      case (null, _) => null
      case (a: ArrayData, ArrayType(et, _)) =>
        (0 until a.numElements()).map(i =>
          if (a.isNullAt(i)) null else norm(a.get(i, et), et))
      case (d: Double, DoubleType) => java.lang.Double.toString(d)
      case (x, _) => x
    }
    try norm(f, dt) catch {
      case e: Exception => Failed(s"${e.getClass.getName}: ${e.getMessage}")
    }
  }

  /** (interpreted, generated) outcome of `expr` on each row. The rows
    * enter as UnsafeRows, the shape a scan hands the expressions. */
  private def both(expr: Expression, types: Seq[DataType],
      rows: Seq[Seq[Any]]): Seq[(Seq[Any], Any, Any)] = {
    val toUnsafe = UnsafeProjection.create(types.toArray)
    val projection = GenerateUnsafeProjection.generate(Seq(expr))
    rows.map { values =>
      val row = toUnsafe(InternalRow.fromSeq(values)).copy()
      (values,
        outcome(expr.eval(row), expr.dataType),
        outcome(projection(row).get(0, expr.dataType), expr.dataType))
    }
  }

  /** One expression over a table of input rows; `failing` lists the
    * rows that must fail loudly (an IllegalArgumentException) on both
    * paths. */
  private case class Kernel(expr: Expression, types: Seq[DataType],
      rows: Seq[Seq[Any]], failing: Seq[Seq[Any]] = Nil)

  private def show(values: Seq[Any]): String = values.map {
    case a: GenericArrayData => a.array.mkString("[", ", ", "]")
    case v => String.valueOf(v)
  }.mkString("(", ", ", ")")

  private val nan = Double.NaN
  private val inf = Double.PositiveInfinity
  // 5e-7 sits on the half-up boundary of 6-decimal rounding; its
  // neighbours one ulp away fall either side of it
  private val half = 5e-7
  private val halfUp = Math.nextUp(half)
  private val halfDown = Math.nextDown(half)
  private val rootHalf = Math.sqrt(half) // squares to about 5e-7

  private val kernels: Seq[(String, Kernel)] = Seq(
    "BitmapBuildExpr" -> Kernel(BitmapBuildExpr(ref(0, ints), 2), Seq(ints), Seq(
      Seq(arr(0, 1, 63, 64, 127)),
      // positions at or past 64·nWords, and negative ones, are ignored
      Seq(arr(128, 129, 1000, Int.MaxValue)),
      Seq(arr(-1, -64, Int.MinValue, 5)),
      Seq(arr(5, 5, 5)), Seq(arr()), Seq(null))),
    "BitmapBuildExpr (one word)" -> Kernel(BitmapBuildExpr(ref(0, ints), 1),
      Seq(ints), Seq(Seq(arr(0, 63, 64, 65)), Seq(arr()))),
    "BitmapAndCountExpr" -> Kernel(BitmapAndCountExpr(ref(0, longs), ref(1, longs)),
      Seq(longs, longs), Seq(
        Seq(arr(-1L, -1L), arr(-1L, 0L)),
        Seq(arr(Long.MinValue), arr(Long.MinValue, 7L)),
        Seq(arr(0x5555555555555555L), arr(0xAAAAAAAAAAAAAAAAL)),
        Seq(arr(12345L, 678L), arr(12345L, 678L)),
        Seq(arr(), arr(1L)), Seq(arr(), arr()),
        Seq(null, arr(1L)), Seq(arr(1L), null))),
    "SortedIntersectCountExpr" -> Kernel(
      SortedIntersectCountExpr(ref(0, ints), ref(1, ints)), Seq(ints, ints), Seq(
        Seq(arr(1, 2, 3), arr(1, 2, 3)), // identical
        Seq(arr(1, 3, 5), arr(2, 4, 6)), // disjoint, interleaved
        Seq(arr(1, 2), arr(7, 8, 9)), // disjoint, one side first
        Seq(arr(-5, -1, 0, 7), arr(-1, 7, 9)),
        Seq(arr(Int.MinValue, Int.MaxValue), arr(Int.MinValue, 0, Int.MaxValue)),
        Seq(arr(1, 1, 2), arr(1, 1, 1)),
        Seq(arr(), arr(1)), Seq(arr(), arr()), Seq(null, arr(1)))),
    "CosineSimExpr" -> Kernel(CosineSimExpr(ref(0, doubles), ref(1, doubles)),
      Seq(doubles, doubles), Seq(
        Seq(arr(1.0, 2.0, 3.0), arr(4.0, 5.0, 6.0)),
        Seq(arr(-1.0, 0.0), arr(1.0, 0.0)),
        Seq(arr(1.0), arr(1.0, 2.0)), // the shorter length counts
        Seq(arr(), arr()), Seq(arr(0.0, 0.0), arr(0.0, 0.0)),
        Seq(arr(nan, 1.0), arr(1.0, 1.0)),
        Seq(arr(inf, 1.0), arr(1.0, 1.0)), Seq(arr(-inf), arr(inf)),
        Seq(arr(1e200, 1e200), arr(1e200, 1e200)), // norms overflow
        Seq(arr(1e-200), arr(1e-200)), // norms underflow
        Seq(arr(rootHalf, halfUp), arr(halfDown, -rootHalf)),
        Seq(null, arr(1.0)))),
    // one plane over one dimension: the key bit is round(x, 6) >= 0
    "LshBandKeysExpr (boundary)" -> Kernel(
      LshBandKeysExpr(ref(0, doubles), 1, 1, 1, Array[Byte](1)), Seq(doubles),
      Seq(half, -half, halfUp, -halfUp, halfDown, -halfDown, 1e-6, -1e-6,
        Math.nextUp(1e-6), Math.nextDown(-1e-6), 1e-7, -1e-7, 0.0, -0.0,
        nan, inf, -inf, 1e300).map(x => Seq(arr(x))) ++
        Seq(Seq(arr(-half, 1.0)), Seq(null)),
      failing = Seq(Seq(arr()), Seq(arr(null)))),
    "LshBandKeysExpr" -> Kernel(
      LshBandKeysExpr(ref(0, doubles), 3, 2, 2,
        Array[Byte](1, -1, 1, -1, -1, 1, 1, 1, -1, -1, 1, -1)),
      Seq(doubles), Seq(
        Seq(arr(1.0, 2.0, 3.0)), Seq(arr(1e-6, 1e-6, 1e-6)),
        Seq(arr(half, -1e-6, half)), Seq(arr(halfUp, 0.0, -halfDown)),
        Seq(arr(nan, 1.0, 1.0)), Seq(arr(inf, -inf, 0.0)),
        Seq(arr(inf, 1.0, 1.0)), Seq(arr(1.0, 2.0, 3.0, 4.0)),
        // elements past `dim` are not read, null or not
        Seq(arr(1.0, 2.0, 3.0, null))),
      // too short, and null elements: no band key is defined
      failing = Seq(Seq(arr()), Seq(arr(1.0, 2.0)),
        Seq(arr(1.0, null, 3.0)), Seq(arr(null, 2.0, 3.0)))),
    // two one-dimensional subspaces: each distance is one square
    "PqEncodeExpr" -> Kernel(
      PqEncodeExpr(ref(0, doubles), 2, 2, 3,
        Array(0.0, 0.0, 0.0, 0.0, 1e-3, 1.0)), Seq(doubles), pqRows,
      failing = pqFailing),
    // one two-dimensional subspace: distances accumulate in index order
    "PqEncodeExpr (accumulated)" -> Kernel(
      PqEncodeExpr(ref(0, doubles), 2, 1, 2, Array(0.0, 0.0, 1e-3, 1e-3)),
      Seq(doubles), pqRows, failing = pqFailing),
    "PqDistTablesExpr" -> Kernel(
      PqDistTablesExpr(ref(0, doubles), 2, 2, 3,
        Array(0.0, 0.0, 0.0, 0.0, 1e-3, 1.0)), Seq(doubles), pqRows,
      failing = pqFailing),
    "PqDistTablesExpr (accumulated)" -> Kernel(
      PqDistTablesExpr(ref(0, doubles), 2, 1, 2, Array(0.0, 0.0, 1e-3, 1e-3)),
      Seq(doubles), pqRows, failing = pqFailing))

  private def pqRows: Seq[Seq[Any]] = Seq(
    Seq(arr(0.0, 0.0)), Seq(arr(rootHalf, 1.0)), Seq(arr(-rootHalf, rootHalf)),
    // distances near the half-up boundary, and codes that tie once rounded
    Seq(arr(1e-3 - rootHalf, 1e-3)), Seq(arr(Math.sqrt(1.5e-6), 0.5)),
    Seq(arr(nan, 0.0)), Seq(arr(inf, 0.0)), Seq(arr(-inf, 1.0)),
    Seq(arr(1e200, 1e200)), // squares overflow to infinity
    Seq(arr(1.0, 2.0, 3.0)), Seq(null))

  // too short, and null elements: no distance is defined
  private def pqFailing: Seq[Seq[Any]] = Seq(
    Seq(arr()), Seq(arr(1.0)), Seq(arr(null, 1.0)), Seq(arr(1.0, null)))

  kernels.foreach { case (name, k) =>
    test(s"$name: interpreted eval equals the generated code") {
      both(k.expr, k.types, k.rows ++ k.failing).foreach {
        case (values, interpreted, generated) =>
          assert(interpreted == generated, show(values))
          val failed = interpreted.isInstanceOf[Failed]
          assert(failed == k.failing.contains(values), s"${show(values)}: $interpreted")
          if (failed) assert(interpreted.asInstanceOf[Failed].what
            .startsWith("java.lang.IllegalArgumentException"), show(values))
      }
    }
  }
}
