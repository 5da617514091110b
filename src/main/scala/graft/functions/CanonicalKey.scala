package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Canonical primary-key byte encoding.
  *
  * Reproduces the reference's key canonicalization semantics
  * (reference: util/ByteArray.java:65-84,159-175,190-229 and
  * record/BaseRecord.java:59-75):
  *
  *  - Int/Long → big-endian bytes with leading 0x00 stripped (all-zero
  *    input keeps a single 0x00), so `Integer 5` and `Long 5` encode
  *    identically (numeric key widening on joins).
  *  - String → UTF-8 bytes; Boolean → one byte 0/1; Binary → as-is.
  *  - Composite keys: fields sorted by field NAME, each encoded value
  *    prefixed with a single length byte (values capped at 255 bytes),
  *    then concatenated.
  *
  * Ordering parity: the reference sorts child documents by these bytes
  * with an unsigned lexicographic comparator
  * (util/ByteArray.java:37,86-89 → Kafka BYTES_LEXICO_COMPARATOR);
  * Spark's BinaryType ordering is also unsigned lexicographic, so
  * `sort_array` over this encoding reproduces reference child order.
  */
object CanonicalKey {

  /** Pure-Scala encoder for one key value (tests + driver-side use). */
  def encodeValue(v: Any): Array[Byte] = v match {
    case null => null
    case i: Int => stripZeroes(java.nio.ByteBuffer.allocate(4).putInt(i).array())
    case l: Long => stripZeroes(java.nio.ByteBuffer.allocate(8).putLong(l).array())
    case s: String => s.getBytes("UTF-8")
    case b: Boolean => Array[Byte](if (b) 1 else 0)
    case b: Array[Byte] => b
    case s: Short => stripZeroes(java.nio.ByteBuffer.allocate(4).putInt(s.toInt).array())
    case b: Byte => stripZeroes(java.nio.ByteBuffer.allocate(4).putInt(b.toInt).array())
    case other => throw new IllegalArgumentException(
      s"cannot canonically encode type ${other.getClass}")
  }

  /** Composite encoding: one length byte + payload per element, in the
    * given order (caller sorts by field name). Single element: no prefix. */
  def encodeComposite(values: Seq[Any]): Array[Byte] =
    if (values.size == 1) encodeValue(values.head)
    else CanonicalKeyRT.composite(values.map { v =>
      val p = encodeValue(v)
      require(p != null, "null element in composite key")
      p
    }.toArray)

  def stripZeroes(bytes: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < bytes.length && bytes(i) == 0) i += 1
    if (i == bytes.length) Array[Byte](0)
    else if (i > 0) java.util.Arrays.copyOfRange(bytes, i, bytes.length)
    else bytes
  }

  /** Column API: canonical PK over columns already sorted by field name. */
  def canonicalPk(cols: Seq[Column]): Column =
    ColumnBridge.column(CanonicalPkExpr(cols.map(ColumnBridge.expression)))

  def canonicalPk(col: Column, cols: Column*): Column = canonicalPk(col +: cols)
}

/** Runtime helpers callable from generated code (one static call per
  * child — no boxing/iterator overhead in the hot path). */
object CanonicalKeyRT {
  def encodeInt(v: Int): Array[Byte] = CanonicalKey.encodeValue(v)
  def encodeLong(v: Long): Array[Byte] = CanonicalKey.encodeValue(v)
  def encodeBool(v: Boolean): Array[Byte] = CanonicalKey.encodeValue(v)
  def encodeUtf8(v: UTF8String): Array[Byte] = v.getBytes
  def composite(parts: Array[Array[Byte]]): Array[Byte] = {
    var size = 0
    var i = 0
    while (i < parts.length) {
      val len = parts(i).length
      if (len > 255) throw new IllegalStateException(
        s"composite key element exceeds 255 bytes: $len")
      size += len + 1; i += 1
    }
    val out = new Array[Byte](size)
    var pos = 0
    i = 0
    while (i < parts.length) {
      out(pos) = parts(i).length.toByte; pos += 1
      System.arraycopy(parts(i), 0, out, pos, parts(i).length)
      pos += parts(i).length; i += 1
    }
    out
  }
}

/** Catalyst expression computing the canonical PK bytes of its children
  * (children must already be in field-name-sorted order for composites).
  * Generates code via [[CanonicalKeyRT]] static calls so whole-stage
  * codegen spans stay unbroken around key encoding.
  */
case class CanonicalPkExpr(children: Seq[Expression]) extends Expression {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val bad = children.filterNot(c => CanonicalPkExpr.supported(c.dataType))
    if (bad.isEmpty) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"canonical_pk unsupported input types: ${bad.map(_.dataType).mkString(", ")}")
  }

  override def eval(input: InternalRow): Any = {
    val n = children.size
    if (n == 1) {
      val v = children.head.eval(input)
      if (v == null) null else CanonicalPkExpr.encode(v, children.head.dataType)
    } else {
      // as the generated code: any null element makes the key null,
      // also when an earlier element is over the 255-byte cap
      val parts = new Array[Array[Byte]](n)
      var i = 0
      while (i < n) {
        val v = children(i).eval(input)
        if (v == null) return null
        parts(i) = CanonicalPkExpr.encode(v, children(i).dataType)
        i += 1
      }
      CanonicalKeyRT.composite(parts)
    }
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val rt = "graft.functions.CanonicalKeyRT"
    def encCall(dt: DataType, v: String): String = dt match {
      case IntegerType | ShortType | ByteType => s"$rt.encodeInt((int)$v)"
      case LongType => s"$rt.encodeLong($v)"
      case BooleanType => s"$rt.encodeBool($v)"
      case StringType => s"$rt.encodeUtf8($v)"
      case BinaryType => v
      case other => throw new IllegalStateException(s"unsupported $other")
    }
    val evals = children.map(_.genCode(ctx))
    val childCode = evals.map(_.code.toString).mkString("\n")
    val anyNull = evals.map(_.isNull.toString).mkString(" || ")
    if (children.size == 1) {
      val e = evals.head
      ev.copy(code = code"""
        |$childCode
        |boolean ${ev.isNull} = ${e.isNull};
        |byte[] ${ev.value} = null;
        |if (!${ev.isNull}) {
        |  ${ev.value} = ${encCall(children.head.dataType, e.value.toString)};
        |}""".stripMargin)
    } else {
      val parts = ctx.freshName("parts")
      val fills = children.zip(evals).zipWithIndex.map { case ((c, e), i) =>
        s"$parts[$i] = ${encCall(c.dataType, e.value.toString)};"
      }.mkString("\n")
      ev.copy(code = code"""
        |$childCode
        |boolean ${ev.isNull} = $anyNull;
        |byte[] ${ev.value} = null;
        |if (!${ev.isNull}) {
        |  byte[][] $parts = new byte[${children.size}][];
        |  $fills
        |  ${ev.value} = $rt.composite($parts);
        |}""".stripMargin)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object CanonicalPkExpr {
  def supported(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | ShortType | ByteType | StringType |
         BooleanType | BinaryType => true
    case _ => false
  }

  /** Encode a Catalyst internal value of the given type. */
  def encode(v: Any, dt: DataType): Array[Byte] = dt match {
    case IntegerType => CanonicalKey.encodeValue(v.asInstanceOf[Int])
    case LongType => CanonicalKey.encodeValue(v.asInstanceOf[Long])
    case ShortType => CanonicalKey.encodeValue(v.asInstanceOf[Short])
    case ByteType => CanonicalKey.encodeValue(v.asInstanceOf[Byte])
    case StringType => v.asInstanceOf[UTF8String].getBytes
    case BooleanType => CanonicalKey.encodeValue(v.asInstanceOf[Boolean])
    case BinaryType => v.asInstanceOf[Array[Byte]]
    case other => throw new IllegalArgumentException(s"unsupported type $other")
  }
}
