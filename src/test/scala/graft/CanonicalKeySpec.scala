package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.CanonicalKey._

/** Encoding parity with the reference's key canonicalization
  * (util/ByteArray.java:65-84,159-229; record/BaseRecord.java:59-75).
  */
class CanonicalKeySpec extends AnyFunSuite {

  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  test("int and long with equal value encode identically (key widening)") {
    val rnd = new java.util.Random(42)
    (0 until 1000).foreach { _ =>
      val v = rnd.nextInt(Int.MaxValue)
      assert(encodeValue(v).sameElements(encodeValue(v.toLong)), s"widening failed for $v")
    }
  }

  test("leading zero bytes stripped; zero encodes as single 0x00") {
    assert(encodeValue(0).sameElements(bytes(0)))
    assert(encodeValue(0L).sameElements(bytes(0)))
    assert(encodeValue(5).sameElements(bytes(5)))
    assert(encodeValue(256).sameElements(bytes(1, 0)))
    assert(encodeValue(0x01020304).sameElements(bytes(1, 2, 3, 4)))
  }

  test("negative int keeps sign bytes (4 vs 8 for long — reference parity)") {
    assert(encodeValue(-1).sameElements(bytes(0xFF, 0xFF, 0xFF, 0xFF)))
    assert(encodeValue(-1L).length == 8)
  }

  test("string utf-8, boolean single byte") {
    assert(encodeValue("ab").sameElements("ab".getBytes("UTF-8")))
    assert(encodeValue(true).sameElements(bytes(1)))
    assert(encodeValue(false).sameElements(bytes(0)))
  }

  test("composite: single length byte + payload per element, in order") {
    // {playlist_id: 4235, user_tag_id: 7234} name-sorted
    val enc = encodeComposite(Seq(4235L, 7234L))
    assert(enc.sameElements(bytes(2, 0x10, 0x8B, 2, 0x1C, 0x42)))
    // a null element has no encoding; an element over 255 bytes no length byte
    intercept[IllegalArgumentException](encodeComposite(Seq(4235L, null)))
    intercept[IllegalStateException](encodeComposite(Seq("x" * 256, 1L)))
  }

  test("unsigned lexicographic comparator parity on random pairs") {
    // Reference sorts by Bytes.BYTES_LEXICO_COMPARATOR (unsigned byte,
    // then length); verify our chosen ordering model agrees with a
    // direct reimplementation used by Spark's BinaryType ordering.
    def cmp(a: Array[Byte], b: Array[Byte]): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val d = (a(i) & 0xFF) - (b(i) & 0xFF)
        if (d != 0) return d
        i += 1
      }
      a.length - b.length
    }
    // e.g. 255 (0xFF) sorts AFTER 256 (0x01 0x00) in canonical order —
    // byte order, not numeric order, matching the reference TreeMap.
    assert(cmp(encodeValue(255), encodeValue(256)) > 0)
    assert(cmp(encodeValue(1), encodeValue(2)) < 0)
    // positive values below 128 keep numeric order within equal length
    val rnd = new java.util.Random(7)
    (0 until 1000).foreach { _ =>
      val a = rnd.nextInt(127) + 1; val b = rnd.nextInt(127) + 1
      assert(Integer.signum(cmp(encodeValue(a), encodeValue(b))) ==
        Integer.signum(Integer.compare(a, b)))
    }
  }

  test("CanonicalPkExpr: interpreted eval equals the generated code") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.CanonicalPkExpr

    // the IVM engine evaluates keys interpreted, batch Denormalize
    // through the generated code: both must give the same bytes, the
    // same nulls and the same failure
    def both(types: Seq[DataType], values: Seq[Any]): (Any, Any) = {
      val expr = CanonicalPkExpr(types.zipWithIndex.map { case (t, i) =>
        BoundReference(i, t, nullable = true)
      })
      val row = InternalRow.fromSeq(values)
      def attempt(f: => Any): Any =
        try f catch { case e: IllegalStateException => e.getMessage }
      val interpreted = attempt(Option(expr.eval(row))
        .map(_.asInstanceOf[Array[Byte]].toSeq))
      val projection = GenerateUnsafeProjection.generate(Seq(expr))
      val generated = attempt {
        val out = projection(row)
        if (out.isNullAt(0)) None else Some(out.getBinary(0).toSeq)
      }
      (interpreted, generated)
    }
    val long = UTF8String.fromString("x" * 300)
    val cases: Seq[(Seq[DataType], Seq[Any])] = Seq(
      Seq(IntegerType) -> Seq(0), Seq(IntegerType) -> Seq(-1),
      Seq(LongType) -> Seq(4235L), Seq(LongType) -> Seq(null),
      Seq(ShortType) -> Seq((-2).toShort), Seq(ByteType) -> Seq(7.toByte),
      Seq(StringType) -> Seq(UTF8String.fromString("ab")),
      Seq(BooleanType) -> Seq(true), Seq(BinaryType) -> Seq(Array[Byte](0, 1)),
      Seq(StringType) -> Seq(long),
      Seq(LongType, LongType) -> Seq(4235L, 7234L),
      Seq(IntegerType, StringType, BinaryType) ->
        Seq(256, UTF8String.fromString("k"), Array[Byte](9)),
      Seq(LongType, StringType) -> Seq(1L, null),
      Seq(LongType, StringType) -> Seq(null, UTF8String.fromString("k")),
      Seq(StringType, LongType) -> Seq(long, 1L),
      Seq(StringType, LongType) -> Seq(long, null),
      Seq(LongType, StringType) -> Seq(null, long))
    cases.foreach { case (types, values) =>
      val (interpreted, generated) = both(types, values)
      assert(interpreted == generated, s"$types $values")
    }
    // the composite cap fails, and the single-element path has none
    assert(both(Seq(StringType, LongType), Seq(long, 1L))._1 ==
      "composite key element exceeds 255 bytes: 300")
    assert(both(Seq(StringType), Seq(long))._1 == Some(long.getBytes.toSeq))
    assert(both(Seq(LongType, LongType), Seq(4235L, 7234L))._1 ==
      Some(encodeComposite(Seq(4235L, 7234L)).toSeq))
  }
}
