package graft.connectors

import org.scalatest.funsuite.AnyFunSuite
import graft.connectors.pgwire.{PgBinary, PgWireException}

/** Byte-exact offline verification of the PostgreSQL binary wire formats
  * ([[PgBinary]]) — framing and value codecs are pure byte math, so the
  * live spec only has to pin that a real server accepts/produces the
  * same bytes. */
class PgBinarySpec extends AnyFunSuite {

  test("COPY binary header is the documented 19 bytes") {
    val h = PgBinary.copyHeader
    assert(h.length == 19)
    // signature: "PGCOPY\n" 0xFF "\r\n" 0x00
    assert(h.take(11).toSeq == Seq[Byte]('P', 'G', 'C', 'O', 'P', 'Y', '\n',
      0xff.toByte, '\r', '\n', 0))
    // flags = 0, header extension length = 0
    assert(h.drop(11).toSeq == Seq.fill(8)(0.toByte))
  }

  test("COPY trailer is int16 -1") {
    assert(PgBinary.copyTrailer.toSeq == Seq(0xff.toByte, 0xff.toByte))
  }

  test("writeTuple: field count, length prefixes, -1 for NULL") {
    val buf = new java.io.ByteArrayOutputStream()
    PgBinary.writeTuple(buf, Array(Array[Byte]('h', 'i'), null, Array.emptyByteArray))
    val b = buf.toByteArray
    assert(b.toSeq == Seq[Byte](
      0, 3, // 3 fields
      0, 0, 0, 2, 'h', 'i', // 2-byte field
      -1, -1, -1, -1, // NULL
      0, 0, 0, 0)) // empty (NOT null): zero-length value
  }

  test("primitive send formats are big-endian") {
    assert(PgBinary.int8Send(1L).toSeq == Seq[Byte](0, 0, 0, 0, 0, 0, 0, 1))
    assert(PgBinary.int4Send(-1).toSeq == Seq.fill(4)(0xff.toByte))
    assert(PgBinary.int2Send(258.toShort).toSeq == Seq[Byte](1, 2))
    assert(PgBinary.float4Send(1.0f).toSeq == Seq[Byte](0x3f, 0x80.toByte, 0, 0))
    assert(PgBinary.float8Send(1.0).toSeq ==
      Seq[Byte](0x3f, 0xf0.toByte, 0, 0, 0, 0, 0, 0))
    assert(PgBinary.boolSend(true).toSeq == Seq[Byte](1))
    assert(PgBinary.boolSend(false).toSeq == Seq[Byte](0))
  }

  test("send/recv are inverses for every primitive") {
    assert(PgBinary.int8Recv(PgBinary.int8Send(Long.MinValue)) == Long.MinValue)
    assert(PgBinary.int4Recv(PgBinary.int4Send(Int.MaxValue)) == Int.MaxValue)
    assert(PgBinary.int2Recv(PgBinary.int2Send(-2)) == -2)
    assert(PgBinary.float8Recv(PgBinary.float8Send(-0.1)) == -0.1)
    assert(PgBinary.float4Recv(PgBinary.float4Send(3.14f)) == 3.14f)
    assert(PgBinary.boolRecv(PgBinary.boolSend(true)))
    assert(PgBinary.textRecv(PgBinary.textSend("héllo — ünïcode")) == "héllo — ünïcode")
  }

  test("vector binary format: uint16 dim + pad + float4s; bit-exact round trip") {
    val v = Array(1.5f, -2.25f, Float.MinPositiveValue, Float.NaN)
    val b = PgBinary.vectorSend(v)
    assert(b.length == 4 + 4 * v.length)
    assert(b.take(4).toSeq == Seq[Byte](0, 4, 0, 0)) // dim=4, unused=0
    val back = PgBinary.vectorRecv(b)
    // bit-exact, including the NaN payload (floatToIntBits canonicalizes
    // both sides the same way)
    assert(back.length == v.length)
    v.indices.foreach(i => assert(
      java.lang.Float.floatToIntBits(back(i)) == java.lang.Float.floatToIntBits(v(i))))
    // empty vector: dim 0, 4 bytes total
    assert(PgBinary.vectorSend(Array.emptyFloatArray).toSeq == Seq[Byte](0, 0, 0, 0))
    assert(PgBinary.vectorRecv(Array[Byte](0, 0, 0, 0)).isEmpty)
  }

  test("vectorRecv rejects a length-inconsistent frame typed") {
    val e = intercept[PgWireException](
      PgBinary.vectorRecv(Array[Byte](0, 3, 0, 0, 1, 2, 3, 4))) // dim 3, 1 float
    assert(e.sqlState == "08P01", e.getMessage)
  }

  /** Every float class a vector can carry: NaN payloads (quiet and
    * signalling bit patterns), ±0, the smallest and largest subnormals,
    * the normal extremes, and ±Inf. */
  private val specialFloats: Array[Float] = Array(
    java.lang.Float.intBitsToFloat(0x7fc00000), java.lang.Float.intBitsToFloat(0x7fa00001),
    java.lang.Float.intBitsToFloat(0xffc00123), 0.0f, -0.0f,
    Float.MinPositiveValue, -Float.MinPositiveValue,
    java.lang.Float.intBitsToFloat(0x007fffff), java.lang.Float.intBitsToFloat(0x807fffff),
    java.lang.Float.MIN_NORMAL, Float.MaxValue, Float.MinValue,
    Float.PositiveInfinity, Float.NegativeInfinity)

  test("vectorSend/vectorRecv are bit-exact on NaN payloads, ±0, subnormals and ±Inf") {
    val b = PgBinary.vectorSend(specialFloats)
    assert(b.length == 4 + 4 * specialFloats.length)
    // each component is its IEEE-754 bits, big-endian, right after the header
    specialFloats.zipWithIndex.foreach { case (f, i) =>
      assert(b.slice(4 + 4 * i, 8 + 4 * i).toSeq ==
        PgBinary.int32(java.lang.Float.floatToRawIntBits(f)).toSeq, s"component $i")
    }
    val back = PgBinary.vectorRecv(b)
    assert(back.map(java.lang.Float.floatToRawIntBits).toSeq ==
      specialFloats.map(java.lang.Float.floatToRawIntBits).toSeq)
  }

  test("the connector's binary vector field equals vectorSend, and a null element " +
    "fails naming the row instead of sending 0.0") {
    val v = Seq[Any](1.5f, -0f, Float.NaN)
    assert(PgVectorCodec.vectorSend("a", v).sameElements(
      PgBinary.vectorSend(Array(1.5f, -0f, Float.NaN))))
    val e = intercept[IllegalArgumentException](
      PgVectorCodec.vectorSend("row-7", Seq[Any](1f, null, 2f)))
    assert(e.getMessage.contains("'row-7'") && e.getMessage.contains("index 1"), e.getMessage)
  }

  test("vectorSend rejects a dimension past the uint16 header, typed") {
    val e = intercept[IllegalArgumentException](PgBinary.vectorSend(new Array[Float](0x10000)))
    assert(e.getMessage.contains("65536"), e.getMessage)
    // the largest representable dimension still frames
    val max = PgBinary.vectorSend(new Array[Float](0xffff))
    assert(max.take(4).toSeq == Seq[Byte](-1, -1, 0, 0))
    assert(PgBinary.vectorRecv(max).length == 0xffff)
  }

  test("float4/float8 send/recv are bit-exact on every special value") {
    specialFloats.foreach { f =>
      val bits = java.lang.Float.floatToRawIntBits(f)
      assert(java.lang.Float.floatToRawIntBits(
        PgBinary.float4Recv(PgBinary.float4Send(f))) == bits, f"float4 $bits%08x")
      val d = f.toDouble
      val dbits = java.lang.Double.doubleToRawLongBits(d)
      assert(java.lang.Double.doubleToRawLongBits(
        PgBinary.float8Recv(PgBinary.float8Send(d))) == dbits, f"float8 $dbits%016x")
    }
  }

  test("textSend rejects NUL like every text path") {
    val e = intercept[IllegalArgumentException](PgBinary.textSend("a\u0000b"))
    assert(e.getMessage.contains("NUL"))
  }
}
