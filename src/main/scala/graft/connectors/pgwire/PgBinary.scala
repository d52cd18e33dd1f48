package graft.connectors.pgwire

import java.nio.charset.StandardCharsets.UTF_8

/** PostgreSQL BINARY wire value formats — the documented send/recv
  * representations (PostgreSQL docs "COPY ... WITH (FORMAT binary)" and
  * each type's `typsend`/`typreceive` functions; all integers big-endian), plus
  * pgvector's published binary format (pgvector README / `vector_send`:
  * uint16 dim, uint16 unused = 0, then dim float4s).
  *
  * Why binary exists here: vectors are the dominant bytes on a migration,
  * and the text form (`[0.12345678,...]`, ~9-13 chars per component)
  * costs 2-3× the bytes of float4 binary — the r18 verdict named text
  * framing the single biggest remaining tax on the engine's only
  * live-verifiable backend. For TEXT-typed columns the binary form is the
  * raw UTF-8 bytes (no `\N`/backslash escaping pass at all), so binary
  * COPY also removes the per-character escape scan from the hot path.
  *
  * Everything below is pure byte math on arrays — no socket, no state —
  * so the encoders/decoders are unit-tested offline byte for byte, and
  * the live round trip (PgLiveWireSpec) only has to pin the framing. */
object PgBinary {

  // ---- primitive big-endian writers ----
  def int16(v: Int): Array[Byte] = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  def int32(v: Int): Array[Byte] =
    Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
  def int64(v: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(8).putLong(v).array()

  private def readInt16(b: Array[Byte], at: Int): Int =
    ((b(at) & 0xff) << 8) | (b(at + 1) & 0xff)
  private def readInt32(b: Array[Byte], at: Int): Int =
    ((b(at) & 0xff) << 24) | ((b(at + 1) & 0xff) << 16) |
      ((b(at + 2) & 0xff) << 8) | (b(at + 3) & 0xff)

  // ---- value send (client -> server COPY field) ----
  /** TEXT/VARCHAR binary format IS the raw UTF-8 bytes. NUL is rejected
    * exactly like the text paths — PostgreSQL text cannot carry it, and
    * binary framing reaching the server first would turn the client-side
    * contract error into a server-side 22021. */
  def textSend(v: String): Array[Byte] = {
    require(!v.contains('\u0000'),
      "PostgreSQL text values cannot carry NUL (\\u0000) bytes")
    v.getBytes(UTF_8)
  }
  def int2Send(v: Short): Array[Byte] = int16(v.toInt)
  def int4Send(v: Int): Array[Byte] = int32(v)
  def int8Send(v: Long): Array[Byte] = int64(v)
  // raw bits, like vectorSend: a NaN keeps its payload instead of being
  // canonicalized on the way out
  def float4Send(v: Float): Array[Byte] = int32(java.lang.Float.floatToRawIntBits(v))
  def float8Send(v: Double): Array[Byte] = int64(java.lang.Double.doubleToRawLongBits(v))
  def boolSend(v: Boolean): Array[Byte] = Array(if (v) 1.toByte else 0.toByte)

  /** pgvector `vector_send`: uint16 dim, uint16 unused (0), dim float4s.
    * 4 bytes per component vs ~9-13 text chars — the whole point. */
  def vectorSend(v: Array[Float]): Array[Byte] = {
    require(v.length <= 0xffff, s"vector dimension ${v.length} exceeds uint16")
    val b = java.nio.ByteBuffer.allocate(4 + 4 * v.length)
    b.putShort(v.length.toShort)
    b.putShort(0.toShort)
    v.foreach(b.putFloat)
    b.array()
  }

  // ---- value recv (server binary value -> client) ----
  def textRecv(b: Array[Byte]): String = new String(b, UTF_8)
  def int2Recv(b: Array[Byte]): Short = readInt16(b, 0).toShort
  def int4Recv(b: Array[Byte]): Int = readInt32(b, 0)
  def int8Recv(b: Array[Byte]): Long = java.nio.ByteBuffer.wrap(b).getLong
  def float4Recv(b: Array[Byte]): Float =
    java.lang.Float.intBitsToFloat(readInt32(b, 0))
  def float8Recv(b: Array[Byte]): Double =
    java.nio.ByteBuffer.wrap(b).getDouble
  def boolRecv(b: Array[Byte]): Boolean = b(0) != 0

  def vectorRecv(b: Array[Byte]): Array[Float] = {
    val buf = java.nio.ByteBuffer.wrap(b)
    val dim = buf.getShort & 0xffff
    buf.getShort // unused
    if (b.length != 4 + 4 * dim)
      throw new PgWireException("08P01",
        s"malformed vector binary value: dim $dim but ${b.length} bytes")
    Array.fill(dim)(buf.getFloat)
  }

  // ---- COPY BINARY framing ----
  /** The documented 19-byte header: signature "PGCOPY\n\377\r\n\0",
    * int32 flags = 0 (no OIDs), int32 header-extension length = 0. */
  val copyHeader: Array[Byte] =
    "PGCOPY\n".getBytes(UTF_8) ++ Array(0xff.toByte, '\r'.toByte, '\n'.toByte, 0.toByte) ++
      int32(0) ++ int32(0)

  /** File trailer: int16 -1 in place of a tuple's field count. */
  val copyTrailer: Array[Byte] = int16(-1)

  /** One tuple: int16 field count, then per field int32 byte length
    * (-1 = NULL) + the bytes. Appended straight into the caller's chunk
    * buffer — no per-tuple array allocation. */
  def writeTuple(buf: java.io.ByteArrayOutputStream,
                 fields: Array[Array[Byte]]): Unit = {
    buf.write(int16(fields.length), 0, 2)
    fields.foreach { f =>
      if (f == null) buf.write(int32(-1), 0, 4)
      else { buf.write(int32(f.length), 0, 4); buf.write(f, 0, f.length) }
    }
  }
}
