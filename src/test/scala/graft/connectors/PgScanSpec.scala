package graft.connectors

import java.nio.charset.StandardCharsets.UTF_8
import graft.SparkSpec
import graft.connectors.pgwire.{PgWireClient, PgWireException}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.col

/** The pgvector read path below the connector: [[PgWireClient.scan]]
  * against stub servers that script the backend's frames (streaming, a
  * mid-stream error), and the byte-level vector decoder
  * ([[PgVectorCodec.vectorFromText]]) against the column expression it
  * replaces on the read side ([[PgVectorCodec.textToVector]]). The live
  * slicing cases are in `PgLiveWireSpec`. */
class PgScanSpec extends SparkSpec {
  import spark.implicits._

  private def frame(t: Char, body: Array[Byte]): Array[Byte] =
    Array(t.toByte) ++ java.nio.ByteBuffer.allocate(4).putInt(4 + body.length).array() ++ body
  private def cstr(s: String) = s.getBytes(UTF_8) :+ 0.toByte
  private val ready = frame('Z', Array[Byte]('I'.toByte))
  private def rowDescription(col: String) = frame('T', Array[Byte](0, 1) ++ cstr(col) ++ new Array[Byte](18))
  private def dataRow(v: String) = {
    val b = v.getBytes(UTF_8)
    frame('D', Array[Byte](0, 1) ++ java.nio.ByteBuffer.allocate(4).putInt(b.length).array() ++ b)
  }
  private def error(sqlState: String, msg: String) =
    frame('E', Array('S'.toByte) ++ cstr("ERROR") ++ Array('C'.toByte) ++ cstr(sqlState) ++
      Array('M'.toByte) ++ cstr(msg) :+ 0.toByte)
  private def oneRowAnswer(v: String) =
    rowDescription("x") ++ dataRow(v) ++ frame('C', cstr("SELECT 1")) ++ ready

  /** A one-connection stub server: it authenticates (trust), then hands
    * `script` a function that waits for the client's next query and the
    * stream to answer on. Returns the port. */
  private def stub(script: (() => Unit, java.io.OutputStream) => Unit): (Int, () => Unit) = {
    val srv = new java.net.ServerSocket(0, 1, java.net.InetAddress.getByName("127.0.0.1"))
    val t = new Thread(() => {
      try {
        val s = srv.accept()
        val in = new java.io.DataInputStream(s.getInputStream)
        val o = s.getOutputStream
        val len = in.readInt(); in.skipBytes(len - 4) // startup message
        o.write(frame('R', Array[Byte](0, 0, 0, 0)) ++ ready) // AuthenticationOk
        o.flush()
        script(() => { in.readByte(); val l = in.readInt(); in.skipBytes(l - 4) }, o)
      } catch { case _: Throwable => () }
    })
    t.setDaemon(true)
    t.start()
    (srv.getLocalPort, () => srv.close())
  }

  test("scan hands out a row as soon as it arrives, while the server holds the rest") {
    val gate = new java.util.concurrent.CountDownLatch(1)
    val (port, stop) = stub { (awaitQuery, o) =>
      awaitQuery()
      o.write(rowDescription("x") ++ dataRow("first"))
      o.flush()
      gate.await() // the rest of the result waits for the client's first row
      o.write(dataRow("second") ++ frame('C', cstr("SELECT 2")) ++ ready)
      o.flush()
      awaitQuery()
      o.write(oneRowAnswer("42"))
      o.flush()
    }
    val c = new PgWireClient("127.0.0.1", port)
    try {
      // on a watchdog thread: a client that buffers the result would
      // wait for the gate, which opens only after this assertion
      @volatile var rows: Iterator[graft.connectors.pgwire.DataRow] = null
      @volatile var first: String = null
      val t = new Thread(() => {
        val it = c.scan("SELECT x")
        first = it.next().text(0)
        rows = it
      })
      t.setDaemon(true)
      t.start()
      t.join(10000)
      assert(first == "first", "the first row waited for the rest of the result")
      // the open scan owns the connection: another statement is refused
      intercept[IllegalStateException](c.query("SELECT 42"))
      gate.countDown()
      assert(rows.next().text(0) == "second")
      assert(!rows.hasNext)
      assert(c.query("SELECT 42").rows == Seq(Seq("42")))
    } finally { gate.countDown(); c.close(); stop() }
  }

  test("an ErrorResponse mid-scan surfaces after the rows before it, typed, and the session survives") {
    val (port, stop) = stub { (awaitQuery, o) =>
      awaitQuery()
      o.write(rowDescription("x") ++ dataRow("a") ++ dataRow("b") ++
        error("22012", "division by zero") ++ ready)
      o.flush()
      awaitQuery()
      o.write(oneRowAnswer("7"))
      o.flush()
    }
    val c = new PgWireClient("127.0.0.1", port)
    try {
      val rows = c.scan("SELECT 1 / (2 - x) FROM t")
      assert(rows.next().text(0) == "a")
      assert(rows.next().text(0) == "b")
      val e = intercept[PgWireException](rows.hasNext)
      assert(e.sqlState == "22012" && e.getMessage.contains("division by zero"), e.getMessage)
      assert(c.query("SELECT 7").rows == Seq(Seq("7")))
    } finally { c.close(); stop() }
  }

  /** The decoder's result in comparable form: None for a null array, each
    * element's raw IEEE bits (None for a null element). */
  private def bits(a: ArrayData): Option[Seq[Option[Int]]] = Option(a).map(d =>
    (0 until d.numElements()).map(i =>
      if (d.isNullAt(i)) None else Some(java.lang.Float.floatToRawIntBits(d.getFloat(i)))))

  private def assertDecodesLikeTextToVector(inputs: Seq[String]): Unit = {
    // an RDD-backed frame: the column expression runs codegen'd, as on a scan
    val want = spark.sparkContext.parallelize(inputs.zipWithIndex, 3).toDF("t", "i")
      .select(col("i"), PgVectorCodec.textToVector(col("t")).as("v"))
      .collect().map(r => r.getInt(0) -> Option(r.getSeq[Any](1)).map(_.map(x =>
        Option(x).map(f => java.lang.Float.floatToRawIntBits(f.asInstanceOf[Float]))))).toMap
    inputs.zipWithIndex.foreach { case (t, i) =>
      // the field sits inside a larger frame, as it does in a DataRow
      val got =
        if (t == null) None
        else {
          val b = t.getBytes(UTF_8)
          bits(PgVectorCodec.vectorFromText("xx".getBytes(UTF_8) ++ b ++ "]y".getBytes(UTF_8), 2, b.length))
        }
      assert(got == want(i), s"input ${Option(t).map(_.flatMap(c =>
        if (c < ' ' || c > '~') f"\\u${c.toInt}%04x" else c.toString))}: decoder $got, textToVector ${want(i)}")
    }
  }

  test("byte decoder = textToVector on edge cases: blanks, brackets, terminators, specials, junk") {
    assertDecodesLikeTextToVector(Seq(null, "", " ", "   ", "[]", "[", "]", "[ ]", "][",
      "[1,2,3]", "  [1, 2 ,3]  ", "1,2", "[1,,2]", "[1,2,]", "[,]", ",", "[1]]", "[[1]",
      "[1 2]", "[1]x", "x[1]", "[-0.0,0.0,-0]", "[NaN,Infinity,-Infinity,+Infinity]",
      "[inf,-INF,+inf,infinity,-INFINITY,nan,NAN, nan ]", "[1.4E-45,1.17549435E-38,3.4028235E38]",
      "[1e40,-1e40,1e-46,-1e-50]", "[1f,2d,2F,0x1p3,0x1.8p1,+5,.5,5.,1e,e5]",
      "[\t1,2\t]", "\t[1,2]\t", "[1]\n", "[1]\r\n", "[1]\r", "[1]\n\n", "[1,2\n]", "[1]\u2028",
      "[1]\u2029", "[1]\u0085", "\n", "]\n", "[\n", "[1\u00a0,2]", "[\uff11]", "[\u00e9,1]",
      "[0.1,0.2,0.30000001,16777217,9.999999e-39]"))
  }

  test("byte decoder = textToVector on generated vectors (property, seeded)") {
    val rnd = new scala.util.Random(180219L)
    val specials = Seq(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity, -0.0f,
      Float.MinPositiveValue, java.lang.Float.MIN_NORMAL, Float.MaxValue, 1e-40f)
    val pads = Seq("", "", "", " ", "  ", "\t", "\n")
    def pad = pads(rnd.nextInt(pads.length))
    val inputs = (0 until 400).map { _ =>
      val v = Seq.fill(rnd.nextInt(40))(
        if (rnd.nextInt(10) == 0) specials(rnd.nextInt(specials.length))
        else java.lang.Float.intBitsToFloat(rnd.nextInt()) match {
          case f if rnd.nextBoolean() => f
          case _ => (rnd.nextGaussian() * math.pow(10, rnd.nextInt(12) - 6)).toFloat
        })
      val tokens = v.map(f => pad + f.toString + pad)
      val body = tokens.mkString(",")
      pad + (if (rnd.nextInt(8) == 0) body else s"[$body]") + pad
    }
    assertDecodesLikeTextToVector(inputs)
  }
}
