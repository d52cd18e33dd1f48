package graft.connectors.pgwire

import java.io.{DataInputStream, DataOutputStream, IOException}
import java.net.{InetSocketAddress, Socket, SocketTimeoutException}
import java.nio.charset.StandardCharsets.UTF_8

/** A PostgreSQL error, carrying the server's SQLSTATE and message — the
  * typed failure [[PgWireClient.query]] and [[PgWireClient.scan]] raise
  * on `ErrorResponse` (after draining the stream to `ReadyForQuery`, so
  * the connection stays usable for the next statement). */
final class PgWireException(val sqlState: String, message: String)
  extends IOException(s"[$sqlState] $message")

/** SCRAM-SHA-256[-PLUS] client state (RFC 5802 with the SHA-256
  * parameters of RFC 7677), as PostgreSQL speaks it: the startup-message
  * user is authoritative (the `n=` field is empty), SaltedPassword via
  * PBKDF2-HMAC-SHA256, and the server's final `v=` signature IS verified
  * — mutual authentication, not just a password send.
  *
  * `gs2Header` selects the channel-binding posture (libpq parity):
  * `n,,` off TLS; `y,,` on TLS when the server did not offer the -PLUS
  * mechanism (the RFC 5802 downgrade tripwire — a server that DOES
  * support binding must reject `y`, so a MITM stripping the -PLUS
  * advertisement is caught); `p=tls-server-end-point,,` for -PLUS, with
  * `cbindData` = the RFC 5929 certificate hash. The `c=` attribute is
  * base64(gs2Header ++ cbindData) — `biws` is just the `n,,` case. */
private final class ScramState(password: String,
                               gs2Header: String = "n,,",
                               cbindData: Array[Byte] = Array.emptyByteArray) {
  import javax.crypto.Mac
  import javax.crypto.spec.{PBEKeySpec, SecretKeySpec}

  private val nonce = {
    val r = new java.security.SecureRandom()
    val b = new Array[Byte](18)
    r.nextBytes(b)
    java.util.Base64.getEncoder.encodeToString(b)
  }
  private val clientFirstBare = s"n=,r=$nonce"
  private val cbind = java.util.Base64.getEncoder.encodeToString(
    gs2Header.getBytes(java.nio.charset.StandardCharsets.UTF_8) ++ cbindData)
  private var authMessage: String = _
  private var saltedPassword: Array[Byte] = _

  def clientFirstMessage: String = s"$gs2Header$clientFirstBare"

  private def hmac(key: Array[Byte], msg: String): Array[Byte] = {
    val m = Mac.getInstance("HmacSHA256")
    m.init(new SecretKeySpec(key, "HmacSHA256"))
    m.doFinal(msg.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
  private def sha256(b: Array[Byte]): Array[Byte] =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)

  def clientFinalMessage(serverFirst: String): String = {
    val fields = serverFirst.split(',').map(f => f.take(1) -> f.drop(2)).toMap
    val combined = fields.getOrElse("r", throw new PgWireException("28000",
      s"malformed SCRAM server-first-message: $serverFirst"))
    if (!combined.startsWith(nonce))
      throw new PgWireException("28000",
        "SCRAM server nonce does not extend the client nonce — possible MITM")
    val salt = java.util.Base64.getDecoder.decode(fields("s"))
    val iters = fields("i").toInt
    val spec = new PBEKeySpec(password.toCharArray, salt, iters, 256)
    saltedPassword = javax.crypto.SecretKeyFactory
      .getInstance("PBKDF2WithHmacSHA256").generateSecret(spec).getEncoded
    val clientKey = hmac(saltedPassword, "Client Key")
    val storedKey = sha256(clientKey)
    val withoutProof = s"c=$cbind,r=$combined"
    authMessage = s"$clientFirstBare,$serverFirst,$withoutProof"
    val signature = hmac(storedKey, authMessage)
    val proof = clientKey.zip(signature).map { case (a, b) => (a ^ b).toByte }
    s"$withoutProof,p=${java.util.Base64.getEncoder.encodeToString(proof)}"
  }

  def verifyServerFinal(serverFinal: String): Unit = {
    val v = serverFinal.split(',').find(_.startsWith("v="))
      .map(_.drop(2)).getOrElse(throw new PgWireException("28000",
        s"malformed SCRAM server-final-message: $serverFinal"))
    val serverKey = hmac(saltedPassword, "Server Key")
    val expect = java.util.Base64.getEncoder
      .encodeToString(hmac(serverKey, authMessage))
    if (expect != v)
      throw new PgWireException("28000",
        "SCRAM server signature mismatch — the server does not know the " +
          "password it challenged for (possible MITM)")
  }
}

object PgWireClient {
  /** Default bound, in milliseconds, on the TCP connect and on each read
    * of the TLS/startup/authentication exchange. */
  val HandshakeTimeoutMs: Int = 30000

  /** One COPY text-format field: `\N` for NULL, otherwise the documented
    * backslash escapes (backslash itself, tab, newline, carriage return —
    * the characters that would break the row/field framing). NUL bytes
    * are rejected like every other text path (PostgreSQL text cannot
    * carry them). */
  def copyField(v: String): String = {
    if (v == null) return "\\N"
    require(!v.contains('\u0000'),
      "PostgreSQL text literals cannot carry NUL (\\u0000) bytes")
    val sb = new java.lang.StringBuilder(v.length + 8)
    var i = 0
    while (i < v.length) {
      v.charAt(i) match {
        case '\\' => sb.append("\\\\")
        case '\t' => sb.append("\\t")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }
}

/** One statement's outcome on the wire: the last result set's column
  * names and text-format rows (empty for DDL/DML), plus every
  * `CommandComplete` tag the statement batch produced ("CREATE TABLE",
  * "INSERT 0 3", "SELECT 2", ...). */
case class PgResult(columns: Seq[String], rows: Seq[Seq[String]], tags: Seq[String]) {
  /** Rows affected, parsed from the last tag ("INSERT 0 3" -> 3,
    * "UPDATE 2" -> 2, "SELECT 5" -> 5); 0 when the tag carries none. */
  def rowCount: Long =
    tags.lastOption.flatMap(_.split(' ').lastOption).flatMap(_.toLongOption).getOrElse(0L)
}

/** One `DataRow` frame of a [[PgWireClient.scan]], its field bounds
  * already checked: field `i` is `length(i)` bytes of [[bytes]] from
  * `offset(i)`, in the column's text format, or SQL NULL when `length(i)`
  * is -1. Every frame is read into its own array, so a row stays valid
  * after the scan moves on. */
final class DataRow private[pgwire] (val bytes: Array[Byte], bounds: Array[Int]) {
  def size: Int = bounds.length / 2
  def offset(i: Int): Int = bounds(2 * i)
  def length(i: Int): Int = bounds(2 * i + 1)
  def isNull(i: Int): Boolean = length(i) < 0
  /** Field `i` as a string; null for SQL NULL. */
  def text(i: Int): String =
    if (isNull(i)) null else new String(bytes, offset(i), length(i), UTF_8)
}

/** Minimal PostgreSQL frontend — the documented v3 wire protocol
  * (PostgreSQL docs, "Frontend/Backend Protocol"), Simple Query flavor:
  * `StartupMessage` → authentication (trust, cleartext password, MD5,
  * or SASL SCRAM-SHA-256 with server-signature verification — the
  * PostgreSQL default since v14) → `Query('Q')` with text-format
  * results, streamed frame by frame ([[scan]]: table reads) or collected
  * ([[query]]: DDL and catalog statements) over one message loop. TLS
  * rides the documented SSLRequest upgrade: platform-trust mode verifies
  * chain AND hostname (verify-full); a pinned `ssl_root_cert` is
  * verify-ca against that one anchor. `COPY FROM STDIN` ([[copyIn]],
  * [[copyInBinary]]) is the bulk path. Not a general PostgreSQL driver:
  * it carries exactly what the pgvector connector
  * ([[graft.connectors.PgVectorConnector]], its only data path) sends —
  * `buildSelect` scans, catalog predicates, DDL, COPY loads and their
  * publish and swap statements — which is what the reference drives
  * through psycopg2 (`adapters/pgvector.py`).
  *
  * `handshakeTimeoutMs` bounds the connect and every read up to the
  * first `ReadyForQuery`, so a server that accepts but never answers
  * fails the constructor with a [[PgWireException]] (SQLSTATE 08001)
  * instead of hanging its task. Reads after the handshake are unbounded:
  * a long COPY or query is never cut.
  *
  * Thread-safety: none — one client per connection, like a raw socket. */
class PgWireClient(host: String, port: Int,
                   user: String = "postgres",
                   database: String = "postgres",
                   password: Option[String] = None,
                   ssl: Boolean = false,
                   sslRootCert: Option[String] = None,
                   handshakeTimeoutMs: Int = PgWireClient.HandshakeTimeoutMs)
  extends AutoCloseable {

  private def handshakeTimedOut(e: SocketTimeoutException) = {
    val x = new PgWireException("08001", s"$host:$port did not complete the " +
      s"connection handshake within $handshakeTimeoutMs ms")
    x.initCause(e)
    x
  }

  private val socket: Socket = {
    // connect and every TLS/startup read are bounded; the bound is lifted
    // once the startup below reaches ReadyForQuery
    val plain = new Socket()
    try {
      plain.connect(new InetSocketAddress(host, port), handshakeTimeoutMs)
      plain.setSoTimeout(handshakeTimeoutMs)
      plain.setTcpNoDelay(true)
      if (!ssl) plain
      else {
        // documented TLS upgrade: SSLRequest (int32 8, int32 80877103),
        // server answers ONE byte — 'S' = proceed with the handshake over
        // the same connection, 'N' = no TLS here (we required it: typed
        // refusal, never a silent cleartext fallback)
        val o = new DataOutputStream(plain.getOutputStream)
        o.writeInt(8)
        o.writeInt(80877103)
        o.flush()
        plain.getInputStream.read() match {
          case 'S' =>
            val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
            val tms: Array[javax.net.ssl.TrustManager] = sslRootCert match {
              case None => null // platform trust store (secure default)
              case Some(pem) => // trust exactly the given root/server cert
                val cf = java.security.cert.CertificateFactory.getInstance("X.509")
                val cert = {
                  val s = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(pem))
                  try cf.generateCertificate(s) finally s.close()
                }
                val ks = java.security.KeyStore.getInstance(
                  java.security.KeyStore.getDefaultType)
                ks.load(null, null)
                ks.setCertificateEntry("pgwire-root", cert)
                val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
                  javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
                tmf.init(ks)
                tmf.getTrustManagers
            }
            ctx.init(null, tms, null)
            val s = ctx.getSocketFactory
              .createSocket(plain, host, port, true).asInstanceOf[javax.net.ssl.SSLSocket]
            s.setUseClientMode(true)
            // Endpoint verification, libpq-parity semantics:
            //  - platform trust store (no pin): verify-full — chain AND
            //    hostname. Without this, ANY CA-issued cert for ANY host
            //    would pass, so an active MITM with a valid cert for its
            //    own name defeats the handshake. "HTTPS" is the JSSE
            //    RFC 2818/6125 rule set (SAN DNS/IP match, CN fallback for
            //    DNS names only).
            //  - pinned root/server cert: verify-ca — the caller opted
            //    into ONE explicit trust anchor; a MITM would need that
            //    specific key. (libpq's sslrootcert+verify-ca draws the
            //    same line; hostname checks against self-signed pins with
            //    no SAN would reject legitimate setups.)
            if (sslRootCert.isEmpty) {
              val p = s.getSSLParameters
              p.setEndpointIdentificationAlgorithm("HTTPS")
              s.setSSLParameters(p)
            }
            s.startHandshake()
            s
          case 'N' =>
            throw new PgWireException("08P01",
              s"$host:$port refused the TLS upgrade (ssl=off on the server?) " +
                "and this connection requires ssl")
          case other =>
            throw new PgWireException("08P01",
              s"unexpected SSLRequest response byte $other from $host:$port")
        }
      }
    } catch {
      // the constructor throws, so close() never runs: no leaked socket
      case e: SocketTimeoutException => plain.close(); throw handshakeTimedOut(e)
      case e: Throwable => plain.close(); throw e
    }
  }
  // buffered: a frame's header is a type byte and an int32, which read
  // unbuffered would be five reads of the socket per frame
  private val in = new DataInputStream(
    new java.io.BufferedInputStream(socket.getInputStream, 1 << 16))
  // buffered: a CopyData frame is a type byte, a length and a chunk —
  // unbuffered with TCP_NODELAY each write is a syscall and potentially
  // a packet. Every read site is preceded by an explicit flush, so
  // buffering changes no protocol timing.
  private val out = new DataOutputStream(
    new java.io.BufferedOutputStream(socket.getOutputStream, 1 << 16))

  private def send(tpe: Char, body: Array[Byte]): Unit = {
    out.writeByte(tpe)
    out.writeInt(4 + body.length)
    out.write(body)
    out.flush()
  }

  // ---- startup: length-prefixed (NO type byte), protocol 3.0, then
  // key/value params terminated by one NUL
  locally {
    val params = Array("user", user, "database", database)
    val body = params.map(_.getBytes(UTF_8)).map(b => b :+ 0.toByte).reduce(_ ++ _) :+ 0.toByte
    out.writeInt(8 + body.length)
    out.writeInt(196608) // 3 << 16: protocol 3.0
    out.write(body)
    out.flush()
    // consume until the first ReadyForQuery, answering the server's
    // authentication requests: trust (0), cleartext (3), MD5 (5), and
    // SASL SCRAM-SHA-256 (10/11/12 — RFC 5802/7677, the PostgreSQL
    // default since v14). ParameterStatus ('S') / BackendKeyData ('K')
    // ride along.
    var scram: ScramState = null
    var ready = false
    try while (!ready) {
      val (tpe, payload) = readMessage()
      tpe match {
        case 'R' =>
          val code = ((payload(0) & 0xff) << 24) | ((payload(1) & 0xff) << 16) |
            ((payload(2) & 0xff) << 8) | (payload(3) & 0xff)
          def pw: String = password.getOrElse(throw new PgWireException("28P01",
            s"server requires password authentication (method $code) and no " +
              "password was supplied"))
          code match {
            case 0 => // AuthenticationOk
            case 3 => // cleartext password
              send('p', pw.getBytes(UTF_8) :+ 0.toByte)
            case 5 => // MD5: "md5" + md5(md5(password + user) + salt4), hex
              val salt = payload.slice(4, 8)
              val inner = md5Hex((pw + user).getBytes(UTF_8))
              val outer = md5Hex(inner.getBytes(UTF_8) ++ salt)
              send('p', ("md5" + outer).getBytes(UTF_8) :+ 0.toByte)
            case 10 => // AuthenticationSASL: mechanism list, NUL-separated
              val mechs = new String(payload.drop(4), UTF_8).split('\u0000').filter(_.nonEmpty)
              val tlsSock = socket match {
                case s: javax.net.ssl.SSLSocket => Some(s)
                case _ => None
              }
              // mechanism choice, libpq parity: on TLS prefer the -PLUS
              // variant (tls-server-end-point binding ties the SCRAM
              // exchange to THIS TLS session's server certificate, so a
              // credential-forwarding MITM fails the proof); on TLS
              // without -PLUS offered, gs2 flag `y` arms the RFC 5802
              // downgrade tripwire (a binding-capable server must reject
              // it); off TLS, plain `n`.
              val (mech, st) =
                if (tlsSock.isDefined && mechs.contains("SCRAM-SHA-256-PLUS")) {
                  val cert = tlsSock.get.getSession.getPeerCertificates.head
                    .asInstanceOf[java.security.cert.X509Certificate]
                  ("SCRAM-SHA-256-PLUS",
                    new ScramState(pw, "p=tls-server-end-point,,", endPointHash(cert)))
                } else if (mechs.contains("SCRAM-SHA-256"))
                  ("SCRAM-SHA-256",
                    new ScramState(pw, if (tlsSock.isDefined) "y,," else "n,,"))
                else
                  throw new PgWireException("28000",
                    s"server offers SASL mechanisms ${mechs.mkString(",")} — this " +
                      "client speaks SCRAM-SHA-256 and SCRAM-SHA-256-PLUS")
              scram = st
              saslMechanism = mech
              val initial = scram.clientFirstMessage.getBytes(UTF_8)
              val buf = new java.io.ByteArrayOutputStream()
              buf.write(mech.getBytes(UTF_8)); buf.write(0)
              buf.write(java.nio.ByteBuffer.allocate(4).putInt(initial.length).array())
              buf.write(initial)
              send('p', buf.toByteArray)
            case 11 => // AuthenticationSASLContinue: server-first-message
              val serverFirst = new String(payload.drop(4), UTF_8)
              send('p', scram.clientFinalMessage(serverFirst).getBytes(UTF_8))
            case 12 => // AuthenticationSASLFinal: verify the server signature
              scram.verifyServerFinal(new String(payload.drop(4), UTF_8))
            case other =>
              throw new PgWireException("28000",
                s"server requested authentication method $other — this client " +
                  "speaks trust, password, md5, and SCRAM-SHA-256 (see pg_hba.conf)")
          }
        case 'E' => throw errorFrom(payload)
        case 'Z' => ready = true
        case _ => // ParameterStatus / BackendKeyData / NoticeResponse
      }
      // session established: long COPYs and queries must never time out
      socket.setSoTimeout(0)
    } catch {
      // a failed handshake (auth rejection, protocol surprise, silence)
      // must not leak its socket — the constructor throws, so close()
      // never runs
      case e: Throwable =>
        try socket.close() catch { case _: IOException => () }
        throw (e match {
          case t: SocketTimeoutException => handshakeTimedOut(t)
          case other => other
        })
    }
  }

  /** The SASL mechanism the startup negotiated ("SCRAM-SHA-256" or
    * "SCRAM-SHA-256-PLUS"), null for non-SASL auth — test introspection
    * for the channel-binding live specs. */
  private[connectors] var saslMechanism: String = _

  /** RFC 5929 tls-server-end-point channel-binding data: the server
    * certificate's hash, using the certificate's own signature hash
    * algorithm with MD5/SHA-1 upgraded to SHA-256 (the RFC's rule —
    * also PostgreSQL's, `be-secure-openssl.c`). */
  private def endPointHash(cert: java.security.cert.X509Certificate): Array[Byte] = {
    val alg = cert.getSigAlgName.toUpperCase(java.util.Locale.ROOT)
    // RSASSA-PSS carries its digest in the signature PARAMETERS, not the
    // algorithm name — guessing SHA-256 here would produce a
    // tls-server-end-point mismatch surfacing as a baffling SCRAM proof
    // failure. Fail typed and name the cause instead (r18 ADVICE).
    if (alg.contains("RSASSA-PSS") || alg.contains("PSS"))
      throw new PgWireException("0A000",
        "unsupported certificate signature algorithm for tls-server-end-point " +
          s"channel binding: $alg (RSASSA-PSS digest is in the signature " +
          "parameters); use channel_binding=disable or a SHA-2-signed server cert")
    val h = if (alg.contains("SHA384")) "SHA-384"
    else if (alg.contains("SHA512")) "SHA-512"
    else if (alg.contains("SHA224")) "SHA-224"
    else if (alg.contains("SHA256") || alg.contains("SHA1") || alg.contains("MD5"))
      "SHA-256" // MD5/SHA-1 upgrade to SHA-256 per RFC 5929 / PostgreSQL
    else throw new PgWireException("0A000",
      "unsupported certificate signature hash for tls-server-end-point " +
        s"channel binding: $alg")
    java.security.MessageDigest.getInstance(h).digest(cert.getEncoded)
  }

  private def md5Hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b)
      .map("%02x".format(_)).mkString

  private def readMessage(): (Char, Array[Byte]) = {
    val tpe = in.readByte().toChar
    val len = in.readInt() // includes itself
    // sanity-bound the length BEFORE allocating: a non-PostgreSQL
    // endpoint (an HTTP server answering "HTTP/1.1 ...") yields a
    // garbage prefix that would otherwise become a multi-GB allocation
    // attempt — fail typed instead (08P01 = protocol violation)
    if (len < 4 || len > (1 << 28))
      throw new PgWireException("08P01",
        s"malformed message length $len for type '$tpe' — " +
          s"is $host:$port really a PostgreSQL server?")
    val payload = new Array[Byte](len - 4)
    in.readFully(payload)
    (tpe, payload)
  }

  /** Bounds-checked: an unterminated string (hostile/broken server) is a
    * typed protocol violation, never an ArrayIndexOutOfBounds. */
  private def cstring(b: Array[Byte], from: Int): (String, Int) = {
    var end = from
    while (end < b.length && b(end) != 0) end += 1
    if (from > end || end >= b.length)
      throw new PgWireException("08P01",
        s"unterminated string in server message — is $host:$port really " +
          "a PostgreSQL server?")
    (new String(b, from, end - from, UTF_8), end + 1)
  }

  private def errorFrom(payload: Array[Byte]): PgWireException = {
    // ErrorResponse: (fieldType byte, cstring)* then a terminating 0.
    // Best-effort on malformed payloads: report what was parsed before
    // the frame ran out rather than throwing OUT of a drain loop.
    var i = 0
    var state = "XX000"
    var msg = "unknown error"
    try while (i < payload.length && payload(i) != 0) {
      val field = payload(i).toChar
      val (v, next) = cstring(payload, i + 1)
      if (field == 'C') state = v
      if (field == 'M') msg = v
      i = next
    } catch { case _: PgWireException => () }
    new PgWireException(state, msg)
  }

  /** Write one Simple Query ('Q') message. Refused while a [[scan]] is
    * still being read: the server answers statements in order, so the
    * new statement would read the tail of the old one's rows. */
  private def sendQuery(sql: String): Unit = {
    if (open != null)
      throw new IllegalStateException("a scan is still open on this connection")
    send('Q', sql.getBytes(UTF_8) :+ 0.toByte)
  }

  /** CopyFail ('f'): abort the COPY FROM STDIN the server is waiting on. */
  private def copyFail(reason: String): Unit = send('f', reason.getBytes(UTF_8) :+ 0.toByte)

  /** The answer still being read to the last Simple Query message; null
    * once its `ReadyForQuery` arrived. */
  private var open: Response = _

  /** The backend's answer to one Simple Query message, read one frame at
    * a time up to `ReadyForQuery`: the one message loop behind [[query]]
    * and [[scan]]. A failure never stops the drain. The first one (an
    * `ErrorResponse`, a malformed frame, an unparsable tag) is recorded
    * and thrown once `ReadyForQuery` arrived, so the session stays usable
    * for the next statement. */
  private final class Response {
    var columns: Seq[String] = Seq.empty
    /** RowDescriptions so far: each starts a result set of a batch. */
    var resultSets = 0
    val tags = Vector.newBuilder[String]
    private var err: PgWireException = _
    private def fail(e: PgWireException): Unit = if (err == null) err = e

    /** The next well-formed DataRow, or null once the answer is drained. */
    def next(): DataRow = {
      while (open eq this) {
        val (tpe, payload) = readMessage()
        tpe match {
          case 'T' => // RowDescription
            columns = parseRowDescription(payload, fail)
            resultSets += 1
          case 'D' => // DataRow
            val row = parseDataRow(payload, fail)
            if (row != null) return row
          case 'C' => // CommandComplete
            try tags += cstring(payload, 0)._1
            catch { case e: PgWireException => fail(e) }
          case 'E' => fail(errorFrom(payload))
          case 'Z' => open = null // ReadyForQuery
          case 'G' => // CopyInResponse through plain query(): the server now
            // waits for CopyData and would hang the session — abort with
            // CopyFail so the statement fails typed instead
            copyFail("COPY FROM STDIN requires copyIn()")
          case _ => // EmptyQueryResponse, notices, ParameterStatus, CopyOut
        }
      }
      if (err != null) throw err
      null
    }

    /** The DataRows still to come, each read when it is pulled. */
    def rows: Iterator[DataRow] = Iterator.continually(next()).takeWhile(_ != null)
  }

  private def start(sql: String): Response = {
    sendQuery(sql)
    open = new Response
    open
  }

  /** Run one SQL statement (or a `;`-separated batch) through the Simple
    * Query protocol. Returns the LAST result set plus all command tags;
    * raises [[PgWireException]] on the first server error — AFTER
    * draining to `ReadyForQuery`, so the session survives the failure
    * (how every test asserts error shapes without reconnecting). For DDL
    * and catalog statements: a table's rows stream through [[scan]]. */
  def query(sql: String): PgResult = {
    val r = start(sql)
    var rows = Vector.empty[Seq[String]]
    var rowsOf = 0 // the result set `rows` belongs to
    r.rows.foreach { row =>
      if (rowsOf != r.resultSets) { rows = Vector.empty; rowsOf = r.resultSets }
      rows :+= (0 until row.size).map(row.text)
    }
    PgResult(r.columns, if (rowsOf == r.resultSets) rows else Vector.empty, r.tags.result())
  }

  /** Stream one statement's rows: each `DataRow` frame is read only when
    * the iterator pulls it. A Simple Query result already streams — the
    * server sends rows as it produces them, and TCP backpressure stalls
    * it while the client is busy — so the client holds about one frame,
    * with no cursor, transaction or extra round trip. An `ErrorResponse`
    * mid-stream surfaces as [[PgWireException]], after the rows before
    * it, once the answer is drained to `ReadyForQuery`. The connection
    * runs no other statement until the iterator is exhausted; a caller
    * that stops early closes the client instead. */
  def scan(sql: String): Iterator[DataRow] = start(sql).rows

  /** Malformed-frame guards for the two payloads with internal structure:
    * a hostile or broken server's RowDescription/DataRow must surface as
    * a TYPED 08P01 — recorded via `onErr` and reported after the drain
    * reaches ReadyForQuery (readMessage consumed the whole frame, so the
    * stream stays in sync) — never a raw ArrayIndexOutOfBounds that
    * aborts mid-stream and desyncs the session. Each column's name is
    * followed by tableOid(4) colno(2) typeOid(4) typlen(2) typmod(4)
    * format(2); the bounds check on the last of them is what catches a
    * truncated column entry. */
  private def parseRowDescription(payload: Array[Byte],
                                  onErr: PgWireException => Unit): Seq[String] =
    try {
      val n = ((payload(0) & 0xff) << 8) | (payload(1) & 0xff)
      var i = 2
      (0 until n).map { _ =>
        val (name, next) = cstring(payload, i)
        if (next + 18 > payload.length) throw new PgWireException("08P01", "overrun")
        i = next + 18
        name
      }
    } catch {
      // cstring's typed overrun throw included: it must funnel through
      // onErr like the raw index failures, or it aborts the drain loop
      // mid-stream and desyncs the session
      case _: IndexOutOfBoundsException | _: PgWireException =>
        onErr(new PgWireException("08P01",
          s"malformed RowDescription frame (${payload.length} bytes) — " +
            s"is $host:$port really a PostgreSQL server?"))
        Seq.empty
    }

  private def parseDataRow(payload: Array[Byte],
                           onErr: PgWireException => Unit): DataRow =
    try {
      val n = ((payload(0) & 0xff) << 8) | (payload(1) & 0xff)
      val bounds = new Array[Int](2 * n)
      var i = 2
      var f = 0
      while (f < n) {
        val len = ((payload(i) & 0xff) << 24) | ((payload(i + 1) & 0xff) << 16) |
          ((payload(i + 2) & 0xff) << 8) | (payload(i + 3) & 0xff)
        i += 4
        if (len < -1 || i + math.max(len, 0) > payload.length)
          throw new PgWireException("08P01", "overrun")
        bounds(2 * f) = i
        bounds(2 * f + 1) = len
        i += math.max(len, 0)
        f += 1
      }
      new DataRow(payload, bounds)
    } catch {
      case _: IndexOutOfBoundsException | _: PgWireException =>
        onErr(new PgWireException("08P01",
          s"malformed DataRow frame (${payload.length} bytes) — " +
            s"is $host:$port really a PostgreSQL server?"))
        null
    }

  /** Bulk load through the documented COPY sub-protocol: run a
    * `COPY ... FROM STDIN` statement, answer the server's CopyInResponse
    * ('G') by streaming `lines` as text-format CopyData ('d') frames
    * (chunked, not one frame per row), finish with CopyDone ('c'), and
    * drain to `ReadyForQuery` exactly like [[query]]. Rows must already
    * be COPY-text encoded (tab-separated fields, `\N` nulls, backslash
    * escapes — [[PgWireClient.copyField]] builds a field). The server
    * reports mid-copy errors only after CopyDone on this path; the
    * session survives them (same drain contract as query). */
  def copyIn(sql: String, lines: Iterator[String], chunkBytes: Int = 1 << 16): PgResult =
    copyInStream(sql, chunkBytes) { (buf, flushChunk) =>
      lines.foreach { line =>
        buf.write(line.getBytes(UTF_8))
        buf.write('\n')
        if (buf.size() >= chunkBytes) flushChunk()
      }
    }

  /** Bulk load in COPY BINARY format (`COPY ... WITH (FORMAT binary)`):
    * same sub-protocol state machine as [[copyIn]], but the stream is the
    * documented binary file layout — [[PgBinary.copyHeader]], one
    * length-prefixed tuple per row ([[PgBinary.writeTuple]]), the -1
    * trailer. Each tuple's fields must already be in the COLUMN TYPE's
    * binary send format (null = SQL NULL): raw UTF-8 for TEXT columns,
    * [[PgBinary.vectorSend]] for a real VECTOR column. Vectors cross at
    * 4 bytes per component instead of ~9-13 text chars, and TEXT fields
    * skip the per-character escape scan entirely. */
  def copyInBinary(sql: String, tuples: Iterator[Array[Array[Byte]]],
                   chunkBytes: Int = 1 << 16): PgResult =
    copyInStream(sql, chunkBytes) { (buf, flushChunk) =>
      buf.write(PgBinary.copyHeader, 0, PgBinary.copyHeader.length)
      tuples.foreach { t =>
        PgBinary.writeTuple(buf, t)
        if (buf.size() >= chunkBytes) flushChunk()
      }
      buf.write(PgBinary.copyTrailer, 0, PgBinary.copyTrailer.length)
    }

  private def copyInStream(sql: String, chunkBytes: Int)
                          (body: (java.io.ByteArrayOutputStream, () => Unit) => Unit): PgResult = {
    sendQuery(sql)
    // phase 1: the server must answer CopyInResponse — or an error (bad
    // SQL, missing table), which arrives as 'E' then 'Z'
    var err: PgWireException = null
    var inCopy = false
    var answered = false
    while (!answered) {
      val (tpe, payload) = readMessage()
      tpe match {
        case 'G' => inCopy = true; answered = true // CopyInResponse
        case 'E' => if (err == null) err = errorFrom(payload)
        case 'Z' => answered = true // error path: statement never entered copy
        case 'N' | 'S' | 'A' => // notices / parameter status / LISTEN
        // notifications are benign asynchronous traffic — ride along
        case other =>
          // A genuinely unexpected type: record it and KEEP DRAINING to
          // ReadyForQuery before throwing — bailing out mid-conversation
          // desyncs the session for every later statement, unlike every
          // other drain path in this client (r18 ADVICE).
          if (err == null) err = new PgWireException("08P01",
            s"unexpected message '$other' awaiting CopyInResponse for: $sql")
      }
    }
    if (!inCopy) {
      if (err != null) throw err
      throw new PgWireException("08P01", s"statement did not enter COPY mode: $sql")
    }
    if (err != null) {
      // an unexpected-type error was recorded but the server then entered
      // COPY mode anyway — abort the copy cleanly and surface the error
      copyFail("aborted: protocol desync")
      var d = false
      while (!d) if (readMessage()._1 == 'Z') d = true
      throw err
    }
    // phase 2: stream the data — buffered into chunkBytes frames so a
    // million rows is a few thousand messages, not a million
    val buf = new java.io.ByteArrayOutputStream(chunkBytes + 4096)
    def flushChunk(): Unit = if (buf.size() > 0) {
      out.writeByte('d')
      out.writeInt(4 + buf.size())
      buf.writeTo(out)
      buf.reset()
    }
    try {
      body(buf, () => flushChunk())
      flushChunk()
      out.writeByte('c') // CopyDone
      out.writeInt(4)
      out.flush()
    } catch {
      case e: Throwable =>
        // the ITERATOR threw mid-stream (e.g. a NUL-carrying value
        // rejected by copyField): without CopyFail the session is
        // abandoned in copy-in mode and the next 'Q' is a protocol
        // violation — abort the copy, drain to ReadyForQuery (the
        // server answers 57014), and rethrow the ORIGINAL failure
        try {
          buf.reset() // partial line: never send it
          copyFail("aborted by client: " + String.valueOf(e.getMessage).take(200))
          var done = false
          while (!done) if (readMessage()._1 == 'Z') done = true
        } catch { case _: Throwable => () }
        throw e
    }
    // phase 3: drain to ReadyForQuery, collecting tags/errors like query()
    val tags = Vector.newBuilder[String]
    var done = false
    while (!done) {
      val (tpe, payload) = readMessage()
      tpe match {
        case 'C' =>
          try tags += cstring(payload, 0)._1
          catch { case e: PgWireException => if (err == null) err = e }
        case 'E' => if (err == null) err = errorFrom(payload)
        case 'Z' => done = true
        case _ => // NoticeResponse / ParameterStatus
      }
    }
    if (err != null) throw err
    PgResult(Seq.empty, Seq.empty, tags.result())
  }

  /** Send `sql` as one last Simple Query message, then Terminate, and
    * close without reading the answer. The backend runs the statement
    * before it reads the Terminate queued behind it, so the statement
    * still runs (and commits, or fails unseen) after this returns — for
    * cleanup no caller's result depends on. */
  def closeAfter(sql: String): Unit =
    try sendQuery(sql) finally close()

  private var closed = false

  override def close(): Unit = if (!closed) {
    closed = true
    try {
      out.writeByte('X') // Terminate
      out.writeInt(4)
      out.flush()
    } catch { case _: IOException => () }
    socket.close()
  }
}
