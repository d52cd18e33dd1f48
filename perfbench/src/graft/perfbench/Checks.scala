package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import com.fasterxml.jackson.databind.ObjectMapper
import graft.connectors.pgwire.PgWireClient

/** Output checks, run outside the timed region. Each returns None when
  * the output is right and Some(reason) when it is not; a reason counts
  * toward the run's error rate. */
object Checks {
  private val mapper = new ObjectMapper()

  /** Order-independent checksum of (id, vector bits, metadata): a sum of
    * per-row 64-bit hashes, so row order never matters and one flipped
    * bit, one dropped row or one extra row changes it. */
  def rowHash(id: String, vec: Array[Float], meta: Map[String, String]): Long = {
    var h = Gen.mix(id.hashCode.toLong ^ (id.length.toLong << 32))
    var i = 0
    while (i < vec.length) { h = Gen.mix(h ^ java.lang.Float.floatToRawIntBits(vec(i)).toLong ^ (i.toLong << 40)); i += 1 }
    meta.toSeq.sorted.foreach { case (k, v) => h = Gen.mix(h ^ (k + "\u0000" + v).hashCode.toLong) }
    h
  }

  final case class Digest(rows: Long, sum: Long)

  def digest(rows: Iterator[(String, Array[Float], Map[String, String])]): Digest =
    rows.foldLeft(Digest(0, 0)) { case (d, (id, v, m)) => Digest(d.rows + 1, d.sum + rowHash(id, v, m)) }

  def expected(es: Seq[Emb]): Digest = digest(es.iterator.map(e => (e.id.toString, e.vec, e.meta)))

  /** pgvector text form `[x,y,...]` → floats (exact for any rendering
    * that round-trips the float). */
  def parseVector(s: String): Array[Float] = {
    val body = s.trim.stripPrefix("[").stripSuffix("]")
    if (body.isEmpty) Array.empty else body.split(',').map(x => java.lang.Float.parseFloat(x.trim))
  }

  def parseMeta(s: String): Map[String, String] =
    if (s == null) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      mapper.readTree(s).properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }

  /** Every (id, vector, metadata) row of a pg sink table. */
  def pgRows(port: Int, db: String, table: String): Seq[(String, Array[Float], Map[String, String])] = {
    val c = new PgWireClient("127.0.0.1", port, "postgres", db)
    try c.query(s"SELECT id, vector, metadata FROM $table").rows.map { r =>
      (r(0), parseVector(r(1)), parseMeta(r(2)))
    } finally c.close()
  }

  def pgTable(rows: Seq[(String, Array[Float], Map[String, String])], want: Digest): Option[String] = {
    val got = digest(rows.iterator)
    if (got.rows != want.rows) Some(s"sink holds ${got.rows} rows, expected ${want.rows}")
    else if (got.sum != want.sum) Some("sink checksum of (id, vector, metadata) differs from the input")
    else None
  }

  /** The vector-store sink holds exactly the filtered ids, bit-exact. */
  def vectorSink(got: Seq[(String, Array[Float])], want: Seq[Emb]): Option[String] = {
    val g = got.map { case (id, v) => id -> v }.toMap
    val w = want.map(e => e.id.toString -> e.vec).toMap
    if (g.size != got.size) Some("sink holds duplicated ids")
    else if (g.keySet != w.keySet) {
      val missing = (w.keySet -- g.keySet).size
      val extra = (g.keySet -- w.keySet).size
      Some(s"sink ids differ from the filtered input: $missing missing, $extra unexpected")
    } else w.collectFirst {
      case (id, v) if !java.util.Arrays.equals(
        v.map(java.lang.Float.floatToRawIntBits), g(id).map(java.lang.Float.floatToRawIntBits)) => id
    }.map(id => s"vector of id $id is not bit-exact")
  }

  /** Curation keeps exactly one member of every planted exact-duplicate
    * group whose text passes the quality filter, and drops all junk. */
  def curated(ids: Set[Long], corpus: Gen.Corpus): Option[String] = {
    val badGroup = corpus.exactGroups.find(g => g.count(ids) != 1)
    val keptJunk = corpus.junk.find(ids)
    badGroup.map(g => s"exact-duplicate group ${g.mkString(",")} kept ${g.count(ids)} members")
      .orElse(keptJunk.map(id => s"junk document $id survived the quality filter"))
  }

  def sha(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString

  def shaOf(lines: Seq[String]): String = sha(lines.sorted.mkString("\n").getBytes(UTF_8))
}
