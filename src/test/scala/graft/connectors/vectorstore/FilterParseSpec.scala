package graft.connectors.vectorstore

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import graft.SparkSpec
import graft.model.Canonical

/** The one parser per dialect: filter scalars that used to be coerced
  * silently now fail loudly, Milvus `like` maps onto the Filter algebra,
  * and the client Column selects what the servers' [[FilterEval]] selects
  * on the inputs where the two old parsers disagreed. */
class FilterParseSpec extends SparkSpec {
  import spark.implicits._

  private val recs = Seq(
    VSRecord("1", null, Map("lang" -> "en", "n" -> "5")),
    VSRecord("2", null, Map("lang" -> "english", "n" -> "5.0")),
    VSRecord("3", null, Map("lang" -> "it's", "n" -> "abc")),
    VSRecord("4", null, Map("lang" -> "glen", "n" -> "-2")),
    VSRecord("5", null, Map("n" -> "7")))

  private val docs = recs.map(r => (r.id, r.metadata)).toDF(Canonical.ID, Canonical.METADATA)

  private def server(f: Filter): Seq[String] =
    recs.filter(r => FilterEval.eval3(f, r).contains(true)).map(_.id)

  /** Ids the client Column selects — asserted equal to what the server's
    * evaluation of the same parsed Filter selects. */
  private def client(d: FilterDialect, s: String): Seq[String] = {
    val got = docs.filter(d.parse(s)).select(col(Canonical.ID)).as[String].collect().toSeq.sorted
    assert(got == server(d.parseFilter(s)), s)
    got
  }

  private val qd = new QdrantFilterDialect
  private val pc = new PineconeFilterDialect
  private val mv = new MilvusExprDialect

  test("qdrant range bounds must be numbers, not coerced to 0.0") {
    Seq(""""abc"""", """"2024-01-01T00:00:00Z"""", "null", "[1]").foreach { b =>
      val s = s"""{"must":[{"key":"n","range":{"gte":$b}}]}"""
      intercept[IllegalArgumentException](qd.parse(s))
      intercept[IllegalArgumentException](qd.parseFilter(s))
    }
    assert(client(qd, """{"must":[{"key":"n","range":{"gte":5}}]}""") == Seq("1", "2", "5"))
  }

  test("qdrant match values must be scalars, not coerced to \"\"") {
    Seq("[\"en\"]", """{"v":"en"}""").foreach { v =>
      intercept[IllegalArgumentException](
        qd.parse(s"""{"must":[{"key":"lang","match":{"value":$v}}]}"""))
      intercept[IllegalArgumentException](
        qd.parse(s"""{"must":[{"key":"lang","match":{"any":["en",$v]}}]}"""))
    }
    assert(client(qd, """{"must":[{"key":"lang","match":{"value":"en"}}]}""") == Seq("1"))
  }

  test("pinecone $exists must be boolean, not read as false") {
    intercept[IllegalArgumentException](pc.parse("""{"lang":{"$exists":"yes"}}"""))
    intercept[IllegalArgumentException](pc.parseFilter("""{"lang":{"$exists":1}}"""))
    assert(client(pc, """{"lang":{"$exists":false}}""") == Seq("5"))
    assert(client(pc, """{"lang":{"$exists":true}}""") == Seq("1", "2", "3", "4"))
  }

  test("pinecone value shapes: the servers reject what the client rejected") {
    Seq("""{"lang":["en"]}""", """{"n":{"$gt":"3"}}""", """{"lang":{"$in":"en"}}""",
      """{"lang":{"$ne":{"x":1}}}""", """{"lang":{"$nin":[["en"]]}}""",
      """{"lang":{}}""", """["en"]""").foreach { s =>
      intercept[IllegalArgumentException](pc.parseFilter(s))
      intercept[IllegalArgumentException](pc.parse(s))
    }
  }

  test("pinecone $ne / $nin require the key, on both sides") {
    assert(client(pc, """{"lang":{"$ne":"en"}}""") == Seq("2", "3", "4"))
    assert(client(pc, """{"lang":{"$nin":["en","glen"]}}""") == Seq("2", "3"))
  }

  test("milvus: '' escapes parse on the client, in-lists need commas") {
    assert(client(mv, "lang == 'it''s'") == Seq("3"))
    assert(client(mv, "lang in ['it''s', \"en\"]") == Seq("1", "3"))
    intercept[IllegalArgumentException](mv.parse("lang in ['en' 'it']"))
    intercept[IllegalArgumentException](mv.parse("n in [5 7]"))
  }

  test("milvus like maps prefix/suffix/infix/literal patterns and rejects the rest") {
    assert(mv.parseFilter("lang like 'en%'") == StringStartsWith("lang", "en"))
    assert(mv.parseFilter("lang like '%en'") == StringEndsWith("lang", "en"))
    assert(mv.parseFilter("lang like '%gl%'") == StringContains("lang", "gl"))
    assert(mv.parseFilter("lang like 'en'") == EqualTo("lang", "en"))
    assert(client(mv, "lang like 'en%'") == Seq("1", "2"))
    assert(client(mv, "lang like '%en'") == Seq("1", "4"))
    assert(client(mv, "lang like '%gl%'") == Seq("2", "4"))
    assert(client(mv, "lang like 'en'") == Seq("1"))
    Seq("'e%n'", "'e_%'", "'%e\\%'", "5").foreach { p =>
      intercept[IllegalArgumentException](mv.parseFilter(s"lang like $p"))
    }
  }

  test("mixed-type in-lists type each value, as FilterEval does") {
    assert(qd.parseFilter("""{"must":[{"key":"n","match":{"any":["abc",5]}}]}""") ==
      In("n", Array[Any]("abc", 5.0)))
    assert(client(qd, """{"must":[{"key":"n","match":{"any":["abc",5]}}]}""") ==
      Seq("1", "2", "3"))
    assert(client(mv, "n in ['abc', 7]") == Seq("3", "5"))
    assert(client(pc, """{"n":{"$in":["abc",-2]}}""") == Seq("3", "4"))
  }

  test("a numeric comparison on a non-numeric value is UNKNOWN, also under NOT") {
    // Spark casts "abc" to NULL: neither `n > 0` nor `NOT (n > 0)` holds
    assert(client(mv, "n > 0") == Seq("1", "2", "5"))
    assert(client(mv, "!(n > 0)") == Seq("4"))
    assert(client(qd, """{"must_not":[{"key":"n","range":{"gt":0}}]}""") == Seq("4"))
    // "abc" IN (5, 'x') is UNKNOWN (5 is unknown, 'x' false), so NOT drops it
    assert(client(mv, "not (n in [5, 'x'])") == Seq("4", "5"))
  }
}
