package graft.connectors.vectorstore

import org.apache.spark.sql.sources._
import org.scalatest.funsuite.AnyFunSuite

/** Round-trip glue: every Filter shape a dialect RENDERS must decode back
  * through the dialect's `parseFilter` to a predicate that matches exactly the same
  * records under [[FilterEval]] — the server-side evaluation can then
  * never drift from the engine's. */
class WireFiltersSpec extends AnyFunSuite {

  private val records = Seq(
    VSRecord("1", null, Map("label" -> "3", "lang" -> "en")),
    VSRecord("2", null, Map("label" -> "5", "lang" -> "de")),
    VSRecord("3", null, Map("label" -> "8", "lang" -> "en", "extra" -> "x")),
    VSRecord("4", null, Map("label" -> null, "lang" -> "fr")),
    VSRecord("5", null, Map("lang" -> "en")))

  private val shapes: Seq[Filter] = Seq(
    EqualTo("metadata.label", 5),
    EqualTo("metadata.lang", "en"),
    GreaterThan("metadata.label", 3),
    GreaterThanOrEqual("metadata.label", 5),
    LessThan("metadata.label", 8),
    LessThanOrEqual("metadata.label", 5),
    In("metadata.lang", Array[Any]("en", "fr")),
    In("metadata.label", Array[Any](3, 8)),
    IsNull("metadata.extra"),
    IsNotNull("metadata.extra"),
    And(GreaterThan("metadata.label", 3), EqualTo("metadata.lang", "en")),
    Or(EqualTo("metadata.lang", "de"), EqualTo("metadata.lang", "fr")),
    Not(EqualTo("metadata.lang", "en")),
    And(Or(EqualTo("metadata.lang", "en"), EqualTo("metadata.lang", "de")),
      Not(LessThan("metadata.label", 5))))

  /** The engine strips the `metadata.` prefix when rendering; the decoded
    * wire filter addresses the bare key, which FilterEval resolves the
    * same way — compare matches on the ORIGINAL vs the ROUND-TRIPPED. */
  private def matches(f: Filter): Seq[String] =
    records.filter(r => FilterEval.eval(f, r)).map(_.id)

  test("qdrant: render -> JSON -> WireFilters decodes to the same matches") {
    val d = new QdrantFilterDialect
    shapes.foreach { f =>
      val rendered = d.render(f).getOrElse(fail(s"unrenderable: $f"))
      val back = new QdrantFilterDialect().parseFilter(WireJson.mapper.readTree(rendered))
      assert(matches(back) == matches(f), s"$f -> $rendered -> $back")
    }
  }

  test("qdrant: combine() of several filters decodes to their conjunction") {
    val d = new QdrantFilterDialect
    val fs = Seq[Filter](GreaterThanOrEqual("metadata.label", 5),
      EqualTo("metadata.lang", "en"))
    val combined = d.combine(fs.flatMap(d.render)).get
    val back = new QdrantFilterDialect().parseFilter(WireJson.mapper.readTree(combined))
    assert(matches(back) == matches(And(fs(0), fs(1))), combined)
  }

  test("milvus: render -> expr -> WireFilters decodes to the same matches") {
    val d = new MilvusExprDialect
    // the Milvus dialect renders no null-checks; everything else must
    // round-trip (assert the coverage so a render regression is loud)
    val renderable = shapes.flatMap(f => d.render(f).map(f -> _))
    assert(renderable.length == shapes.length - 2, renderable.length.toString)
    renderable.foreach { case (f, rendered) =>
      val back = new MilvusExprDialect().parseFilter(rendered)
      assert(matches(back) == matches(f), s"$f -> $rendered -> $back")
    }
  }

  test("milvus: combine() and quote escaping survive the round trip") {
    val d = new MilvusExprDialect
    val fs = Seq[Filter](EqualTo("metadata.lang", "it's"), // embedded quote
      GreaterThan("metadata.label", 3))
    val combined = d.combine(fs.flatMap(d.render)).get
    val back = new MilvusExprDialect().parseFilter(combined)
    val probe = Seq(VSRecord("9", null, Map("lang" -> "it's", "label" -> "4")),
      VSRecord("10", null, Map("lang" -> "it's", "label" -> "2")))
    assert(probe.filter(r => FilterEval.eval(back, r)).map(_.id) == Seq("9"), combined)
  }

  test("pinecone: render -> JSON -> WireFilters decodes to the same matches") {
    val d = new PineconeFilterDialect
    // Pinecone's Mongo-style grammar has no IsNull-on-present-key, no
    // IsNotNull, and no general $not — assert exactly which shapes render
    // so a render regression is loud, then round-trip the renderable set
    val renderable = shapes.flatMap(f => d.render(f).map(f -> _))
    assert(renderable.length == shapes.length - 3, renderable.map(_._1).toString)
    renderable.foreach { case (f, rendered) =>
      val back = new PineconeFilterDialect().parseFilter(WireJson.mapper.readTree(rendered))
      assert(matches(back) == matches(f), s"$f -> $rendered -> $back")
    }
  }

  test("pinecone: combine() of several filters decodes to their conjunction") {
    val d = new PineconeFilterDialect
    val fs = Seq[Filter](GreaterThanOrEqual("metadata.label", 5),
      EqualTo("metadata.lang", "en"))
    val combined = d.combine(fs.flatMap(d.render)).get
    val back = new PineconeFilterDialect().parseFilter(WireJson.mapper.readTree(combined))
    assert(matches(back) == matches(And(fs(0), fs(1))), combined)
  }

  test("keyword-prefixed field names parse as identifiers, not operators") {
    // regression: peekWord treated '_'/'.' as word boundaries, so
    // `not_spam == 1` tokenized as `not` + `_spam` and matched everything
    assert(new MilvusExprDialect().parseFilter("not_spam == 1") == EqualTo("not_spam", 1.0))
    assert(new MilvusExprDialect().parseFilter("in_list == 'x'") == EqualTo("in_list", "x"))
    assert(new MilvusExprDialect().parseFilter("and.b > 2") == GreaterThan("and.b", 2.0))
    assert(new MilvusExprDialect().parseFilter("not not_spam == 1") ==
      Not(EqualTo("not_spam", 1.0)))
    // the Column-producing twin must agree (same grammar, same fix)
    val c = new MilvusExprDialect().parse("not_spam == 1")
    val probe = Seq(VSRecord("1", null, Map("not_spam" -> "1")),
      VSRecord("2", null, Map("other" -> "9")))
    assert(probe.filter(r =>
      FilterEval.eval(new MilvusExprDialect().parseFilter("not_spam == 1"), r)).map(_.id) == Seq("1"))
  }

  test("$ne / must_not on a MISSING key: decode matches Column semantics, not bare Not") {
    // The shared fixture above gives every record a 'lang' key, so the
    // Not/$ne round trips there never see the documented divergence. This
    // record has NO 'lang' at all:
    val noLang = VSRecord("6", null, Map("label" -> "9"))
    val rs = records :+ noLang
    val f = Not(EqualTo("metadata.lang", "en"))
    // Under SQL/Column three-valued semantics — what Spark applies when it
    // fully pushes the predicate — `NOT(missing = 'en')` is NULL: no match.
    def columnMatches(g: Filter): Seq[String] =
      rs.filter(r => FilterEval.eval3(g, r).contains(true)).map(_.id)
    assert(columnMatches(f) == Seq("2", "4"))
    // FilterEval's bare two-valued Not DOES match the missing-key record —
    // the divergence this test exists to pin:
    assert(rs.filter(r => FilterEval.eval(f, r)).map(_.id) == Seq("2", "4", "6"))

    // Pinecone renders Not(EqualTo) as $ne, which real Pinecone evaluates
    // as present-AND-different; the decode's IsNotNull conjunct reproduces
    // that, agreeing with Column semantics on the missing-key record:
    val pc = new PineconeFilterDialect
    val pcBack = new PineconeFilterDialect().parseFilter(
      WireJson.mapper.readTree(pc.render(f).get))
    assert(pcBack == And(IsNotNull("lang"), Not(EqualTo("lang", "en"))))
    assert(rs.filter(r => FilterEval.eval(pcBack, r)).map(_.id) == columnMatches(f))

    // Qdrant's must_not DOES match missing-key records (like bare Not) —
    // safe in practice because Spark never pushes a null-intolerant Not
    // without its IsNotNull companion; the conjunction it actually pushes
    // round-trips to the Column-semantics matches:
    val qd = new QdrantFilterDialect
    val qdBareBack = new QdrantFilterDialect().parseFilter(
      WireJson.mapper.readTree(qd.render(f).get))
    assert(rs.filter(r => FilterEval.eval(qdBareBack, r)).map(_.id) == Seq("2", "4", "6"))
    val pushed = And(IsNotNull("metadata.lang"), f)
    val qdBack = new QdrantFilterDialect().parseFilter(
      WireJson.mapper.readTree(qd.render(pushed).get))
    assert(rs.filter(r => FilterEval.eval(qdBack, r)).map(_.id) == columnMatches(f))
    assert(columnMatches(pushed) == columnMatches(f))
  }

  test("unsupported wire payloads raise instead of silently matching all") {
    intercept[IllegalArgumentException](
      new QdrantFilterDialect().parseFilter(WireJson.mapper.readTree(
        """{"must":[{"key":"x","geo_radius":{}}]}""")))
    intercept[IllegalArgumentException](new MilvusExprDialect().parseFilter("label ~~ 3"))
    intercept[IllegalArgumentException](new MilvusExprDialect().parseFilter("label == "))
  }
}
