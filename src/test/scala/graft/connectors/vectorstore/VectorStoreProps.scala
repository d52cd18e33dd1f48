package graft.connectors.vectorstore

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.{sources => f}

/** Property-based invariants over the vector-store kernels this round
  * touched — pure JVM (no Spark jobs), so the case counts can be high.
  *
  *  - `VSScoring.topKStreaming` (the k-bounded heap the search fallback
  *    streams through) must equal the full-sort selection for ANY input,
  *    k, and metric — including ties, null vectors, and k ∉ (0, n).
  *  - The filtered-search absorption's null-strictness rule: for every
  *    filter shape `absorb` accepts, a record the store passes (2-valued
  *    `FilterEval.eval`) must also pass Spark's 3-valued semantics
  *    (`eval3 == Some(true)`) — the invariant that makes the retained
  *    plan Filter a no-op over search results instead of a
  *    winner-evicting second selection. The Not counterexample that
  *    motivated the rule is pinned explicitly.
  */
object VectorStoreProps extends Properties("vectorstore") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters)
      : org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(200)

  // ------------------------------------------------------- topKStreaming

  private val genVec: Gen[Array[Float]] =
    Gen.listOfN(4, Gen.chooseNum(-8, 8).map(_.toFloat / 2f)).map(_.toArray)

  private val genRecord: Gen[VSRecord] = for {
    id <- Gen.chooseNum(0, 999)
    vec <- Gen.frequency(9 -> genVec.map(Option(_)), 1 -> Gen.const(None))
    bin <- Gen.chooseNum(0, 255)
  } yield VSRecord(f"r$id%03d", vec.orNull, Map.empty,
    binary = Array(bin.toByte, (id % 7).toByte))

  // duplicate ids/vectors on purpose: ties are the interesting region
  private val genRecords: Gen[List[VSRecord]] =
    Gen.chooseNum(0, 60).flatMap(n => Gen.listOfN(n, genRecord))

  private val genK: Gen[Int] = Gen.chooseNum(0, 70)

  property("topKStreaming == full-sort selection (cosine)") =
    forAll(genRecords, genK, genVec) { (recs, k, qv) =>
      val sp = SearchSpec(qv, k)
      val got = VSScoring.topKStreaming(recs.iterator, sp)
      val want = recs.filter(_.vector != null)
        .map(r => r -> VSScoring.cosine(r.vector, qv))
        .sortBy { case (r, s) => (-s, r.id) }.take(k)
      got.map(_._1.id) == want.map(_._1.id) &&
        got.map(_._2).zip(want.map(_._2)).forall { case (a, b) => a == b }
    }

  property("topKStreaming == full-sort selection (hamming)") =
    forAll(genRecords, genK) { (recs, k) =>
      val sp = SearchSpec(null, k, binary = Array(0x0f.toByte, 0x33.toByte),
        metric = "hamming")
      val got = VSScoring.topKStreaming(recs.iterator, sp)
      val want = recs.filter(_.binary != null)
        .map(r => r -> VSScoring.hammingBytes(r.binary, sp.binary).toDouble)
        .sortBy { case (r, d) => (d, r.id) }.take(k)
      got.map(_._1.id) == want.map(_._1.id) && got.map(_._2) == want.map(_._2)
    }

  // --------------------------------------- null-strict filter absorption

  private val keys = Seq("k1", "k2")
  private val genAtom: Gen[f.Filter] = for {
    key <- Gen.oneOf(keys).map(k => s"metadata.$k")
    v <- Gen.oneOf("a", "b", "5", "12")
    atom <- Gen.oneOf[f.Filter](
      f.EqualTo(key, v), f.GreaterThan(key, v), f.LessThanOrEqual(key, v),
      f.In(key, Array("a", "5")), f.IsNull(key), f.IsNotNull(key),
      f.StringStartsWith(key, "a"), f.Not(f.IsNull(key)), f.Not(f.IsNotNull(key)))
  } yield atom

  private def genFilter(depth: Int): Gen[f.Filter] =
    if (depth <= 0) genAtom
    else Gen.frequency(
      3 -> genAtom,
      1 -> Gen.zip(genFilter(depth - 1), genFilter(depth - 1)).map(t => f.And(t._1, t._2)),
      1 -> Gen.zip(genFilter(depth - 1), genFilter(depth - 1)).map(t => f.Or(t._1, t._2)))

  // records with MISSING keys, null values, and non-numeric strings — the
  // three-valued corners
  private val genMetaRecord: Gen[VSRecord] = for {
    m1 <- Gen.option(Gen.oneOf("a", "b", "5", "12", null: String))
    m2 <- Gen.option(Gen.oneOf("a", "5", null: String))
  } yield VSRecord("x",
    Array(1f), (m1.map("k1" -> _) ++ m2.map("k2" -> _)).toMap)

  property("null-strict filters: store pass implies Spark 3-valued pass") =
    forAll(genFilter(3), genMetaRecord) { (filter, r) =>
      // every generated shape must be absorb-eligible by the classifier
      graft.plans.PushVectorSearch.nullStrict(filter) &&
        (!FilterEval.eval(filter, r) || FilterEval.eval3(filter, r).contains(true))
    }

  // ------------------------------------------------------- cursorWalk

  private val genSchedule: Gen[List[List[String]]] =
    Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n,
      Gen.frequency(
        3 -> Gen.chooseNum(1, 4).flatMap(m =>
          Gen.listOfN(m, Gen.identifier.map(_.take(6)))),
        1 -> Gen.const(List.empty[String])))) // empty page, cursor LIVE

  property("cursorWalk drains any paging schedule exactly once, empty pages included") =
    forAll(genSchedule) { pages =>
      // fetch(cursor): cursor None = page 0; Some(i) = page i; the cursor
      // chain is positional, exhausted after the last page — including
      // trailing empty pages (real backends emit those while bisecting)
      def fetch(cursor: Option[String]): (Seq[VSRecord], Option[String]) = {
        val i = cursor.map(_.toInt).getOrElse(0)
        val recs =
          if (i < pages.length) pages(i).map(id => VSRecord(id, Array(1f), Map.empty))
          else Seq.empty
        val next = if (i + 1 < pages.length) Some((i + 1).toString) else None
        (recs, next)
      }
      val walked = VSPaging.cursorWalk(fetch).flatten.map(_.id).toList
      walked == pages.flatten
    }

  // ---------------------------------- dialect round-trips, hostile values

  private val genNastyString: Gen[String] =
    Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, Gen.frequency(
      6 -> Gen.alphaNumChar,
      2 -> Gen.oneOf('\'', '"', '\\', '\t', ' ', 'ü', '€', '中'),
      1 -> Gen.const('\n'))).map(_.mkString))

  private val genValueAtom: Gen[f.Filter] = for {
    key <- Gen.oneOf("lang", "cat").map(k => s"metadata.$k")
    v <- genNastyString
    v2 <- genNastyString
    num <- Gen.chooseNum(-50, 50)
    atom <- Gen.oneOf[f.Filter](
      f.EqualTo(key, v), f.StringStartsWith(key, v),
      f.In(key, Array[Any](v, v2)), f.GreaterThan(key, num))
  } yield atom

  private val genValueRecord: Gen[VSRecord] = for {
    id <- Gen.chooseNum(0, 99)
    lang <- Gen.option(genNastyString)
    cat <- Gen.option(Gen.oneOf(genNastyString, Gen.chooseNum(-50, 50).map(_.toString)))
  } yield VSRecord(s"v$id", Array(1f),
    (lang.map("lang" -> _) ++ cat.map("cat" -> _)).toMap)

  /** render → wire string → dialect parseFilter → FilterEval must select
    * the SAME records as the original filter — for values with quotes,
    * backslashes, newlines, and non-ASCII (the escaping paths). */
  private def roundTrips(name: String,
                         decode: String => f.Filter,
                         dialect: FilterDialect): Unit =
    property(s"$name: hostile values survive render -> decode -> eval") =
      forAll(genValueAtom, Gen.listOfN(12, genValueRecord)) { (filter, recs) =>
        dialect.render(filter) match {
          case None => true // shape outside this dialect's grammar
          case Some(rendered) =>
            val back = decode(rendered)
            recs.forall(r => FilterEval.eval(back, r) == FilterEval.eval(filter, r))
        }
      }

  roundTrips("qdrant", s => new QdrantFilterDialect().parseFilter(WireJson.mapper.readTree(s)),
    new QdrantFilterDialect)
  roundTrips("milvus", new MilvusExprDialect().parseFilter, new MilvusExprDialect)
  roundTrips("pinecone", s => new PineconeFilterDialect().parseFilter(WireJson.mapper.readTree(s)),
    new PineconeFilterDialect)

  // ------------------------ client/server agreement over filter trees

  private def genTree(depth: Int): Gen[f.Filter] =
    if (depth <= 0) genValueAtom
    else Gen.frequency(
      3 -> genValueAtom,
      1 -> Gen.zip(genTree(depth - 1), genTree(depth - 1)).map(t => f.And(t._1, t._2)),
      1 -> Gen.zip(genTree(depth - 1), genTree(depth - 1)).map(t => f.Or(t._1, t._2)),
      1 -> genTree(depth - 1).map(f.Not(_)))

  private lazy val spark = graft.SparkSpec.session

  /** SQL filter outcome: the records a three-valued evaluation keeps. */
  private def selected(filter: f.Filter, recs: Seq[VSRecord]): Seq[String] =
    recs.filter(r => FilterEval.eval3(filter, r).contains(true)).map(_.id).sorted

  /** Ids Spark keeps under the client's Column for `filter`. */
  private def sparkSelected(dialect: FilterDialect, filter: String,
                            recs: Seq[VSRecord]): Seq[String] = {
    import spark.implicits._
    recs.map(r => (r.id, r.metadata)).toDF("id", "metadata")
      .filter(dialect.parse(filter)).select("id").as[String].collect().toSeq.sorted
  }

  /** One grammar, two consumers: whatever a dialect renders, its parser
    * reads back as a Filter selecting the same records, and the client's
    * Column selects in Spark exactly what the servers' FilterEval selects. */
  private def agrees(dialect: FilterDialect): Unit =
    property(s"${dialect.name}: client Column and server Filter agree on rendered trees") =
      forAll(genTree(3), Gen.listOfN(12, genValueRecord)) { (filter, recs) =>
        dialect.render(filter) match {
          case None => true // shape outside this dialect's grammar
          case Some(rendered) =>
            val back = dialect.parseFilter(rendered)
            selected(back, recs) == selected(filter, recs) &&
              sparkSelected(dialect, rendered, recs) == selected(back, recs)
        }
      }

  agrees(new QdrantFilterDialect)
  agrees(new MilvusExprDialect)
  agrees(new PineconeFilterDialect)

  property("milvus: the client parses the ''-escaped literal its renderer emits") = {
    val recs = Seq(VSRecord("1", Array(1f), Map("lang" -> "it's")),
      VSRecord("2", Array(1f), Map("lang" -> "its")))
    sparkSelected(new MilvusExprDialect, "lang == 'it''s'", recs) == Seq("1")
  }

  property("Not over a value predicate violates the invariant (the hazard is real)") = {
    // the counterexample class the classifier exists to exclude: a record
    // MISSING the key passes 2-valued Not(EqualTo) but is dropped 3-valued
    val hazard = f.Not(f.EqualTo("metadata.k1", "a"))
    val keyless = VSRecord("x", Array(1f), Map.empty)
    !graft.plans.PushVectorSearch.nullStrict(hazard) &&
      FilterEval.eval(hazard, keyless) &&
      !FilterEval.eval3(hazard, keyless).contains(true)
  }
}
