package graft.connectors

import graft.SparkSpec
import graft.config.QuerySpec
import graft.connectors.pgwire.{PgTestServer, PgWireClient, PgWireException}
import org.apache.spark.sql.functions._

/** LIVE verification of the pgvector connector against a real
  * PostgreSQL server, through the engine's own v3 wire client
  * ([[PgWireClient]]) — the connector's only data path:
  *
  *   VERIFIED LIVE here: `buildSelect` projections/filters/limits,
  *   `catalogPredicate` existence + case folding + search-path
  *   resolution, the `information_schema.columns` introspection query,
  *   the vector TEXT codec round trip, the exact failure shape of the
  *   `VECTOR(d)` DDL on a server without the pgvector extension, and the
  *   connector's reads, writes (direct and staged COPY, text and binary
  *   framing, per-partition atomicity) and incremental migrations end
  *   to end.
  *
  *   NOT verifiable where the `vector` extension is not installed: the
  *   `vector` type itself — covered by unit/property/oracle gates, with
  *   the write falling back to a TEXT column. Every test skips when no
  *   local PostgreSQL can start. */
class PgLiveWireSpec extends SparkSpec {
  import spark.implicits._

  private var server: Option[PgTestServer.Running] = None
  private var client: PgWireClient = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    server = PgTestServer.start()
    server.foreach(r => client = new PgWireClient("127.0.0.1", r.port))
  }

  override def afterAll(): Unit = {
    try {
      if (client != null) client.close()
      server.foreach(_.stop())
    } finally super.afterAll()
  }

  private def live(): PgWireClient = {
    assume(server.isDefined, "no local PostgreSQL server available — skipped")
    client
  }

  private val connector = new PgVectorConnector

  test("buildSelect runs verbatim on live PostgreSQL: projection, filter, limit, offset") {
    val c = live()
    c.query("CREATE TABLE items (vec_id BIGINT, embedding TEXT, label TEXT)")
    c.query("INSERT INTO items VALUES " +
      (0 until 10).map(i => s"($i, '[$i,${i * 2}]', 'l${i % 3}')").mkString(", "))
    val sel = connector.buildSelect(QuerySpec(collection = "items",
      idColumn = "vec_id", vectorColumn = Some("embedding"),
      metadataColumns = Seq("label"), filter = Some("vec_id >= 4"),
      limit = Some(3), offset = Some(1)))
    // run verbatim, wrapped in a subquery for a stable ORDER BY
    val r = c.query(s"SELECT * FROM ($sel) graft_scan ORDER BY vec_id")
    assert(r.columns == Seq("vec_id", "embedding", "label"), r.columns)
    assert(r.rows.length == 3, r.rows)
    assert(r.rows.forall(_.apply(0).toLong >= 4))
    // the ::text cast in the projection is what decodes a real vector
    // column; on this TEXT fixture it must still pass through unchanged
    assert(r.rows.head(1).startsWith("[") && r.rows.head(1).endsWith("]"))
  }

  test("catalogPredicate: live case folding, verbatim quoted names, schema scoping") {
    val c = live()
    c.query("CREATE TABLE casefold_t (x INT)")
    c.query("CREATE TABLE \"QuotedT\" (x INT)")
    c.query("CREATE SCHEMA other; CREATE TABLE other.casefold_t (y INT)")
    def existsCount(pred: String): Long =
      c.query(s"SELECT count(*) FROM information_schema.tables WHERE $pred")
        .rows.head.head.toLong
    // the connector's DDL ships unquoted names, which Postgres folds —
    // the probe must find the folded relation from a mixed-case reference
    assert(existsCount(connector.catalogPredicate("CaseFold_T")) >= 1,
      "folded-name probe missed the live relation")
    // a foreign tool's QUOTED mixed-case relation matches verbatim
    assert(existsCount(connector.catalogPredicate("QuotedT")) >= 1)
    assert(existsCount(connector.catalogPredicate("absent_t")) == 0)
    // schema-qualified probe constrains table_schema
    assert(existsCount(connector.catalogPredicate("other.casefold_t")) == 1)
    assert(existsCount(connector.catalogPredicate("other.quotedt")) == 0)
  }

  test("schemaInfo's column introspection resolves like the unqualified read (search_path)") {
    val c = live()
    // same table name in TWO schemas; search_path = "$user", public — the
    // firstVisibleOnly predicate must introspect only public's columns
    c.query("CREATE TABLE dup_t (a INT, b TEXT)")
    c.query("CREATE SCHEMA s2; CREATE TABLE s2.dup_t (z BIGINT)")
    val cols = c.query(
      "SELECT column_name, data_type, udt_name FROM information_schema.columns " +
        s"WHERE ${connector.catalogPredicate("dup_t", firstVisibleOnly = true)} " +
        "ORDER BY ordinal_position")
    assert(cols.rows.map(_.head) == Seq("a", "b"),
      s"interleaved or wrong-schema columns: ${cols.rows}")
    assert(cols.rows.map(_.apply(2)) == Seq("int4", "text"))
  }

  test("vector text codec round-trips through a live TEXT column") {
    val c = live()
    c.query("CREATE TABLE vec_rt (vec_id BIGINT, embedding TEXT)")
    val src = Seq(
      (1L, Seq(0.25f, -1.5f, 3.0f)),
      (2L, Seq(1e-4f, 2.5f, -0.125f)),
      (3L, null.asInstanceOf[Seq[Float]])).toDF("vec_id", "embedding")
    // literals built by the ENGINE's write codec, inserted over the wire
    val lits = src.select(col("vec_id"),
      PgVectorCodec.vectorToText(col("embedding")).as("t")).collect()
    val values = lits.map { r =>
      val t = if (r.isNullAt(1)) "NULL" else s"'${r.getString(1)}'"
      s"(${r.getLong(0)}, $t)"
    }.mkString(", ")
    assert(c.query(s"INSERT INTO vec_rt VALUES $values").rowCount == 3)
    // read back over the wire, decode with the READ codec, compare exactly
    val back = c.query("SELECT vec_id, embedding FROM vec_rt ORDER BY vec_id")
    val decoded = back.rows.map(r => (r(0).toLong, Option(r(1)))).toDF("vec_id", "t")
      .select(col("vec_id"), PgVectorCodec.textToVector(col("t")).as("embedding"))
    val got = decoded.orderBy("vec_id").collect()
      .map(r => if (r.isNullAt(1)) null else r.getSeq[Float](1))
    val want = src.orderBy("vec_id").collect()
      .map(r => if (r.isNullAt(1)) null else r.getSeq[Float](1))
    assert(got.toSeq == want.toSeq, s"got ${got.toSeq} want ${want.toSeq}")
  }

  test("VECTOR(d) DDL fails with the documented SQLSTATE on an extension-less server") {
    val c = live()
    // the exact DDL shape the connector's write emits
    val e = intercept[PgWireException] {
      c.query("CREATE TABLE no_ext (id TEXT, vector VECTOR(3), metadata TEXT)")
    }
    assert(e.sqlState == "42704", s"${e.sqlState}: ${e.getMessage}") // undefined_object
    assert(e.getMessage.toLowerCase.contains("vector"), e.getMessage)
    // the extension itself is absent — the env constraint, captured live
    val e2 = intercept[PgWireException] { c.query("CREATE EXTENSION vector") }
    assert(e2.getMessage.toLowerCase.contains("vector"), e2.getMessage)
    // the session survives both errors (drain-to-ReadyForQuery contract)
    assert(c.query("SELECT 41 + 1").rows.head.head == "42")
  }

  private def wireConn(extra: (String, String)*): Map[String, String] =
    Map("host" -> "127.0.0.1", "port" -> server.get.port.toString,
      "protocol" -> "wire", "database" -> "postgres", "user" -> "postgres") ++ extra

  private val framings = Seq("text" -> Seq.empty[(String, String)],
    "binary" -> Seq("data_format" -> "binary"))

  private def canonical(rows: Seq[(String, Seq[Float], Map[String, String])]) =
    rows.toDF(graft.model.Canonical.ID, graft.model.Canonical.VECTOR,
      graft.model.Canonical.METADATA)

  /** `n` canonical rows `k<i>` in two partitions, rows [0, n/2) and
    * [n/2, n), ~0.5 KB each, metadata naming `version`. Row `bad`, when
    * given, carries a NUL in its id: PostgreSQL text cannot hold one, so
    * encoding that row fails its partition's COPY mid-stream. */
  private def twoPartitions(n: Int, version: Int, bad: Option[Int] = None) =
    spark.sparkContext.parallelize((0 until n).map { i =>
      (if (bad.contains(i)) s"k$i\u0000" else s"k$i",
        Seq.tabulate(64)(j => version + j + i / 1000f), Map("v" -> version.toString))
    }, 2).toDF(graft.model.Canonical.ID, graft.model.Canonical.VECTOR,
      graft.model.Canonical.METADATA)

  private def causedBy(e: Throwable, fragment: String): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains(fragment))

  /** Seeded strings over the full hazard palette — quotes, backslashes,
    * COPY framing chars, \N lookalikes, unicode, placeholder lookalikes
    * (NUL excluded: rejected by contract); value 0 is empty. */
  private def fuzzValues: Seq[String] = {
    val rnd = new scala.util.Random(181818L)
    val palette = "ab'\"\\\t\n\r$12;—é中,{}%_N".toCharArray
    (0 until 120).map { i =>
      if (i == 0) "" else
        (0 until (1 + rnd.nextInt(24))).map(_ => palette(rnd.nextInt(palette.length))).mkString
    }
  }

  /** Writes `values` through the connector — each value inside its row's
    * id (raw through the COPY framing) and as its metadata value — into a
    * fresh table, direct (`recreate`) or staged, and asserts every value
    * reads back byte-identical. */
  private def assertConnectorRoundTrip(values: Seq[String], conn: Map[String, String],
                                       table: String, recreate: Boolean): Unit = {
    val pgv = ConnectorRegistry("pgvector")
    live().query(s"DROP TABLE IF EXISTS $table")
    val rows = values.zipWithIndex.map { case (v, i) =>
      (s"$i:$v", Seq(i.toFloat, -0.5f), Map("v" -> v)) }
    val load = graft.config.LoadSpec(collection = table, recreate = recreate)
    assert(pgv.write(canonical(rows), conn, load).written == values.length)
    val back = pgv.readBack(spark, conn, load).collect()
      .map(r => r.getString(0) -> (r.getSeq[Float](1), r.getMap[String, String](2)("v"))).toMap
    assert(back.size == values.length, s"$table: ${back.size} rows")
    rows.foreach { case (id, vec, meta) =>
      assert(back.get(id).contains((vec, meta("v"))),
        s"$table mangled ${id.toSeq}: ${back.get(id)}")
    }
  }

  test("connector write + exists + readBack end-to-end over protocol=wire") {
    live()
    val pgv = ConnectorRegistry("pgvector")
    val df = Seq(
      ("a", Seq(1.5f, -2.25f), Map("k" -> "v'--; DROP TABLE x", "u" -> "héllo")),
      ("b", Seq(0.001f, 42f), Map("k" -> "2")),
      ("c", null.asInstanceOf[Seq[Float]], Map.empty[String, String]))
      .toDF(graft.model.Canonical.ID, graft.model.Canonical.VECTOR,
        graft.model.Canonical.METADATA)
    val load = graft.config.LoadSpec(collection = "wire_e2e", recreate = true)
    assert(!pgv.exists(spark, wireConn(), "wire_e2e"))
    val rep = pgv.write(df, wireConn(), load)
    assert(rep.written == 3, rep)
    assert(pgv.exists(spark, wireConn(), "wire_e2e"))
    // schema introspection over the wire (TEXT fallback: no vector type)
    val si = pgv.schemaInfo(spark, wireConn(), "wire_e2e")
    assert(si.schema.fieldNames.toSeq == Seq("id", "vector", "metadata"), si.schema)
    // readBack = the write codec's inverse — canonical round trip, hostile
    // metadata values included (the '' escaping is what's under test)
    val back = pgv.readBack(spark, wireConn(), load)
      .orderBy(graft.model.Canonical.ID).collect()
    assert(back.map(_.getString(0)).toSeq == Seq("a", "b", "c"))
    assert(back(0).getMap[String, String](2).toMap ==
      Map("k" -> "v'--; DROP TABLE x", "u" -> "héllo"))
    assert(back(0).getSeq[Float](1) == Seq(1.5f, -2.25f))
    assert(back(2).isNullAt(1) || back(2).getSeq[Float](1) == null)
    // recreate=false write lands new ids...
    def one(vec: Seq[Float]) = Seq(("d", vec, Map("k" -> "4")))
      .toDF(graft.model.Canonical.ID, graft.model.Canonical.VECTOR,
        graft.model.Canonical.METADATA)
    val rep2 = pgv.write(one(Seq(7f, 7f)), wireConn(), load.copy(recreate = false))
    assert(rep2.written == 1)
    assert(pgv.readBack(spark, wireConn(), load).count() == 4)
    // ...and REPLACES existing ids (the connector's id-keyed upsert: each
    // batch is one atomic delete-then-insert statement) — a re-delivered
    // batch (retried Spark task) converges instead of duplicating ids
    pgv.write(one(Seq(8f, 8f)), wireConn(), load.copy(recreate = false))
    val after = pgv.readBack(spark, wireConn(), load)
    assert(after.count() == 4, "upsert duplicated an existing id")
    assert(after.filter(col(graft.model.Canonical.ID) === "d")
      .head().getSeq[Float](1) == Seq(8f, 8f), "upsert kept the stale version")
  }

  test("a null vector element round-trips through a TEXT target as a null element, " +
    "text and binary framing") {
    live()
    val pgv = ConnectorRegistry("pgvector")
    val df = spark.sql("SELECT 'a' AS id, array(1.5F, NULL, 2.0F) AS vector, " +
      "map('k', '1') AS metadata UNION ALL " +
      "SELECT 'b', array(3.0F, 4.0F, 5.0F), map('k', '2')")
    for ((framing, extra) <- framings) {
      val load = graft.config.LoadSpec(collection = s"wire_nullelem_$framing", recreate = true)
      assert(pgv.write(df, wireConn(extra: _*), load).written == 2, framing)
      val back = pgv.readBack(spark, wireConn(), load).orderBy(graft.model.Canonical.ID)
        .collect().map(r => r.getString(0) -> r.getSeq[Any](1).toSeq).toSeq
      assert(back == Seq("a" -> Seq(1.5f, null, 2.0f), "b" -> Seq(3f, 4f, 5f)),
        s"$framing: $back")
    }
  }

  test("staged COPY upsert replaces changed ids and keeps the others") {
    live()
    val pgv = ConnectorRegistry("pgvector")
    val load = graft.config.LoadSpec(collection = "wire_upsert", recreate = true)
    val first = Seq(("x", Seq(1f, 2f), Map("k" -> "it's")),
      ("y", Seq(3f, 4f), Map("k" -> "kept")), ("z", Seq(5f, 6f), Map.empty[String, String]))
    assert(pgv.write(canonical(first), wireConn(), load).written == 3)
    // staged: "x" changes, "w" is new, "y" and "z" are not in the frame
    val second = Seq(("x", Seq(7f, 8f), Map("k" -> "it's new")),
      ("w", Seq(9f, 9f), Map("k" -> "w")))
    assert(pgv.write(canonical(second), wireConn(), load.copy(recreate = false)).written == 2)
    val back = pgv.readBack(spark, wireConn(), load).collect()
      .map(r => r.getString(0) -> (r.getSeq[Float](1), r.getMap[String, String](2).toMap))
    assert(back.length == 4 && back.map(_._1).distinct.length == 4,
      s"the staged upsert duplicated or lost an id: ${back.toSeq}")
    assert(back.toMap == Map(
      "x" -> (Seq(7f, 8f), Map("k" -> "it's new")), "w" -> (Seq(9f, 9f), Map("k" -> "w")),
      "y" -> (Seq(3f, 4f), Map("k" -> "kept")), "z" -> (Seq(5f, 6f), Map.empty[String, String])))
  }

  test("COPY write path: framing characters in values survive the text-format escapes") {
    live()
    val pgv = ConnectorRegistry("pgvector")
    // tab, newline, CR, backslash, and \N-lookalike — exactly the bytes
    // COPY text format frames rows/fields with; unescaped, any of them
    // would split or null the row
    val hostile = Map(
      "tab" -> "a\tb", "nl" -> "line1\nline2", "cr" -> "x\ry",
      "bs" -> "c:\\dir\\n not a newline", "nul_lookalike" -> "\\N")
    val df = Seq(("h1", Seq(1f, -2f), hostile))
      .toDF(graft.model.Canonical.ID, graft.model.Canonical.VECTOR,
        graft.model.Canonical.METADATA)
    val load = graft.config.LoadSpec(collection = "wire_copy_esc", recreate = true)
    assert(pgv.write(df, wireConn(), load).written == 1)
    val got = pgv.readBack(spark, wireConn(), load).head()
    assert(got.getMap[String, String](2).toMap == hostile,
      s"COPY escaping mangled a value: ${got.getMap[String, String](2).toMap}")
    assert(got.getSeq[Float](1) == Seq(1f, -2f))
  }

  test("copyIn error shapes: bad relation fails typed; query() on COPY can't hang") {
    val c = live()
    import graft.connectors.pgwire.PgWireClient.copyField
    // COPY into a missing table: error arrives BEFORE copy mode — typed,
    // and the session survives (drain-to-ReadyForQuery contract)
    val e = intercept[PgWireException](
      c.copyIn("COPY absent_copy_t FROM STDIN", Iterator("1\t2")))
    assert(e.sqlState == "42P01", s"${e.sqlState}: ${e.getMessage}")
    assert(c.query("SELECT 1 + 1").rows.head.head == "2")
    // a COPY FROM STDIN issued through plain query(): the client answers
    // CopyFail instead of leaving the server waiting forever; the
    // statement fails typed (57014 query_canceled) and the session lives
    c.query("CREATE TABLE copy_guard_t (a TEXT)")
    val e2 = intercept[PgWireException](c.query("COPY copy_guard_t FROM STDIN"))
    assert(e2.getMessage.contains("copyIn"), s"${e2.sqlState}: ${e2.getMessage}")
    assert(c.query("SELECT 2 + 2").rows.head.head == "4")
    // happy path straight through the client: rows land, tag is COPY n
    val r = c.copyIn("COPY copy_guard_t (a) FROM STDIN",
      Iterator(copyField("v1"), copyField(null), copyField("a\tb")))
    assert(r.tags.lastOption.exists(_.startsWith("COPY")), r.tags)
    assert(r.rowCount == 3, r.tags)
    val back = c.query("SELECT a FROM copy_guard_t ORDER BY a NULLS LAST")
    assert(back.rows.map(r => Option(r.head)) ==
      Seq(Some("a\tb"), Some("v1"), None), back.rows)
  }

  test("binary staged COPY carries hostile values with no escaping surface") {
    live()
    // every classic injection/framing shape, inside the id (raw through
    // the binary framing: length-prefixed, never escaped) and as the
    // metadata value; the SQL text never contains any of them
    val hostile = Seq(
      "it's'; DROP TABLE wire_hostile; --", "back\\slash", "line1\nline2",
      "tab\there", "$1 $2 lookalike", "\\N", "héllo — ünïcode", "")
    assertConnectorRoundTrip(hostile, wireConn("data_format" -> "binary"),
      "wire_hostile", recreate = false)
    // the table survived every "injection" — the values were data
    assert(live().query("SELECT count(*) FROM wire_hostile").rows.head.head == "8")
    // a NULL vector and an empty metadata map ride the same stage
    val pgv = ConnectorRegistry("pgvector")
    val load = graft.config.LoadSpec(collection = "wire_hostile")
    pgv.write(canonical(Seq(("knull", null, Map.empty[String, String]))),
      wireConn("data_format" -> "binary"), load)
    val n = pgv.readBack(spark, wireConn(), load)
      .filter(col(graft.model.Canonical.ID) === "knull").head()
    assert(n.isNullAt(1) && n.getMap[String, String](2).isEmpty, n)
  }

  test("fuzz: generated strings round-trip text COPY framing, client, direct and staged") {
    val c = live()
    import graft.connectors.pgwire.PgWireClient.copyField
    val values = fuzzValues
    c.query("CREATE TABLE fuzz_copy (k INT, v TEXT)")
    c.copyIn("COPY fuzz_copy FROM STDIN",
      values.zipWithIndex.iterator.map { case (v, i) => s"$i\t${copyField(v)}" })
    val got = c.query("SELECT k, v FROM fuzz_copy ORDER BY k").rows
      .map(r => r(0).toInt -> r(1)).toMap
    values.zipWithIndex.foreach { case (v, i) =>
      // COPY maps the empty-string field '' to '' (only \N is NULL)
      assert(got(i) == v, s"fuzz_copy mangled value $i: ${got(i).toSeq} != ${v.toSeq}")
    }
    assertConnectorRoundTrip(values, wireConn(), "fuzz_direct", recreate = true)
    assertConnectorRoundTrip(values, wireConn(), "fuzz_staged", recreate = false)
  }

  test("BINARY fuzz: binary COPY framing round-trips the text fuzz population, " +
    "client, direct and staged") {
    val c = live()
    import graft.connectors.pgwire.PgBinary
    // SAME population as the text fuzz test: the binary framing must land
    // it identically — framing chars included, with NO escaping pass at
    // all (binary length-prefixes everything)
    val values = fuzzValues
    c.query("CREATE TABLE fuzzb_copy (k INT, v TEXT)")
    // binary COPY: int4 binary key + raw-UTF-8 text field per tuple
    val r = c.copyInBinary("COPY fuzzb_copy (k, v) FROM STDIN WITH (FORMAT binary)",
      values.zipWithIndex.iterator.map { case (v, i) =>
        Array(PgBinary.int4Send(i), PgBinary.textSend(v))
      })
    assert(r.rowCount == values.length, r.tags)
    val got = c.query("SELECT k, v FROM fuzzb_copy ORDER BY k").rows
      .map(r => r(0).toInt -> r(1)).toMap
    assert(got.size == values.length, s"fuzzb_copy: ${got.size} rows")
    values.zipWithIndex.foreach { case (v, i) =>
      assert(got(i) == v, s"fuzzb_copy mangled value $i: ${got(i).toSeq} != ${v.toSeq}")
    }
    val bin = wireConn("data_format" -> "binary")
    assertConnectorRoundTrip(values, bin, "fuzzb_direct", recreate = true)
    assertConnectorRoundTrip(values, bin, "fuzzb_staged", recreate = false)
  }

  test("a binary-framed write reads back byte-identically through the text scan") {
    val c = live()
    val pgv = ConnectorRegistry("pgvector")
    // float edge values the text rendering must carry exactly: ±0,
    // subnormals, extremes, and a value with no short decimal form
    val df = canonical(Seq(
      ("a", Seq(-0.0f, 0.0f, Float.MinPositiveValue, Float.MaxValue, -1e-38f, 0.1f),
        Map("t" -> "tab\thére", "q" -> "it's")),
      ("b", Seq(1f / 3, -2.25f, 1e20f, -7f, 1e-7f, 3.4028235e38f), Map("k" -> "")),
      ("c", null, Map.empty[String, String])))
    val load = (t: String) => graft.config.LoadSpec(collection = t, recreate = true)
    pgv.write(df, wireConn(), load("wire_fmt_text"))
    pgv.write(df, wireConn("data_format" -> "binary"), load("wire_fmt_bin"))
    // the server holds the same bytes either way...
    def raw(t: String) = c.query(s"SELECT id, vector, metadata FROM $t ORDER BY id").rows
    assert(raw("wire_fmt_bin") == raw("wire_fmt_text"), raw("wire_fmt_bin"))
    // ...and the one read path decodes the binary-framed table bit-exactly
    val want = df.collect().map(r => r.getString(0) ->
      Option(r.getSeq[Float](1)).map(_.map(java.lang.Float.floatToIntBits))).toMap
    val got = pgv.readBack(spark, wireConn(), load("wire_fmt_bin")).collect()
      .map(r => r.getString(0) ->
        Option(r.getSeq[Float](1)).map(_.map(java.lang.Float.floatToIntBits))).toMap
    assert(got == want, got)
  }

  test("face data_format=binary: direct-COPY write and staged binary upsert " +
    "match the text path end to end") {
    live()
    val pgv = ConnectorRegistry("pgvector")
    val conn = wireConn("data_format" -> "binary")
    val hostile = Map(
      "tab" -> "a\tb", "nl" -> "line1\nline2", "cr" -> "x\ry",
      "bs" -> "c:\\dir\\n not a newline", "nul_lookalike" -> "\\N",
      "quote" -> "it's'; --")
    val df = Seq(
      ("a", Seq(1.5f, -2.25f), hostile),
      ("b", Seq(0.001f, 42f), Map("k" -> "2")),
      ("c", null.asInstanceOf[Seq[Float]], Map.empty[String, String]))
      .toDF(graft.model.Canonical.ID, graft.model.Canonical.VECTOR,
        graft.model.Canonical.METADATA)
    val load = graft.config.LoadSpec(collection = "wire_bin_e2e", recreate = true)
    // recreate=true -> DIRECT binary COPY into the target (no stage)
    assert(pgv.write(df, conn, load).written == 3)
    val back = pgv.readBack(spark, conn, load)
      .orderBy(graft.model.Canonical.ID).collect()
    assert(back.map(_.getString(0)).toSeq == Seq("a", "b", "c"))
    assert(back(0).getMap[String, String](2).toMap == hostile,
      s"binary path mangled metadata: ${back(0).getMap[String, String](2).toMap}")
    assert(back(0).getSeq[Float](1) == Seq(1.5f, -2.25f))
    assert(back(2).isNullAt(1) || back(2).getSeq[Float](1) == null)
    // recreate=false -> STAGED binary COPY upsert; replaced id converges
    def one(vec: Seq[Float]) = Seq(("b", vec, Map("k" -> "new")))
      .toDF(graft.model.Canonical.ID, graft.model.Canonical.VECTOR,
        graft.model.Canonical.METADATA)
    assert(pgv.write(one(Seq(9f, 9f)), conn, load.copy(recreate = false)).written == 1)
    val after = pgv.readBack(spark, conn, load)
    assert(after.count() == 3, "staged binary upsert duplicated an id")
    assert(after.filter(col(graft.model.Canonical.ID) === "b")
      .head().getSeq[Float](1) == Seq(9f, 9f))
  }

  test("direct COPY (recreate) and staged COPY (append onto empty) converge " +
    "to the same final state") {
    live()
    val pgv = ConnectorRegistry("pgvector")
    val df = Seq(
      ("d1", Seq(1f, 2f), Map("m" -> "x\t\\N")),
      ("d2", null.asInstanceOf[Seq[Float]], Map("m" -> "y")))
      .toDF(graft.model.Canonical.ID, graft.model.Canonical.VECTOR,
        graft.model.Canonical.METADATA)
    // direct: recreate=true skips the stage entirely
    pgv.write(df, wireConn(), graft.config.LoadSpec("wire_direct_t", recreate = true))
    // staged: recreate=false on a fresh table takes the stage+publish path
    pgv.write(df, wireConn(), graft.config.LoadSpec("wire_staged_t", recreate = false))
    def state(t: String) = pgv
      .readBack(spark, wireConn(), graft.config.LoadSpec(t))
      .orderBy(graft.model.Canonical.ID).collect()
      .map(r => (r.getString(0),
        if (r.isNullAt(1)) null else r.getSeq[Float](1),
        r.getMap[String, String](2).toMap)).toSeq
    assert(state("wire_direct_t") == state("wire_staged_t"),
      "direct and staged COPY landed different states")
  }

  test("copyInBinary error shapes: missing table typed; client abort lands " +
    "ZERO rows (single-statement atomicity) and the session survives") {
    val c = live()
    import graft.connectors.pgwire.PgBinary
    val e = intercept[PgWireException](c.copyInBinary(
      "COPY absent_bin_t FROM STDIN WITH (FORMAT binary)", Iterator.empty))
    assert(e.sqlState == "42P01", s"${e.sqlState}: ${e.getMessage}")
    assert(c.query("SELECT 1 + 1").rows.head.head == "2")
    // mid-stream client failure: CopyFail aborts, no partial rows — the
    // atomicity claim the face's DIRECT mode rests on
    c.query("CREATE TABLE bin_abort_t (a TEXT)")
    val boom = new RuntimeException("encoder failure mid-stream")
    val thrown = intercept[RuntimeException](c.copyInBinary(
      "COPY bin_abort_t (a) FROM STDIN WITH (FORMAT binary)",
      Iterator.tabulate(10) { i =>
        if (i == 5) throw boom
        Array(PgBinary.textSend(s"row$i"))
      }))
    assert(thrown eq boom, "the ORIGINAL failure must surface")
    assert(c.query("SELECT count(*) FROM bin_abort_t").rows.head.head == "0",
      "an aborted binary COPY left partial rows")
    assert(c.query("SELECT 2 + 2").rows.head.head == "4")
  }

  test("direct COPY is atomic per partition: a bad row past the first CopyData " +
    "chunk lands zero rows of its partition") {
    live()
    val pgv = ConnectorRegistry("pgvector")
    for ((framing, extra) <- framings) {
      val table = s"wire_direct_fault_$framing"
      // partition 1 is rows 400-799; row 700 sits ~150 KB into its
      // stream, so earlier CopyData chunks already reached the server
      val e = intercept[Exception](pgv.write(twoPartitions(800, 1, bad = Some(700)),
        wireConn(extra: _*), graft.config.LoadSpec(collection = table, recreate = true)))
      assert(causedBy(e, "NUL"), s"$framing: $e")
      val ids = live().query(s"SELECT id FROM $table").rows.map(_.head)
      assert(ids.forall(_.drop(1).toInt < 400),
        s"$framing: rows of the failed partition landed")
      // the failed job may cancel the sibling partition: it lands whole
      // or not at all, never in part
      assert(ids.isEmpty || ids.sorted == (0 until 400).map(i => s"k$i").sorted,
        s"$framing: a partition landed ${ids.length} of its 400 rows")
    }
  }

  test("LARGE partition: one COPY spanning many CopyData chunks completes") {
    live()
    val pgv = ConnectorRegistry("pgvector")
    // 8000 rows in ONE partition, ~1.4 MB of COPY text: a couple dozen
    // 64 KiB CopyData frames on one statement. Run on a watchdog thread
    // so a stalled stream fails the test instead of hanging the suite.
    val df = canonical((0 until 8000).map(i =>
      (s"id$i", Seq.tabulate(16)(j => i + j / 16f), Map("k" -> i.toString)))).coalesce(1)
    val load = graft.config.LoadSpec(collection = "wire_bigpart")
    @volatile var written = -1L
    @volatile var err: Throwable = null
    val t = new Thread(() =>
      try written = pgv.write(df, wireConn(), load).written
      catch { case e: Throwable => err = e })
    t.setDaemon(true)
    t.start()
    t.join(180000)
    assert(err == null, s"write failed: $err")
    assert(written == 8000,
      if (t.isAlive) "the COPY stream stalled (watchdog expired)" else s"written=$written")
    val bytes = live().query("SELECT sum(octet_length(id) + octet_length(vector) + " +
      "octet_length(metadata)) FROM wire_bigpart").rows.head.head.toLong
    assert(bytes > 16 * 65536, s"only $bytes bytes: the stream never spanned many chunks")
    val back = pgv.readBack(spark, wireConn(), load)
    assert(back.count() == 8000)
    assert(back.filter(col(graft.model.Canonical.ID) === "id7999").head()
      .getSeq[Float](1) == Seq.tabulate(16)(j => 7999 + j / 16f))
  }

  test("staged COPY is atomic per partition: a bad row past the first CopyData " +
    "chunk leaves the target's earlier rows untouched") {
    live()
    val pgv = ConnectorRegistry("pgvector")
    for ((framing, extra) <- framings) {
      val load = graft.config.LoadSpec(collection = s"wire_staged_fault_$framing",
        recreate = true)
      assert(pgv.write(twoPartitions(800, 1), wireConn(extra: _*), load).written == 800)
      // version 2 of every id; partition 1 fails on row 700
      val e = intercept[Exception](pgv.write(twoPartitions(800, 2, bad = Some(700)),
        wireConn(extra: _*), load.copy(recreate = false)))
      assert(causedBy(e, "NUL"), s"$framing: $e")
      // one snapshot: the sibling partition may still be publishing
      val rows = live().query(s"SELECT id, metadata FROM ${load.collection}").rows
      val version = rows.map(r => r.head -> r(1)).toMap
      assert(rows.length == 800 && version.size == 800,
        s"$framing: ${rows.length} rows over ${version.size} ids")
      (400 until 800).foreach(i => assert(version(s"k$i").contains("\"1\""),
        s"$framing: the failed partition replaced k$i: ${version(s"k$i")}"))
      assert((0 until 400).map(i => version(s"k$i")).distinct.length == 1,
        s"$framing: the sibling partition published in part")
    }
  }

  test("copyIn: an iterator failure mid-stream aborts via CopyFail, session survives") {
    val c = live()
    c.query("CREATE TABLE copy_abort (a TEXT)")
    val boom = new RuntimeException("value rejected mid-stream")
    val e = intercept[RuntimeException](
      c.copyIn("COPY copy_abort FROM STDIN", new Iterator[String] {
        private var i = 0
        def hasNext = true
        def next(): String = { i += 1; if (i > 3) throw boom; s"v$i" }
      }))
    assert(e eq boom, s"original failure was swallowed: $e")
    // CopyFail aborted the statement: no rows landed, and the SAME
    // session answers the next statement (not stuck in copy-in mode)
    assert(c.query("SELECT count(*) FROM copy_abort").rows.head.head == "0")
    assert(c.query("SELECT 5 + 5").rows.head.head == "10")
  }

  test("COPY mode rejects a collection named like the staging table (pg_temp shadowing)") {
    live()
    val pgv = ConnectorRegistry("pgvector")
    val df = Seq(("a", Seq(1f, 2f), Map.empty[String, String]))
      .toDF(graft.model.Canonical.ID, graft.model.Canonical.VECTOR,
        graft.model.Canonical.METADATA)
    val e = intercept[IllegalArgumentException](pgv.write(df, wireConn(),
      graft.config.LoadSpec(collection = "graft_copy_stage", recreate = true)))
    assert(e.getMessage.contains("staging table"), e.getMessage)
  }

  test("partitioned read after a staged COPY write e2e") {
    live()
    val pgv = ConnectorRegistry("pgvector")
    val conn = wireConn()
    // recreate=false onto a table that does not exist yet: staged COPY
    val load = graft.config.LoadSpec(collection = "wire_staged_read")
    val df = Seq(
      ("a", Seq(1.5f, -2.25f), Map("k" -> "v'--; DROP TABLE x", "u" -> "héllo")),
      ("b", Seq(0.001f, 42f), Map("k" -> "2")),
      ("c", null.asInstanceOf[Seq[Float]], Map.empty[String, String]))
      .toDF(graft.model.Canonical.ID, graft.model.Canonical.VECTOR,
        graft.model.Canonical.METADATA)
    assert(pgv.write(df, conn, load).written == 3)
    val back = pgv.readBack(spark, conn, load)
      .orderBy(graft.model.Canonical.ID).collect()
    assert(back.map(_.getString(0)).toSeq == Seq("a", "b", "c"))
    assert(back(0).getMap[String, String](2).toMap ==
      Map("k" -> "v'--; DROP TABLE x", "u" -> "héllo"))
    assert(back(0).getSeq[Float](1) == Seq(1.5f, -2.25f))
    // a second staged write replaces "a" in place
    def one(vec: Seq[Float]) = Seq(("a", vec, Map("k" -> "9")))
      .toDF(graft.model.Canonical.ID, graft.model.Canonical.VECTOR,
        graft.model.Canonical.METADATA)
    pgv.write(one(Seq(8f, 8f)), conn, load)
    val after = pgv.readBack(spark, conn, load)
    assert(after.count() == 3, "staged upsert duplicated an id")
    assert(after.filter(col(graft.model.Canonical.ID) === "a")
      .head().getSeq[Float](1) == Seq(8f, 8f))
    // partitioned read, one Simple Query scan per slice
    val sliced = pgv.read(spark,
      conn ++ Map("partitions" -> "3", "lower_bound" -> "0", "upper_bound" -> "10"),
      QuerySpec(collection = "wire_staged_read", metadataColumns = Seq("metadata")))
    assert(sliced.rdd.getNumPartitions == 4) // 3 numeric + text catch-all
    assert(sliced.orderBy(graft.model.Canonical.ID).collect()
      .map(r => r.getString(0) -> r.getMap[String, String](2)("metadata")).toSeq ==
      Seq("a" -> """{"k":"9"}""", "b" -> """{"k":"2"}""", "c" -> "{}"))
  }

  test("partitioned wire read: declared id bounds split into range slices") {
    val c = live()
    c.query("CREATE TABLE part_t (vec_id BIGINT, embedding TEXT)")
    val rows = (0 until 120).map(i => s"($i, '[$i,1]')").mkString(", ")
    // rows OUTSIDE the declared bounds and a NULL id: the Spark-JDBC
    // contract makes bounds a stride, never a filter — the first slice is
    // unbounded below (and carries NULLs), the last unbounded above
    c.query(s"INSERT INTO part_t VALUES $rows, (-7, '[0,0]'), (500, '[5,5]'), " +
      "(NULL, '[9,9]')")
    val df = ConnectorRegistry("pgvector").read(spark,
      wireConn("partitions" -> "4", "lower_bound" -> "10", "upper_bound" -> "100"),
      graft.config.QuerySpec(collection = "part_t", idColumn = "vec_id",
        vectorColumn = Some("embedding")))
    assert(df.rdd.getNumPartitions == 4, df.rdd.getNumPartitions.toString)
    val ids = df.select("id").collect().map(r => Option(r.getString(0)))
    assert(ids.length == 123 && ids.distinct.length == 123, // disjoint + covering
      s"n=${ids.length} distinct=${ids.distinct.length}")
    assert(ids.contains(Some("-7")) && ids.contains(Some("500")),
      "ids outside [lower_bound, upper_bound) were silently filtered")
    assert(ids.contains(None), "the NULL id matched no slice")
    // TEXT id column (every table the connector's own write creates): the
    // slices CASE-guard the cast and a CATCH-ALL slice carries
    // non-numeric, >18-digit, and NULL ids — disjoint + covering,
    // nothing silently range-excluded even with under-covering bounds
    c.query("CREATE TABLE part_s (id TEXT, vector TEXT)")
    val srows = (0 until 90).map(i => s"('$i', '[$i,1]')").mkString(", ")
    c.query(s"INSERT INTO part_s VALUES $srows, ('alpha', '[1,2]'), " +
      "('12345678901234567890123', '[2,2]'), (NULL, '[3,3]')")
    val sdf = ConnectorRegistry("pgvector").read(spark,
      wireConn("partitions" -> "4", "lower_bound" -> "10", "upper_bound" -> "80"),
      graft.config.QuerySpec(collection = "part_s"))
    assert(sdf.rdd.getNumPartitions == 5, sdf.rdd.getNumPartitions.toString)
    val sids = sdf.select("id").collect().map(r => Option(r.getString(0)))
    assert(sids.length == 93 && sids.distinct.length == 93,
      s"n=${sids.length} distinct=${sids.distinct.length}")
    assert(sids.contains(Some("alpha")) &&
      sids.contains(Some("12345678901234567890123")) && sids.contains(None))
    assert(sids.contains(Some("0")) && sids.contains(Some("89")),
      "numeric text ids outside the declared bounds were silently filtered")
  }

  test("incremental migration over the wire face: idempotent, updates APPLIED (upsert)") {
    live()
    val tmp = java.nio.file.Files.createTempDirectory("graft-pgwire-inc").toString
    def writeSrc(sub: String, rows: Seq[(String, Seq[Float], Map[String, String])]): String = {
      val p = s"$tmp/$sub"
      rows.toDF("id", "vector", "metadata").write.parquet(s"$p/docs.parquet")
      p
    }
    val v1 = writeSrc("v1", Seq(
      ("a", Seq(1f, 2f), Map("k" -> "1")), ("b", Seq(3f, 4f), Map("k" -> "2"))))
    def cfg(src: String) = graft.config.MigrationConfig.fromJson(
      s"""{"source": {"type": "parquet", "connection": {"path": "$src"},
         |            "query": {"table_name": "docs"}},
         | "target": {"type": "pgvector",
         |            "connection": {"host": "127.0.0.1",
         |                           "port": "${server.get.port}",
         |                           "protocol": "wire",
         |                           "database": "postgres", "user": "postgres"},
         |            "load": {"collection": "wire_inc"}}}""".stripMargin)
    assert(graft.core.IncrementalMigrator.run(spark, cfg(v1)).success)
    // re-run: nothing new — the content-hash read-back over the wire must
    // classify every row unchanged (codec-inverse fidelity, live server)
    val again = graft.core.IncrementalMigrator.run(spark, cfg(v1))
    assert(again.success && again.metrics("rows") == "0", again)
    // v2: "a" CHANGES, "c" is new — the connector upserts by id
    // (upsertsById = true), so BOTH ship: the update is
    // APPLIED, not withheld (the r16 stretch item, now implementable
    // because each wire batch is an atomic delete-then-insert)
    val v2 = writeSrc("v2", Seq(
      ("a", Seq(9f, 9f), Map("k" -> "1")), ("b", Seq(3f, 4f), Map("k" -> "2")),
      ("c", Seq(5f, 6f), Map("k" -> "3"))))
    val r = graft.core.IncrementalMigrator.run(spark, cfg(v2))
    assert(r.success && r.metrics("rows") == "2", r) // "a" (update) + "c" (insert)
    assert(r.withheldUpdates == 0, r)
    val back = ConnectorRegistry("pgvector").readBack(spark, wireConn(),
      graft.config.LoadSpec(collection = "wire_inc"))
    assert(back.count() == 3)
    assert(back.select("id").distinct().count() == 3,
      "the upsert duplicated a changed record's id")
    // the target holds the NEW version of "a" — the reference's named
    // future work ("incremental migration") with updates applied
    assert(back.filter(col("id") === "a").head().getSeq[Float](1) == Seq(9f, 9f))
  }

  test("zero-delta re-sync into an existing table: written 0, the anti-join runs once") {
    live()
    val tmp = java.nio.file.Files.createTempDirectory("graft-pgwire-zero").toString
    Seq(("a", Seq(1f, 2f, 3f), Map("k" -> "1")), ("b", Seq(4f, 5f, 6f), Map("k" -> "2")))
      .toDF("id", "vector", "metadata").write.parquet(s"$tmp/docs.parquet")
    val cfg = graft.config.MigrationConfig.fromJson(
      s"""{"source": {"type": "parquet", "connection": {"path": "$tmp"},
         |            "query": {"table_name": "docs"}},
         | "target": {"type": "pgvector",
         |            "connection": {"host": "127.0.0.1",
         |                           "port": "${server.get.port}",
         |                           "database": "postgres", "user": "postgres"},
         |            "load": {"collection": "wire_zero", "parallelism": 2}}}""".stripMargin)
    assert(graft.core.IncrementalMigrator.run(spark, cfg).success)
    val (again, antiJoins) =
      executionsDuring(hasLeftAnti)(graft.core.IncrementalMigrator.run(spark, cfg))
    assert(again.success && again.written == 0 && again.metrics("rows") == "0", again)
    assert(antiJoins == 1, s"$antiJoins executions ran the (id, hash) anti-join")
    assert(live().query("SELECT count(*) FROM wire_zero").rows.head.head == "2")
  }

  /** `readBack` rows in comparable form, in the order Spark returns them:
    * (id, vector, metadata value `v`). */
  private def backRows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.map(r =>
    (Option(r.getString(0)), Option(r.getSeq[Float](1)).map(_.toSeq),
      r.getMap[String, String](2).get("v")))

  /** One unsliced `SELECT` of a connector-written table, in [[backRows]]'s
    * form: the vector text is parsed by hand, `v` read out of the JSON. */
  private def plainRows(table: String) =
    live().query(s"SELECT id, vector, metadata FROM $table").rows.map(r =>
      (Option(r(0)),
        Option(r(1)).map(_.stripPrefix("[").stripSuffix("]").split(',').toSeq.map(_.toFloat)),
        Option(r(2)).flatMap("\"v\":\"([^\"]*)\"".r.findFirstMatchIn(_)).map(_.group(1))))

  test("readBack slices a multi-block table by ctid: one unsliced SELECT's rows, in its order") {
    val c = live()
    val pgv = ConnectorRegistry("pgvector")
    val load = graft.config.LoadSpec(collection = "wire_ctid")
    // 64-dim vectors are ~0.6 KB of text each, stored inline: some dozen blocks
    val rows = (0 until 1200).map(i => (s"$i", Seq.tabulate(64)(j => i + j / 8f), Map("v" -> s"$i")))
    assert(pgv.write(canonical(rows), wireConn(), load.copy(recreate = true)).written == 1200)
    // dead tuples, reused free space and rows appended past the old end
    c.query("UPDATE wire_ctid SET metadata = '{\"v\":\"upd\"}' WHERE id::int % 7 = 0")
    c.query("DELETE FROM wire_ctid WHERE id::int % 11 = 0")
    c.query("INSERT INTO wire_ctid VALUES (NULL, '[1.5,2.5]', '{\"v\":\"null-id\"}'), " +
      "('alpha', '[3.0]', NULL), ('k-9', NULL, '{\"v\":\"k\"}')")
    val blocks = c.query("SELECT pg_relation_size('wire_ctid') / " +
      "current_setting('block_size')::int").rows.head.head.toInt
    val cores = spark.sparkContext.defaultParallelism
    assert(blocks > cores, s"only $blocks blocks")
    val back = pgv.readBack(spark, wireConn(), load)
    assert(back.rdd.getNumPartitions == cores, back.rdd.getNumPartitions)
    val want = plainRows("wire_ctid")
    val got = backRows(back)
    assert(got.length == want.length && got.length == 1200 - 110 + 3, s"${got.length} rows")
    assert(got == want, "the slices' rows differ from one unsliced SELECT's, or their order does")
  }

  test("readBack of a schema-qualified mixed-case table, and of a view over it as one slice") {
    val c = live()
    val pgv = ConnectorRegistry("pgvector")
    c.query("CREATE SCHEMA scan_s")
    val rows = (0 until 600).map(i => (s"m$i", Seq.tabulate(64)(j => i - j / 4f), Map("v" -> s"$i")))
    // unquoted DDL: the table is scan_s.mixed_case, and the build-and-swap
    // renames its schema-qualified build table and index into place
    val load = graft.config.LoadSpec(collection = "scan_s.Mixed_Case", recreate = true)
    assert(pgv.write(canonical(rows), wireConn(), load).written == 600)
    assert(pgv.write(canonical(rows.take(300)), wireConn(), load).written == 300)
    val want = plainRows("scan_s.mixed_case")
    assert(want.length == 300)
    val table = pgv.readBack(spark, wireConn(), load)
    assert(table.rdd.getNumPartitions > 1, table.rdd.getNumPartitions)
    assert(backRows(table) == want)
    // the second load's retired table (and its index) is dropped after
    // the write returned
    assert(retiredGone(""), "the retired table was never dropped")
    assert(c.query("SELECT indexname FROM pg_indexes WHERE schemaname = 'scan_s'").rows ==
      Seq(Seq("scan_s_mixed_case_graft_id_ix")), "the swap left the id index misnamed")
    c.query("CREATE VIEW scan_s.Mixed_View AS SELECT * FROM scan_s.mixed_case")
    val view = pgv.readBack(spark, wireConn(), load.copy(collection = "scan_s.Mixed_View"))
    assert(view.rdd.getNumPartitions == 1, "a view has no blocks to slice")
    assert(backRows(view).sortBy(_._1) == want.sortBy(_._1))
  }

  test("a failed recreate load leaves the existing target exactly as it was, and no build table") {
    live()
    val pgv = ConnectorRegistry("pgvector")
    for ((framing, extra) <- framings) {
      val load = graft.config.LoadSpec(collection = s"wire_recreate_fault_$framing",
        recreate = true)
      def target() = live().query(s"SELECT id, vector, metadata FROM ${load.collection}")
        .rows.sortBy(_.head)
      assert(pgv.write(twoPartitions(50, 1), wireConn(extra: _*), load).written == 50)
      val before = target()
      // version 2 of 800 ids; partition 1 fails on row 700, past its first chunk
      val e = intercept[Exception](pgv.write(twoPartitions(800, 2, bad = Some(700)),
        wireConn(extra: _*), load))
      assert(causedBy(e, "NUL"), s"$framing: $e")
      val after = target()
      if (after != before)
        fail(s"$framing: the failed load changed the target (${after.length} rows)")
      assert(live().query("SELECT count(*) FROM information_schema.tables " +
        "WHERE table_name LIKE '%graft_build%'").rows.head.head == "0",
        s"$framing: the build table was left behind")
      // the first load's retire runs after its write returned
      assert(retiredGone(""), s"$framing: a retired table was left behind")
    }
  }

  /** Waits, at most 10 s, until no relation named like
    * `<prefix>%graft_retired%` is left — a recreate load drops the table
    * it retired after its write returned — and says whether none is. */
  private def retiredGone(prefix: String): Boolean = {
    val deadline = System.nanoTime() + 10000000000L
    def left = live().query("SELECT count(*) FROM pg_class " +
      s"WHERE relname LIKE '$prefix%graft_retired%'").rows.head.head != "0"
    while (left && System.nanoTime() < deadline) Thread.sleep(10)
    !left
  }

  /** The relations `pg_class` holds named like `<prefix>%`, with their kinds. */
  private def relations(prefix: String) =
    live().query(s"SELECT relname, relkind FROM pg_class WHERE relname LIKE '$prefix%' " +
      "ORDER BY relname").rows

  test("a recreate load onto a target with a dependent view fails as a drop would, " +
    "and leaves the target, the view and no build or retired table") {
    val c = live()
    val pgv = ConnectorRegistry("pgvector")
    c.query("CREATE TABLE wire_dep_t (id TEXT, vector TEXT, metadata TEXT); " +
      "INSERT INTO wire_dep_t VALUES ('a', '[1,2]', '{\"v\":\"old\"}'); " +
      "CREATE VIEW wire_dep_v AS SELECT id, metadata FROM wire_dep_t")
    def state = (relations("wire_dep"), c.query("SELECT * FROM wire_dep_t").rows,
      c.query("SELECT * FROM wire_dep_v").rows)
    val before = state
    val e = intercept[PgWireException](pgv.write(twoPartitions(20, 2), wireConn(),
      graft.config.LoadSpec(collection = "wire_dep_t", recreate = true)))
    assert(e.sqlState == "2BP01", e.getMessage) // dependent_objects_still_exist
    assert(e.getMessage.contains("wire_dep_t"), e.getMessage)
    assert(state == before, s"the failed load changed ${state} (was $before)")
    // the session survived: the same driver connection cleaned up
    assert(c.query("SELECT count(*) FROM pg_class WHERE relname LIKE '%graft_build%' " +
      "OR relname LIKE 'wire_dep%graft_retired%'").rows.head.head == "0")
  }

  test("a retired table left by an earlier load is dropped by the next recreate's swap") {
    val c = live()
    val pgv = ConnectorRegistry("pgvector")
    val load = graft.config.LoadSpec(collection = "wire_leftover", recreate = true)
    assert(pgv.write(twoPartitions(30, 1), wireConn(), load).written == 30)
    assert(retiredGone("wire_leftover"))
    // what a load whose retire never ran leaves: the old target, with
    // its index, under the retired names
    c.query("CREATE TABLE wire_leftover_graft_retired (id TEXT, vector TEXT, metadata TEXT); " +
      "CREATE INDEX wire_leftover_graft_retired_graft_id_ix ON wire_leftover_graft_retired (id); " +
      "INSERT INTO wire_leftover_graft_retired VALUES ('stale', '[0]', NULL)")
    assert(pgv.write(twoPartitions(40, 2), wireConn(), load).written == 40)
    assert(retiredGone("wire_leftover"), "the leftover or this load's retired table stayed")
    val rows = plainRows("wire_leftover")
    assert(rows.length == 40 && rows.forall(_._3.contains("2")), rows)
    assert(relations("wire_leftover") == Seq(Seq("wire_leftover", "r"),
      Seq("wire_leftover_graft_id_ix", "i")), relations("wire_leftover"))
  }

  test("recreate and staged loads into 51- and 63-byte names keep their id index") {
    val c = live()
    val pgv = ConnectorRegistry("pgvector")
    for (n <- Seq(51, 63)) {
      val table = s"wl${n}_" + "x" * (n - 5)
      assert(table.length == n)
      for ((version, recreate) <- Seq(1 -> true, 2 -> true, 3 -> false)) {
        val rows = twoPartitions(if (recreate) 60 else 20, version)
        assert(pgv.write(rows, wireConn(),
          graft.config.LoadSpec(collection = table, recreate = recreate)).written == rows.count(),
          s"$n bytes, version $version")
        val got = plainRows(table).groupBy(_._1.get).map { case (id, r) => id -> r.map(_._3) }
        // the staged load replaces k0..k19 and keeps the rest
        val want = (0 until 60).map(i => s"k$i" ->
          Seq(Some(if (recreate) s"$version" else if (i < 20) "3" else "2"))).toMap
        assert(got == want, s"$n bytes, version $version: $got")
        val ix = c.query("SELECT indexname, indexdef FROM pg_indexes " +
          s"WHERE tablename = '$table'").rows
        assert(ix.length == 1 && ix.head(0).endsWith("_graft_id_ix") &&
          ix.head(1).endsWith("(id)"), s"$n bytes, version $version: $ix")
        if (n == 51) assert(ix.head(0) == s"${table}_graft_id_ix")
      }
      assert(retiredGone(s"wl$n"), s"$n bytes: the retired table stayed")
    }
    // a name PostgreSQL would cut is refused before any DDL runs
    val long = "wl64_" + "x" * 59
    val e = intercept[IllegalArgumentException](pgv.write(twoPartitions(2, 1), wireConn(),
      graft.config.LoadSpec(collection = long, recreate = true)))
    assert(e.getMessage.contains("63-byte"), e.getMessage)
    assert(relations("wl64").isEmpty)
  }

  /** A loopback TCP relay in front of the live server that counts the
    * connections it accepts. A connection whose client has sent
    * `resetAfter` bytes is reset (RST) on both sides, mid-stream. */
  private final class CountingRelay(target: Int, resetAfter: Long = Long.MaxValue)
      extends AutoCloseable {
    private val srv = new java.net.ServerSocket(0, 16, java.net.InetAddress.getByName("127.0.0.1"))
    val port: Int = srv.getLocalPort
    val accepted = new java.util.concurrent.atomic.AtomicInteger
    val resets = new java.util.concurrent.atomic.AtomicInteger
    private def daemon(body: => Unit): Unit = {
      val t = new Thread(() => body)
      t.setDaemon(true)
      t.start()
    }
    private def reset(s: java.net.Socket): Unit =
      try { s.setSoLinger(true, 0); s.close() } catch { case _: Throwable => () }
    // one direction, forwarding at most `limit` bytes; when it ends, so
    // does the pair
    private def pipe(from: java.net.Socket, to: java.net.Socket, limit: Long): Unit = daemon {
      val (in, out) = (from.getInputStream, to.getOutputStream)
      val buf = new Array[Byte](8192)
      var sent = 0L
      try {
        var n = in.read(buf)
        while (n >= 0 && sent + n <= limit) {
          out.write(buf, 0, n)
          sent += n
          n = in.read(buf)
        }
        if (n >= 0) {
          out.write(buf, 0, (limit - sent).toInt)
          resets.incrementAndGet()
          reset(from)
          reset(to)
        }
      } catch { case _: Throwable => () }
      finally { from.close(); to.close() }
    }
    daemon {
      try while (true) {
        val client = srv.accept()
        accepted.incrementAndGet()
        val server = new java.net.Socket("127.0.0.1", target)
        pipe(client, server, resetAfter)
        pipe(server, client, Long.MaxValue)
      } catch { case _: Throwable => () } // close() lands here
    }
    override def close(): Unit = srv.close()
  }

  test("a write opens one driver connection, plus one per partition") {
    live()
    val pgv = ConnectorRegistry("pgvector")
    val relay = new CountingRelay(server.get.port)
    try for (recreate <- Seq(true, false)) {
      val before = relay.accepted.get
      val df = canonical(Seq(("a", Seq(1f, 2f), Map("k" -> "1")))).coalesce(1)
      assert(pgv.write(df, wireConn("port" -> relay.port.toString),
        graft.config.LoadSpec(collection = "wire_handshakes", recreate = recreate)).written == 1)
      assert(relay.accepted.get - before == 2,
        s"recreate=$recreate: ${relay.accepted.get - before} connections")
    } finally relay.close()
  }

  test("a connection reset past the first 64 KiB of a one-partition COPY leaves the " +
    "target as it was; the re-run lands every row exactly once (staged and recreate)") {
    live()
    val pgv = ConnectorRegistry("pgvector")
    val src = java.nio.file.Files.createTempDirectory("graft-pgwire-reset").toString
    // 800 rows of ~0.5 KB: one partition's COPY is ~400 KB of CopyData
    val rows = twoPartitions(800, 2)
    rows.write.parquet(s"$src/docs.parquet")
    val want = rows.collect().map(r => r.getString(0) ->
      r.getSeq[Float](1).map(java.lang.Float.floatToRawIntBits)).toMap
    for (recreate <- Seq(false, true)) {
      val table = s"wire_reset_${if (recreate) "recreate" else "staged"}"
      def cfg(port: Int) = graft.config.MigrationConfig.fromJson(
        s"""{"source": {"type": "parquet", "connection": {"path": "$src"},
           |            "query": {"table_name": "docs"}},
           | "target": {"type": "pgvector",
           |            "connection": {"host": "127.0.0.1", "port": "$port",
           |                           "database": "postgres", "user": "postgres"},
           |            "load": {"collection": "$table", "recreate": $recreate,
           |                     "parallelism": 1}}}""".stripMargin)
      def target() = live().query(s"SELECT id, vector, metadata FROM $table").rows.sortBy(_.head)
      assert(pgv.write(twoPartitions(50, 1), wireConn(),
        graft.config.LoadSpec(collection = table, recreate = true)).written == 50)
      val before = target()
      val relay = new CountingRelay(server.get.port, resetAfter = 100 * 1024)
      val failed =
        try new graft.core.Migrator(spark).run(cfg(relay.port))
        finally relay.close()
      assert(!failed.success, s"recreate=$recreate: the reset went unnoticed: $failed")
      assert(relay.resets.get > 0, s"recreate=$recreate: no connection was reset")
      if (target() != before) fail(s"recreate=$recreate: the failed write changed the target")
      assert(live().query("SELECT count(*) FROM information_schema.tables " +
        "WHERE table_name LIKE '%graft_build%'").rows.head.head == "0",
        s"recreate=$recreate: the build table was left behind")
      val again = new graft.core.Migrator(spark).run(cfg(server.get.port))
      assert(again.success && again.written == 800, again)
      val back = pgv.readBack(spark, wireConn(), graft.config.LoadSpec(collection = table))
        .collect().map(r => r.getString(0) ->
          r.getSeq[Float](1).map(java.lang.Float.floatToRawIntBits))
      assert(back.length == 800 && back.map(_._1).distinct.length == 800,
        s"recreate=$recreate: ${back.length} rows over ${back.map(_._1).distinct.length} ids")
      assert(back.toMap == want, s"recreate=$recreate: vectors differ from the source's bits")
    }
  }

  test("an incremental run whose staged-upsert COPY is reset mid-stream fails; the re-run " +
    "ships the part of the delta that had not landed and leaves exactly the source") {
    live()
    val pgv = ConnectorRegistry("pgvector")
    val table = "wire_inc_reset"
    val tmp = java.nio.file.Files.createTempDirectory("graft-pgwire-inc-reset").toString
    // ~0.5 KB rows; v2 changes k0..k399, keeps k400..k799 and adds k800..k1199,
    // so the delta's COPY is ~400 KB of CopyData
    def version(sub: String, n: Int, v: Int => Int): String = {
      spark.sparkContext.parallelize((0 until n).map(i =>
        (s"k$i", Seq.tabulate(64)(j => v(i) + j + i / 1000f), Map("v" -> v(i).toString))), 2)
        .toDF(graft.model.Canonical.ID, graft.model.Canonical.VECTOR,
          graft.model.Canonical.METADATA)
        .write.parquet(s"$tmp/$sub/docs.parquet")
      s"$tmp/$sub"
    }
    val v1 = version("v1", 800, _ => 1)
    val v2 = version("v2", 1200, i => if (i < 400 || i >= 800) 2 else 1)
    def cfg(src: String, port: Int) = graft.config.MigrationConfig.fromJson(
      s"""{"source": {"type": "parquet", "connection": {"path": "$src"},
         |            "query": {"table_name": "docs"}},
         | "target": {"type": "pgvector",
         |            "connection": {"host": "127.0.0.1", "port": "$port",
         |                           "database": "postgres", "user": "postgres"},
         |            "load": {"collection": "$table", "parallelism": 1}}}""".stripMargin)
    def bits(df: org.apache.spark.sql.DataFrame) = df.collect().map(r => r.getString(0) ->
      r.getSeq[Float](1).map(java.lang.Float.floatToRawIntBits)).toSeq
    def target() = bits(pgv.readBack(spark, wireConn(),
      graft.config.LoadSpec(collection = table)))
    val want = bits(spark.read.parquet(s"$v2/docs.parquet")).toMap
    assert(graft.core.IncrementalMigrator.run(spark, cfg(v1, server.get.port)).written == 800)
    val before = target().toMap
    val relay = new CountingRelay(server.get.port, resetAfter = 100 * 1024)
    val failed =
      try graft.core.IncrementalMigrator.run(spark, cfg(v2, relay.port))
      finally relay.close()
    assert(!failed.success, s"the reset went unnoticed: $failed")
    assert(relay.resets.get > 0, "no connection was reset")
    // a partition's staged upsert lands whole or not at all
    val mid = target()
    assert(mid.map(_._1).distinct.length == mid.length, "the failed run duplicated an id")
    assert(mid.forall { case (id, v) => before.get(id).contains(v) || want.get(id).contains(v) },
      "the failed run left a row that is neither the old nor the new version")
    val landed = mid.toMap
    val missing = want.count { case (id, v) => !landed.get(id).contains(v) }
    assert(missing > 0, "the reset kept nothing from landing")
    val again = graft.core.IncrementalMigrator.run(spark, cfg(v2, server.get.port))
    assert(again.success && again.written == missing, s"$missing rows missing: $again")
    val back = target()
    assert(back.length == 1200 && back.map(_._1).distinct.length == 1200,
      s"${back.length} rows over ${back.map(_._1).distinct.length} ids")
    assert(back.toMap == want, "vectors differ from the source's bits")
  }

  test("TLS upgrade (SSLRequest): pinned self-signed cert, secure defaults, no fallback") {
    live() // environment must run PostgreSQL at all
    import scala.sys.process._
    val devNull = ProcessLogger(_ => (), _ => ())
    val dir = java.nio.file.Files.createTempDirectory("graft-pgtls")
    val crt = s"$dir/server.crt"
    val key = s"$dir/server.key"
    // the forked test JVM's PATH may not carry the host's openssl: probe
    // the common locations and skip cleanly when none answers
    val openssl = Seq("openssl", "/usr/bin/openssl", "/usr/local/bin/openssl",
      "/root/miniconda/bin/openssl")
      .find(p => scala.util.Try(Seq(p, "version").!(devNull)).toOption.contains(0))
    assume(openssl.isDefined, "no openssl available — TLS face skipped")
    assume(scala.util.Try(Seq(openssl.get, "req", "-new", "-x509", "-days", "2",
      "-nodes", "-out", crt, "-keyout", key,
      "-subj", "/CN=127.0.0.1").!(devNull)).toOption.contains(0),
      "openssl could not mint a self-signed cert — TLS face skipped")
    // the server must traverse the dir (createTempDirectory is 0700
    // root-owned) and OWN a non-world-readable key
    Seq("chmod", "755", dir.toString).!(devNull)
    Seq("chown", "postgres:postgres", key, crt).!(devNull)
    Seq("chmod", "600", key).!(devNull)
    val tls = PgTestServer.start(Seq("-c ssl=on",
      s"-c ssl_cert_file=$crt", s"-c ssl_key_file=$key"))
    assume(tls.isDefined, "TLS-enabled server failed to start")
    val run = tls.get
    try {
      // pinned root cert: handshake succeeds and the SERVER agrees the
      // session is TLS (pg_stat_ssl for this very backend)
      val c = new PgWireClient("127.0.0.1", run.port,
        ssl = true, sslRootCert = Some(crt))
      try assert(c.query(
        "SELECT ssl FROM pg_stat_ssl WHERE pid = pg_backend_pid()")
        .rows.head.head == "t", "server does not see this session as TLS")
      finally c.close()
      // platform trust store REJECTS the self-signed cert — the secure
      // default; pinning is an explicit opt-in, not trust-all
      intercept[Exception](
        new PgWireClient("127.0.0.1", run.port, ssl = true))
      // ssl required against a non-TLS server: typed refusal ('N'), never
      // a silent cleartext fallback
      val e = intercept[PgWireException](
        new PgWireClient("127.0.0.1", server.get.port,
          ssl = true, sslRootCert = Some(crt)))
      assert(e.sqlState == "08P01" &&
        e.getMessage.contains("refused the TLS upgrade"), e.getMessage)
      // ---- SCRAM-SHA-256-PLUS: channel binding on the TLS session ----
      // the server advertises the -PLUS mechanism on SSL connections;
      // the client must pick it and bind to THIS session's server cert
      // (tls-server-end-point) — a wrong binding fails the proof
      val admin = new PgWireClient("127.0.0.1", run.port,
        ssl = true, sslRootCert = Some(crt))
      try {
        admin.query("SET password_encryption = 'scram-sha-256'; " +
          "CREATE ROLE scrampls_u LOGIN PASSWORD 'bind+me'")
        val hba = java.nio.file.Paths.get(run.root.getAbsolutePath, "data", "pg_hba.conf")
        val prior = java.nio.file.Files.readAllBytes(hba)
        java.nio.file.Files.write(hba,
          "hostssl all scrampls_u 127.0.0.1/32 scram-sha-256\n".getBytes("UTF-8")
            ++ prior)
        admin.query("SELECT pg_reload_conf()")
        Thread.sleep(500) // reload is async
      } finally admin.close()
      val sp = new PgWireClient("127.0.0.1", run.port, user = "scrampls_u",
        password = Some("bind+me"), ssl = true, sslRootCert = Some(crt))
      try {
        assert(sp.saslMechanism == "SCRAM-SHA-256-PLUS",
          s"negotiated ${sp.saslMechanism} on a TLS session offering -PLUS")
        assert(sp.query("SELECT current_user").rows.head.head == "scrampls_u")
        assert(sp.query(
          "SELECT ssl FROM pg_stat_ssl WHERE pid = pg_backend_pid()")
          .rows.head.head == "t")
      } finally sp.close()
      // wrong password through the -PLUS flow: the server's typed failure
      val bad = intercept[PgWireException](
        new PgWireClient("127.0.0.1", run.port, user = "scrampls_u",
          password = Some("wrong"), ssl = true, sslRootCert = Some(crt)))
      assert(bad.sqlState == "28P01", s"${bad.sqlState}: ${bad.getMessage}")
    } finally run.stop()
  }

  test("malformed RowDescription/DataRow frames fail typed and keep the stream in sync") {
    // a stub "server" that authenticates (trust) and then answers the
    // FIRST query with a structurally broken RowDescription (claims 5
    // columns, payload ends immediately) and the SECOND with a
    // well-formed single-row result — the client must surface a typed
    // 08P01 for the first and still parse the second on the SAME
    // connection (readMessage consumed the broken frame whole, so the
    // stream never desyncs)
    val srv = new java.net.ServerSocket(0, 1, java.net.InetAddress.getByName("127.0.0.1"))
    def frame(t: Char, body: Array[Byte]): Array[Byte] =
      Array(t.toByte) ++ java.nio.ByteBuffer.allocate(4).putInt(4 + body.length).array() ++ body
    def cstr(s: String) = s.getBytes("UTF-8") :+ 0.toByte
    val t = new Thread(() => {
      try {
        val s = srv.accept()
        val in = new java.io.DataInputStream(s.getInputStream)
        val o = s.getOutputStream
        val len = in.readInt(); in.skipBytes(len - 4) // startup message
        o.write(frame('R', Array[Byte](0, 0, 0, 0))) // AuthenticationOk
        o.write(frame('Z', Array[Byte]('I'.toByte)))
        o.flush()
        def awaitQuery(): Unit = { in.readByte(); val l = in.readInt(); in.skipBytes(l - 4) }
        awaitQuery()
        o.write(frame('T', Array[Byte](0, 5))) // 5 columns, no payload: broken
        o.write(frame('Z', Array[Byte]('I'.toByte)))
        o.flush()
        awaitQuery()
        val col = Array[Byte](0, 1) ++ cstr("x") ++ new Array[Byte](18)
        val row = Array[Byte](0, 1) ++ Array[Byte](0, 0, 0, 2) ++ "42".getBytes("UTF-8")
        o.write(frame('T', col))
        o.write(frame('D', row))
        o.write(frame('C', cstr("SELECT 1")))
        o.write(frame('Z', Array[Byte]('I'.toByte)))
        o.flush()
      } catch { case _: Throwable => () }
    })
    t.setDaemon(true)
    t.start()
    val c = new PgWireClient("127.0.0.1", srv.getLocalPort)
    try {
      val e = intercept[PgWireException](c.query("SELECT broken"))
      assert(e.sqlState == "08P01" && e.getMessage.contains("RowDescription"),
        s"${e.sqlState}: ${e.getMessage}")
      val ok = c.query("SELECT 42")
      assert(ok.columns == Seq("x") && ok.rows == Seq(Seq("42")), ok)
    } finally { c.close(); srv.close() }
  }

  test("non-PostgreSQL endpoint fails typed (08P01), never a multi-GB allocation") {
    // no live PG needed: a raw socket answering an HTTP banner — the 'H'
    // plus "TTP/" as a length prefix would otherwise become a ~1.4 GB
    // allocation attempt inside readMessage
    val srv = new java.net.ServerSocket(0, 1, java.net.InetAddress.getByName("127.0.0.1"))
    val t = new Thread(() => {
      try {
        val s = srv.accept()
        s.getOutputStream.write("HTTP/1.1 400 Bad Request\r\n\r\n".getBytes("UTF-8"))
        s.getOutputStream.flush()
      } catch { case _: Throwable => () }
    })
    t.setDaemon(true)
    t.start()
    try {
      val e = intercept[PgWireException](
        new PgWireClient("127.0.0.1", srv.getLocalPort))
      assert(e.sqlState == "08P01", e.getMessage)
      assert(e.getMessage.contains("really a PostgreSQL server"), e.getMessage)
    } finally srv.close()
  }

  test("a server that accepts but never answers fails the handshake typed, within its bound") {
    // no live PG needed: a listener that accepts and then stays silent
    val srv = new java.net.ServerSocket(0, 1, java.net.InetAddress.getByName("127.0.0.1"))
    val held = new java.util.concurrent.LinkedBlockingQueue[java.net.Socket]()
    val t = new Thread(() => {
      try held.put(srv.accept()) catch { case _: Throwable => () }
    })
    t.setDaemon(true)
    t.start()
    try {
      val t0 = System.nanoTime()
      val e = intercept[PgWireException](
        new PgWireClient("127.0.0.1", srv.getLocalPort, handshakeTimeoutMs = 300))
      val waitedMs = (System.nanoTime() - t0) / 1000000
      assert(e.sqlState == "08001", e.getMessage)
      assert(e.getCause.isInstanceOf[java.net.SocketTimeoutException], e.getCause)
      assert(waitedMs < 5000, s"handshake gave up after $waitedMs ms")
    } finally {
      srv.close()
      Option(held.poll()).foreach(_.close())
    }
  }

  test("the handshake bound is lifted after startup: a query longer than it completes") {
    live()
    val c = new PgWireClient("127.0.0.1", server.get.port, handshakeTimeoutMs = 300)
    try assert(c.query("SELECT 7 FROM pg_sleep(1)").rows == Seq(Seq("7")))
    finally c.close()
  }

  test("password auth on the wire: SCRAM-SHA-256 (server signature verified) and MD5") {
    val c = live()
    val run = server.get
    // one role per verifier flavor; PG15 stores whatever
    // password_encryption says at CREATE ROLE time
    c.query("SET password_encryption = 'scram-sha-256'; " +
      "CREATE ROLE scram_u LOGIN PASSWORD 'sekret+123'")
    c.query("SET password_encryption = 'md5'; " +
      "CREATE ROLE md5_u LOGIN PASSWORD 'm5pass'")
    // hba is first-match: the per-role password rules must PRECEDE the
    // initdb trust rules (root writes the file; owner stays postgres)
    val hba = java.nio.file.Paths.get(run.root.getAbsolutePath, "data", "pg_hba.conf")
    val prior = java.nio.file.Files.readAllBytes(hba)
    java.nio.file.Files.write(hba,
      ("host all scram_u 127.0.0.1/32 scram-sha-256\n" +
        "host all md5_u 127.0.0.1/32 md5\n").getBytes("UTF-8") ++ prior)
    c.query("SELECT pg_reload_conf()")
    Thread.sleep(500) // reload is async
    // full SCRAM-SHA-256 round trip, INCLUDING the server-signature check
    val sc = new PgWireClient("127.0.0.1", run.port, user = "scram_u",
      password = Some("sekret+123"))
    try {
      assert(sc.query("SELECT current_user").rows.head.head == "scram_u")
      // off TLS the client must negotiate the NON-PLUS mechanism (gs2 'n')
      assert(sc.saslMechanism == "SCRAM-SHA-256", sc.saslMechanism)
    } finally sc.close()
    // wrong password: the server's typed auth failure, not a hang or NPE
    val bad = intercept[PgWireException](
      new PgWireClient("127.0.0.1", run.port, user = "scram_u",
        password = Some("wrong")))
    assert(bad.sqlState == "28P01", s"${bad.sqlState}: ${bad.getMessage}")
    // MD5 round trip (md5(md5(password+user)+salt))
    val mc = new PgWireClient("127.0.0.1", run.port, user = "md5_u",
      password = Some("m5pass"))
    try assert(mc.query("SELECT current_user").rows.head.head == "md5_u")
    finally mc.close()
    // password required but not supplied: loud client-side typed error
    val np = intercept[PgWireException](
      new PgWireClient("127.0.0.1", run.port, user = "scram_u"))
    assert(np.sqlState == "28P01", np.getMessage)
  }

  test("batched multi-row INSERT through the wire matches the write batch size shape") {
    val c = live()
    c.query("CREATE TABLE batch_t (id TEXT, vector TEXT, metadata TEXT)")
    // 100 = LoadSpec's default batch_size (reference adapters/pgvector.py:159)
    val rows = (0 until 100).map(i => s"('id$i', '[$i,1]', '{\"k\":\"$i\"}')").mkString(", ")
    val ins = c.query(s"INSERT INTO batch_t VALUES $rows")
    assert(ins.rowCount == 100, ins.tags)
    assert(c.query("SELECT count(*) FROM batch_t").rows.head.head == "100")
    // id-keyed delete round (the CDC-apply face's SQL shape)
    assert(c.query("DELETE FROM batch_t WHERE id IN ('id1', 'id2')").rowCount == 2)
  }
}
