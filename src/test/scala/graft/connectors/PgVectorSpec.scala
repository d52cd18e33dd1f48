package graft.connectors

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.config.QuerySpec

class PgVectorSpec extends SparkSpec {
  import spark.implicits._

  test("pgvector text codec round-trips random float vectors (property-style)") {
    val rnd = new scala.util.Random(0)
    val vecs = Seq.fill(50)(Seq.fill(8)(rnd.nextFloat() * 2e6f - 1e6f))
    val df = vecs.map(Tuple1(_)).toDF("v")
    val out = df
      .select(PgVectorCodec.textToVector(PgVectorCodec.vectorToText(col("v"))).as("v"))
      .as[Seq[Float]].collect()
    assert(out.toSeq == vecs)
  }

  test("codec text format matches pgvector literals") {
    val df = Seq(Tuple1(Seq(0.5f, -1.25f, 3.0f))).toDF("v")
    val s = df.select(PgVectorCodec.vectorToText(col("v"))).as[String].head()
    assert(s == "[0.5,-1.25,3.0]")
    val back = df.sparkSession.sql("SELECT ' [0.5, -1.25, 3.0] ' AS t")
      .select(PgVectorCodec.textToVector(col("t")).as("v")).as[Seq[Float]].head()
    assert(back == Seq(0.5f, -1.25f, 3.0f))
  }

  test("vectorToText's text is the per-element-cast formulation's, byte for byte, " +
    "on null-free float and double vectors; a null element renders as null") {
    def perElement(c: org.apache.spark.sql.Column) =
      when(c.isNull, lit(null).cast("string"))
        .otherwise(concat(lit("["), concat_ws(",", transform(c, _.cast("string"))), lit("]")))
    val rnd = new scala.util.Random(13)
    val edges = Seq(0f, -0f, Float.MinPositiveValue, Float.MaxValue, -Float.MaxValue,
      Float.PositiveInfinity, Float.NegativeInfinity, Float.NaN, 1e-45f, 1.17549435e-38f,
      0.1f, 1e7f, 1e-3f, 123456.78f)
    val floats: Seq[Seq[Float]] = Seq(edges, Seq.empty, null) ++
      Seq.fill(200)(Seq.fill(rnd.nextInt(9))(java.lang.Float.intBitsToFloat(rnd.nextInt())))
    val doubles: Seq[Seq[Double]] = Seq(edges.map(_.toDouble), Seq(Double.MinPositiveValue,
      Double.MaxValue, 1e-300, 0.1, 1e21), Seq.empty, null) ++
      Seq.fill(200)(Seq.fill(rnd.nextInt(9))(java.lang.Double.longBitsToDouble(rnd.nextLong())))
    for (df <- Seq(floats.map(Tuple1(_)).toDF("v"), doubles.map(Tuple1(_)).toDF("v"))) {
      val pairs = df.select(PgVectorCodec.vectorToText(col("v")), perElement(col("v")))
        .collect().map(r => (r.getString(0), r.getString(1)))
      assert(pairs.count(_._1 == null) == 1)
      pairs.foreach { case (got, want) => assert(got == want) }
    }
    val withNull = spark.sql("SELECT array(1.5F, NULL, 2.0F) AS v")
    assert(withNull.select(PgVectorCodec.vectorToText(col("v"))).as[String].head() ==
      "[1.5,null,2.0]")
  }

  test("codec handles null and empty") {
    val res = spark.sql("SELECT CAST(NULL AS STRING) AS t UNION ALL SELECT ''")
      .select(PgVectorCodec.textToVector(col("t")).as("v")).as[Option[Seq[Float]]].collect()
    assert(res.forall(_.isEmpty))
  }

  test("buildSelect reproduces the reference's scan SQL (adapters/pgvector.py:94-108)") {
    val c = new PgVectorConnector()
    val sql = c.buildSelect(QuerySpec(
      collection = "items", idColumn = "id", vectorColumn = Some("embedding"),
      metadataColumns = Seq("name", "category"),
      limit = Some(100), offset = Some(10), filter = Some("category = 'x'")))
    assert(sql == "SELECT id, embedding::text AS embedding, name, category FROM items" +
      " WHERE category = 'x' LIMIT 100 OFFSET 10")
  }

  test("buildSelect rejects SQL-injection identifiers (reference defect fixed)") {
    val c = new PgVectorConnector()
    assertThrows[IllegalArgumentException] {
      c.buildSelect(QuerySpec(collection = "items; DROP TABLE x", idColumn = "id",
        vectorColumn = None, metadataColumns = Nil))
    }
  }

  test("catalogPredicate matches Postgres case folding and schema qualifiers") {
    val c = new PgVectorConnector()
    val Visible = " AND table_schema = ANY (current_schemas(false))"
    // the unquoted JDBC write path case-folds: the probe must match the
    // folded name too, or an existing 'MyTable' target reads as absent and
    // the incremental migrator full-copy re-appends
    // unqualified names are additionally pinned to VISIBLE schemas — a
    // same-named relation in an unrelated schema must not read as present
    assert(c.catalogPredicate("MyTable") ==
      "table_name IN ('MyTable', 'mytable')" + Visible)
    assert(c.catalogPredicate("items") == "table_name IN ('items')" + Visible)
    assert(c.catalogPredicate("Analytics.Embeddings") ==
      "table_name IN ('Embeddings', 'embeddings') " +
        "AND table_schema IN ('Analytics', 'analytics')")
    // still ident-whitelisted before interpolation
    assertThrows[IllegalArgumentException] {
      c.catalogPredicate("x'; DROP TABLE y--")
    }
    // cross-database references and trailing-dot typos are rejected, not
    // silently truncated into a different table's predicate
    assertThrows[IllegalArgumentException] {
      c.catalogPredicate("mydb.analytics.embeddings")
    }
    assertThrows[IllegalArgumentException] { c.catalogPredicate("items.") }
    // schemaInfo's two-step resolution uses single-name modes
    assert(c.catalogPredicate("MyTable", "verbatim") ==
      "table_name IN ('MyTable')" + Visible)
    assert(c.catalogPredicate("MyTable", "folded") ==
      "table_name IN ('mytable')" + Visible)
    // column introspection pins the FIRST visible schema holding the
    // table (search_path resolution order), not any-visible membership —
    // a same-named table in two visible schemas must not interleave
    val first = c.catalogPredicate("MyTable", "verbatim", firstVisibleOnly = true)
    assert(first.startsWith("table_name IN ('MyTable') AND table_schema = (SELECT"))
    assert(first.contains("WITH ORDINALITY") && first.contains("ORDER BY s.ord LIMIT 1"))
    assert(first.contains("t2.table_name IN ('MyTable')"))
    // qualified references are unaffected by the flag
    assert(c.catalogPredicate("a.b", "verbatim", firstVisibleOnly = true) ==
      "table_name IN ('b') AND table_schema IN ('a')")
  }

  test("connection keys the wire client would ignore fail typed before any socket opens") {
    // a listener standing in for the server the config names: any dial
    // at all shows up as an accepted connection
    val listener = new java.net.ServerSocket(0, 50, java.net.InetAddress.getLoopbackAddress)
    val accepted = new java.util.concurrent.atomic.AtomicInteger(0)
    val acceptor = new Thread(() => {
      try while (true) { val s = listener.accept(); accepted.incrementAndGet(); s.close() }
      catch { case _: java.io.IOException => () }
    })
    acceptor.setDaemon(true)
    acceptor.start()
    try {
      val base = Map("host" -> "127.0.0.1", "port" -> listener.getLocalPort.toString,
        "database" -> "vectordb")
      val pgv = ConnectorRegistry("pgvector")
      // each block with the words its failure must name: the addressing
      // keys, or the one data path a data-path key asked to leave
      val address = Seq("host", "port", "database")
      val bad = Seq(
        base + ("url" -> s"jdbc:postgresql://127.0.0.1:${listener.getLocalPort}/vectordb") -> address,
        (base - "database") + ("dbname" -> "vectordb") -> address,
        base + ("protocol" -> "wire") + ("dbname" -> "vectordb") -> address,
        base + ("protocol" -> "jdbc") -> address,
        base + ("write_mode" -> "insert") -> Seq("write_mode", "insert", "COPY"),
        base + ("query_protocol" -> "extended") -> Seq("query_protocol", "extended", "Simple Query"))
      val q = QuerySpec(collection = "items", idColumn = "id", vectorColumn = Some("embedding"))
      val load = graft.config.LoadSpec(collection = "items")
      val df = Seq(("1", Seq(1f, 2f), Map.empty[String, String]))
        .toDF(graft.model.Canonical.ID, graft.model.Canonical.VECTOR, graft.model.Canonical.METADATA)
      for ((conn, words) <- bad; (verb, call) <- Seq[(String, () => Any)](
          "exists" -> (() => pgv.exists(spark, conn, "items")),
          "schemaInfo" -> (() => pgv.schemaInfo(spark, conn, "items")),
          "read" -> (() => pgv.read(spark, conn, q)),
          "readBack" -> (() => pgv.readBack(spark, conn, load)),
          "write" -> (() => pgv.write(df, conn, load)))) {
        val e = intercept[IllegalArgumentException](call())
        words.foreach(k =>
          assert(e.getMessage.contains(k), s"$verb on $conn: ${e.getMessage}"))
      }
      Thread.sleep(100) // a dial in flight would land in this window
      assert(accepted.get() == 0, "a rejected connection block still dialed the server")
      // the accepted spellings still reach the server (which hangs up)
      intercept[Exception](pgv.exists(spark, base + ("protocol" -> "wire") +
        ("write_mode" -> "copy") + ("query_protocol" -> "simple"), "items"))
      assert(accepted.get() >= 1)
    } finally listener.close()
  }
}
