package graft.connectors

import graft.SparkSpec
import graft.connectors.vectorstore._

/** SQL-catalog surface over the vector store: DDL, DML and metadata all
  * through `spark.sql`, hitting the same VSTable as the path-based API. */
class CatalogSpec extends SparkSpec {

  private def installCatalog(name: String, backend: String = "qdrant"): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[VSCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.backend", backend)
  }

  test("CREATE TABLE / INSERT INTO / SELECT / DROP round trip through SQL") {
    installCatalog("vsc")
    VectorStore.drop("sql_rt")
    spark.sql(
      """CREATE TABLE vsc.sql_rt
        |  (id string, vector array<float>, metadata map<string,string>)
        |TBLPROPERTIES ('distance'='Cosine', 'dim'='4')""".stripMargin)
    assert(VectorStore.exists("sql_rt"))
    assert(VectorStore.config("sql_rt").exists(c => c.distance == "Cosine" && c.dim == 4))

    spark.sql(
      """INSERT INTO vsc.sql_rt VALUES
        |  ('7', array(cast(1.0 as float), cast(0.0 as float),
        |              cast(0.0 as float), cast(0.0 as float)), map('label', '7')),
        |  ('8', array(cast(0.0 as float), cast(1.0 as float),
        |              cast(0.0 as float), cast(0.0 as float)), map('label', '8'))""".stripMargin)
    val rows = spark.sql(
      "SELECT id, element_at(metadata, 'label') AS label FROM vsc.sql_rt ORDER BY id")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq == Seq(("7", "7"), ("8", "8")))
    // the write went through the qdrant rules: digit ids stayed intact
    assert(VectorStore.count("sql_rt") == 2)

    spark.sql("DROP TABLE vsc.sql_rt")
    assert(!VectorStore.exists("sql_rt"))
  }

  test("SHOW TABLES lists collections; loadTable on a missing one errors") {
    installCatalog("vsc")
    VectorStore.createCollection("sql_list", CollectionConfig(dim = 2), recreate = true)
    val names = spark.sql("SHOW TABLES IN vsc").collect().map(_.getString(1)).toSet
    assert(names.contains("sql_list"), names.mkString(","))
    intercept[Exception] { // AnalysisException wrapping NoSuchTableException
      spark.sql("SELECT * FROM vsc.definitely_missing").collect()
    }
    VectorStore.drop("sql_list")
  }

  test("CREATE TABLE rejects a non-canonical schema and a bad distance") {
    installCatalog("vsc")
    intercept[Exception] {
      spark.sql("CREATE TABLE vsc.sql_bad (a int, b string)")
    }
    intercept[Exception] {
      spark.sql(
        """CREATE TABLE vsc.sql_bad2
          |  (id string, vector array<float>, metadata map<string,string>)
          |TBLPROPERTIES ('distance'='Chebyshev')""".stripMargin)
    }
    assert(!VectorStore.exists("sql_bad") && !VectorStore.exists("sql_bad2"))
  }

  test("duplicate CREATE TABLE fails; binary face inferred from the column type") {
    installCatalog("vsm", backend = "milvus")
    VectorStore.drop("sql_bin")
    spark.sql(
      """CREATE TABLE vsm.sql_bin
        |  (id string, vector binary, metadata map<string,string>)
        |TBLPROPERTIES ('distance'='Hamming')""".stripMargin)
    assert(VectorStore.config("sql_bin").exists(_.vectorType == VectorTypes.Binary))
    intercept[Exception] {
      spark.sql(
        """CREATE TABLE vsm.sql_bin
          |  (id string, vector binary, metadata map<string,string>)""".stripMargin)
    }
    VectorStore.drop("sql_bin")
  }

  test("binary CREATE TABLE on a non-binary backend throws and leaves no orphan") {
    installCatalog("vsq") // qdrant: binaryVectors = false
    VectorStore.drop("sql_bin_no")
    val e = intercept[Exception] {
      spark.sql(
        """CREATE TABLE vsq.sql_bin_no
          |  (id string, vector binary, metadata map<string,string>)""".stripMargin)
    }
    assert(e.getMessage.contains("BINARY_VECTOR"), e.getMessage)
    // the capability check runs BEFORE createCollection: no orphan
    // collection that would make a corrected re-CREATE fail
    assert(!VectorStore.exists("sql_bin_no"))
  }

  test("DELETE FROM removes matching rows; unsupported predicates are rejected") {
    installCatalog("vsc")
    VectorStore.drop("sql_del")
    VectorStore.createCollection("sql_del", CollectionConfig(dim = 2), recreate = true)
    VectorStore.upsert("sql_del", (0 until 20).map(i =>
      VSRecord(s"$i", Array(i.toFloat, 0f), Map("cat" -> s"c${i % 2}"))))

    spark.sql("DELETE FROM vsc.sql_del WHERE id IN ('3', '4', '5')")
    assert(VectorStore.count("sql_del") == 17)
    // delete on a metadata value via the map-access predicate is NOT an
    // exactly-evaluable pushdown filter — it used to be refused; with
    // SupportsDelta, Spark rewrites it as a row-level delete: the scan
    // reads, SPARK evaluates the predicate, and only matching row ids ship
    // to the store. c0 = even ids; of the 17 left that is 0,2,6,8,...,18.
    spark.sql("DELETE FROM vsc.sql_del WHERE element_at(metadata, 'cat') = 'c0'")
    assert(VectorStore.count("sql_del") == 8) // 1,7,9,11,13,15,17,19 remain
    // re-deleting the same ids is a no-op (idempotent by contract)
    spark.sql("DELETE FROM vsc.sql_del WHERE id IN ('3', '4', '5')")
    assert(VectorStore.count("sql_del") == 8)
    spark.sql("DELETE FROM vsc.sql_del WHERE id >= '1' AND id < '2'") // '1','1x' string order
    assert(VectorStore.count("sql_del") == 2) // 7, 9 remain
    // a predicate on the vector column routes through the same rewrite and
    // correctly matches nothing (every stored vector is non-null) — no
    // refusal needed, no over-delete possible
    spark.sql("DELETE FROM vsc.sql_del WHERE vector IS NULL")
    assert(VectorStore.count("sql_del") == 2)
    VectorStore.drop("sql_del")
  }

  test("DELETE over an absent metadata key is three-valued: UNKNOWN never deletes") {
    installCatalog("vsc")
    VectorStore.drop("sql_del3")
    VectorStore.createCollection("sql_del3", CollectionConfig(dim = 2), recreate = true)
    // ids 0-4 carry tag, 5-9 have NO tag key at all
    VectorStore.upsert("sql_del3", (0 until 10).map(i =>
      VSRecord(s"$i", Array(i.toFloat, 0f),
        if (i < 5) Map("tag" -> s"t$i") else Map.empty)))
    val table = spark.sessionState.catalogManager.catalog("vsc")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array.empty[String], "sql_del3"))
      .asInstanceOf[graft.connectors.vectorstore.VSTable]
    import org.apache.spark.sql.sources.{EqualTo, Filter, Not}
    // NOT(tag = 't0'): rows WITHOUT the key evaluate UNKNOWN, not TRUE —
    // SQL deletes only 1-4 (key present, value != t0), never 5-9
    table.deleteWhere(Array[Filter](Not(EqualTo("tag", "t0"))))
    val left = VectorStore.scroll("sql_del3", 0, 100).map(_.id).sorted
    assert(left == Seq("0", "5", "6", "7", "8", "9"), left.toString)
    VectorStore.drop("sql_del3")
  }

  test("TRUNCATE TABLE empties the collection but keeps it addressable") {
    installCatalog("vsc")
    VectorStore.drop("sql_tr")
    VectorStore.createCollection("sql_tr", CollectionConfig(dim = 2), recreate = true)
    VectorStore.upsert("sql_tr", (0 until 5).map(i =>
      VSRecord(s"$i", Array(i.toFloat, 0f), Map.empty)))
    spark.sql("TRUNCATE TABLE vsc.sql_tr")
    assert(VectorStore.exists("sql_tr") && VectorStore.count("sql_tr") == 0)
    spark.sql("INSERT INTO vsc.sql_tr VALUES ('9', array(cast(1.0 as float), " +
      "cast(2.0 as float)), map('k', 'v'))")
    assert(VectorStore.count("sql_tr") == 1)
    VectorStore.drop("sql_tr")
  }

  test("cross-backend migration as one SQL statement (qdrant -> milvus)") {
    installCatalog("vq", "qdrant")
    installCatalog("vm", "milvus")
    VectorStore.drop("sql_src"); VectorStore.drop("sql_dst")
    VectorStore.createCollection("sql_src", CollectionConfig(dim = 2), recreate = true)
    VectorStore.upsert("sql_src", (0 until 30).map(i =>
      VSRecord(s"$i", Array(i.toFloat, 1f), Map("label" -> s"${i % 3}"))))
    // Milvus rules: collection must pre-exist (requireExisting)
    spark.sql(
      """CREATE TABLE vm.sql_dst
        |  (id string, vector array<float>, metadata map<string,string>)
        |TBLPROPERTIES ('distance'='Cosine', 'dim'='2')""".stripMargin)
    // the whole migration - filter transform included - is ONE insert-select
    spark.sql(
      """INSERT INTO vm.sql_dst
        |SELECT id, vector, metadata FROM vq.sql_src
        |WHERE CAST(element_at(metadata, 'label') AS INT) < 2""".stripMargin)
    assert(VectorStore.count("sql_dst") == 20)
    val labels = spark.sql("SELECT DISTINCT element_at(metadata, 'label') FROM vm.sql_dst")
      .collect().map(_.getString(0)).toSet
    assert(labels == Set("0", "1"))
    VectorStore.drop("sql_src"); VectorStore.drop("sql_dst")
  }

  test("pure-SQL vector search through the catalog gets the native top-k scan") {
    installCatalog("vsc")
    VectorStore.drop("sql_srch")
    VectorStore.createCollection("sql_srch", CollectionConfig(dim = 2), recreate = true)
    VectorStore.upsert("sql_srch", (0 until 50).map { i =>
      val a = i * 0.12; VSRecord(s"$i", Array(math.cos(a).toFloat, math.sin(a).toFloat), Map.empty)
    })
    // no Scala API anywhere: the registered vec_cosine SQL function + the
    // injected optimizer rule turn ORDER BY ... LIMIT into a search scan
    val df = spark.sql(
      """SELECT id, round(vec_cosine(vector, array(1.0D, 0.0D)), 6) AS score
        |FROM vsc.sql_srch ORDER BY vec_cosine(vector, array(1.0D, 0.0D)) DESC, id
        |LIMIT 3""".stripMargin)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("search=topk(k=3"), p)
    assert(df.collect().map(_.getString(0)).toSeq == Seq("0", "1", "2"))
    VectorStore.drop("sql_srch")
  }

  test("SHOW TBLPROPERTIES surfaces the stored collection config") {
    installCatalog("vsc")
    VectorStore.drop("sql_props")
    VectorStore.createCollection("sql_props",
      CollectionConfig(distance = "Dot", dim = 3, props = Map("hnsw_m" -> "16")),
      recreate = true)
    val props = spark.sql("SHOW TBLPROPERTIES vsc.sql_props")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("distance") == "Dot" && props("dim") == "3")
    assert(props("vector_type") == "FLOAT_VECTOR" && props("hnsw_m") == "16")
    VectorStore.drop("sql_props")
  }

  test("a url connection key routes a config-driven migration over the socket") {
    val store = new InMemoryStore
    val server = new QdrantWireServer(store)
    try {
      store.createCollection("cfg_http_src",
        CollectionConfig(dim = 2), recreate = true)
      store.upsert("cfg_http_src", (0 until 12).map(i =>
        VSRecord(s"$i", Array(i.toFloat, 0f), Map("k" -> s"$i"))))
      val cfg = graft.config.MigrationConfig.fromJson(
        s"""{"source": {"type": "qdrant", "connection": {"url": "${server.url}"},
           |            "query": {"collection": "cfg_http_src"}},
           | "target": {"type": "qdrant", "connection": {"url": "${server.url}"},
           |            "load": {"collection": "cfg_http_dst", "recreate": true}}}""".stripMargin)
      val before = server.requests
      val report = new graft.core.Migrator(spark).run(cfg)
      assert(report.success, report.error)
      assert(server.requests > before) // the migration really crossed the wire
      assert(store.count("cfg_http_dst") == 12)
      // the wire calls are the real Qdrant REST verbs, not a bespoke shape
      val lines = server.requestLines
      assert(lines.exists(_.startsWith("POST /collections/cfg_http_src/points/scroll")),
        s"no documented scroll call in:\n${lines.mkString("\n")}")
      assert(lines.contains("PUT /collections/cfg_http_dst/points?wait=true"),
        s"no documented upsert call in:\n${lines.mkString("\n")}")
    } finally server.stop()
  }

  test("catalog over the HTTP loopback transport lists and reads through the socket") {
    installCatalog("vsh")
    val server = new QdrantWireServer(InMemoryTransport)
    val prev = VectorStore.use(new QdrantWireTransport(server.url))
    try {
      VectorStore.createCollection("sql_http", CollectionConfig(dim = 2), recreate = true)
      VectorStore.upsert("sql_http", Seq(
        VSRecord("1", Array(1f, 0f), Map("k" -> "a")),
        VSRecord("2", Array(0f, 1f), Map("k" -> "b"))))
      assert(VectorStore.listCollections().contains("sql_http"))
      val got = spark.sql("SELECT id FROM vsh.sql_http ORDER BY id")
        .collect().map(_.getString(0)).toSeq
      assert(got == Seq("1", "2"))
      VectorStore.drop("sql_http")
    } finally { VectorStore.use(prev); server.stop() }
  }
}
