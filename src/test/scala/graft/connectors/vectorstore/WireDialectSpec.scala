package graft.connectors.vectorstore

import graft.SparkSpec
import graft.model.Canonical
import org.apache.spark.sql.functions._

/** Per-backend wire fidelity: each client emits the backend's DOCUMENTED
  * request paths/queries/bodies, each loopback server answers in the
  * backend's response envelope, and data survives the round trip
  * byte-for-byte. The request-line asserts here are the contract that
  * "point at a real cluster" is a url swap. */
class WireDialectSpec extends SparkSpec {
  import spark.implicits._

  private def canon(n: Int) = (0 until n).map(i =>
    VSRecord(s"$i", Array(i.toFloat, -0.5f * i), Map("lbl" -> s"l${i % 3}")))

  // ------------------------------------------------------------- Qdrant

  test("qdrant wire: documented verbs, envelopes, and a full round trip") {
    val server = new QdrantWireServer(new InMemoryStore)
    val t = new QdrantWireTransport(server.url)
    try {
      t.createCollection("qc", CollectionConfig(distance = "Cosine", dim = 2,
        props = Map("hnsw_m" -> "16", "quantization_type" -> "int8")), recreate = true)
      assert(t.upsert("qc", canon(7)) == 7)
      assert(t.count("qc") == 7)
      assert(t.describe("qc").exists(c => c.dim == 2 && c.distance == "Cosine" &&
        c.props == Map("hnsw_m" -> "16", "quantization_type" -> "int8")))
      val page = t.scroll("qc", 2, 3)
      assert(page.map(_.id) == Seq("2", "3", "4"))
      assert(page.head.vector.toSeq == Seq(2f, -1f))
      assert(page.head.metadata == Map("lbl" -> "l2"))
      assert(t.delete("qc", Seq("0", "1")) == 2)
      assert(t.count("qc") == 5)
      assert(t.listCollections() == Seq("qc"))
      t.drop("qc")
      assert(!t.exists("qc"))

      val lines = server.requestLines
      assert(lines.contains("PUT /collections/qc"))
      assert(lines.contains("PUT /collections/qc/points?wait=true"))
      assert(lines.contains("POST /collections/qc/points/scroll"))
      assert(lines.contains("POST /collections/qc/points/count"))
      assert(lines.contains("POST /collections/qc/points/delete?wait=true"))
      assert(lines.contains("DELETE /collections/qc"))
      // the scroll body carries the documented with_payload/with_vector flags
      val scrollBody = server.bodyOf("POST /collections/qc/points/scroll").get
      assert(scrollBody.contains("\"with_payload\":true") &&
        scrollBody.contains("\"with_vector\":true"), scrollBody)
      // the create body nests vectors.size/distance like the real API
      val createBody = server.bodyOf("PUT /collections/qc").get
      assert(createBody.contains("\"vectors\"") && createBody.contains("\"size\":2"),
        createBody)
    } finally server.stop()
  }

  test("qdrant wire: multi-page scroll pages by the next_page_offset point id") {
    val server = new QdrantWireServer(new InMemoryStore)
    val t = new QdrantWireTransport(server.url)
    try {
      t.createCollection("qp", CollectionConfig(dim = 2), recreate = true)
      t.upsert("qp", canon(7))
      val (p1, c1) = t.scrollPage("qp", None, 3)
      assert(p1.map(_.id) == Seq("0", "1", "2") && c1.contains("3"), s"$c1")
      val (p2, c2) = t.scrollPage("qp", c1, 3)
      assert(p2.map(_.id) == Seq("3", "4", "5") && c2.contains("6"))
      val (p3, c3) = t.scrollPage("qp", c2, 3)
      assert(p3.map(_.id) == Seq("6") && c3.isEmpty, s"$c3")
      // wire fidelity: the first request carries NO offset; later requests
      // carry the server-issued point id as a JSON number (digit ids)
      val b1 = server.bodiesOf("POST /collections/qp/points/scroll")
      assert(b1.length == 3)
      assert(!b1(0).contains("\"offset\""), b1(0))
      assert(b1(1).contains("\"offset\":3"), b1(1))
      assert(b1(2).contains("\"offset\":6"), b1(2))
    } finally server.stop()
  }

  test("qdrant wire: string point ids travel as string cursors") {
    val server = new QdrantWireServer(new InMemoryStore)
    val t = new QdrantWireTransport(server.url)
    try {
      t.createCollection("qs", CollectionConfig(dim = 2), recreate = true)
      t.upsert("qs", Seq("aa", "bb", "cc").map(id =>
        VSRecord(id, Array(1f, 2f), Map.empty)))
      val (p1, c1) = t.scrollPage("qs", None, 2)
      assert(p1.map(_.id) == Seq("aa", "bb") && c1.contains("cc"))
      val b = server.bodiesOf("POST /collections/qs/points/scroll")
      val (p2, c2) = t.scrollPage("qs", c1, 2)
      assert(p2.map(_.id) == Seq("cc") && c2.isEmpty)
      assert(server.bodiesOf("POST /collections/qs/points/scroll")
        .exists(_.contains("\"offset\":\"cc\"")))
    } finally server.stop()
  }

  test("qdrant wire: digit ids ride as JSON numbers in upsert and delete") {
    val server = new QdrantWireServer(new InMemoryStore)
    val t = new QdrantWireTransport(server.url)
    try {
      t.createCollection("qn", CollectionConfig(dim = 2), recreate = true)
      t.upsert("qn", Seq(
        VSRecord("1", Array(1f, 2f), Map.empty),
        VSRecord("aa", Array(1f, 2f), Map.empty),
        VSRecord("007", Array(1f, 2f), Map.empty))) // non-canonical digits
      val up = server.bodyOf("PUT /collections/qn/points").get
      // real Qdrant accepts only uint/uuid ids: digits must be numbers,
      // strings (and non-round-tripping digits) stay strings
      assert(up.contains("\"id\":1") && up.contains("\"id\":\"aa\"") &&
        up.contains("\"id\":\"007\""), up)
      t.delete("qn", Seq("1", "aa"))
      val del = server.bodyOf("POST /collections/qn/points/delete").get
      assert(del.contains("[1,\"aa\"]") || del.contains("1,\"aa\""), del)
      assert(t.count("qn") == 1)
    } finally server.stop()
  }

  test("qdrant recreate of a PUBLISHED collection: atomic alias swap, no 404 window") {
    val server = new QdrantWireServer(new InMemoryStore)
    val t = new QdrantWireTransport(server.url)
    try {
      // publish "live" atomically: gen1 under the alias
      t.createCollection("gen1", CollectionConfig(dim = 2), recreate = false)
      t.upsert("gen1", canon(5))
      t.rename("gen1", "live")
      assert(t.count("live") == 5)
      // concurrent reader: poll existence of the published name throughout
      val missed = new java.util.concurrent.atomic.AtomicInteger(0)
      val polls = new java.util.concurrent.atomic.AtomicInteger(0)
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val probe = new Thread(() => {
        val p = new QdrantWireTransport(server.url)
        while (!stop.get()) {
          polls.incrementAndGet()
          if (!p.exists("live")) missed.incrementAndGet()
        }
      })
      probe.setDaemon(true)
      probe.start()
      val mark = server.requestLines.size
      t.createCollection("live", CollectionConfig(dim = 4), recreate = true)
      stop.set(true)
      probe.join(5000)
      assert(polls.get() > 0)
      assert(missed.get() == 0,
        s"concurrent reader saw ${missed.get()}/${polls.get()} 404s during recreate " +
          "— drop-then-PUT window regressed")
      // recreated: empty, the NEW config, still addressable under the name
      assert(t.count("live") == 0)
      assert(t.describe("live").exists(_.dim == 4))
      // wire shape: the published name is never DELETEd; the swap (one
      // atomic actions POST) precedes the old generation's retirement
      val lines = server.requestLines.drop(mark)
      assert(!lines.exists(_.startsWith("DELETE /collections/live")), lines)
      val swap = lines.indexWhere(_.startsWith("POST /collections/aliases"))
      val retire = lines.indexWhere(_.startsWith("DELETE /collections/gen1"))
      assert(swap >= 0 && retire > swap, lines)
      t.drop("live")
      assert(!t.exists("live"))
    } finally server.stop()
  }

  test("dual-endpoint writes: same collection name, separate accounting") {
    import graft.model.Canonical
    val sA = new QdrantWireServer(new InMemoryStore)
    val sB = new QdrantWireServer(new InMemoryStore)
    try {
      def write(url: String, n: Int): Unit =
        (0 until n).map(i => (s"$i", Seq(1f, 2f), Map("k" -> "v")))
          .toDF(Canonical.ID, Canonical.VECTOR, Canonical.METADATA)
          .write.format("graft-qdrant").option("url", url)
          .option("collection", "dual").option("recreate", "true")
          .mode("overwrite").save()
      write(sA.url, 7)
      write(sB.url, 3)
      def specFor(url: String) = TransportSpec(url = Some(url), backend = "qdrant")
      // endpoint-keyed: B's write must not clobber A's counts
      assert(VSWriteStats.get(specFor(sA.url), "dual").contains((7L, 0L)))
      assert(VSWriteStats.get(specFor(sB.url), "dual").contains((3L, 0L)))
    } finally { sA.stop(); sB.stop() }
  }

  test("milvus wire: describe serves and parses the REAL v2 response shape") {
    val server = new MilvusWireServer(new InMemoryStore)
    val t = new MilvusWireTransport(server.url)
    try {
      t.createCollection("md", CollectionConfig(distance = "Euclid", dim = 5,
        props = Map("mmap" -> "on")), recreate = true)
      val cfg = t.describe("md").get
      assert(cfg.distance == "Euclid" && cfg.dim == 5 &&
        cfg.props == Map("mmap" -> "on"), cfg.toString)
      // the wire body is the real shape: metric inside `indexes`,
      // properties/field params as {key,value} pair lists
      val resp = server.requestLines.count(
        _.startsWith("POST /v2/vectordb/collections/describe"))
      assert(resp >= 1)
    } finally server.stop()
  }

  test("qdrant wire: non-canonical numeric ids keep their string cursor form") {
    val server = new QdrantWireServer(new InMemoryStore)
    val t = new QdrantWireTransport(server.url)
    try {
      t.createCollection("qz", CollectionConfig(dim = 2), recreate = true)
      // '007' is digits but NOT a canonical Long rendering; a lossy
      // numeric coercion would turn the cursor into 7 and lose the scan
      t.upsert("qz", Seq("a", "007", "b").map(id =>
        VSRecord(id, Array(1f, 2f), Map.empty)))
      val (p1, c1) = t.scrollPage("qz", None, 1)
      assert(p1.map(_.id) == Seq("a") && c1.contains("007"))
      val (p2, c2) = t.scrollPage("qz", c1, 1)
      assert(p2.map(_.id) == Seq("007") && c2.contains("b"))
      assert(server.bodiesOf("POST /collections/qz/points/scroll")
        .exists(_.contains("\"offset\":\"007\"")))
      val (p3, c3) = t.scrollPage("qz", c2, 1)
      assert(p3.map(_.id) == Seq("b") && c3.isEmpty)
    } finally server.stop()
  }

  test("qdrant wire: quotes in pushed filter values survive the wire as JSON") {
    val server = new QdrantWireServer(new InMemoryStore)
    val t = new QdrantWireTransport(server.url)
    try {
      t.createCollection("qq", CollectionConfig(dim = 2), recreate = true)
      t.upsert("qq", Seq(
        VSRecord("1", Array(1f, 2f), Map("lbl" -> """he said "hi"""")),
        VSRecord("2", Array(1f, 2f), Map("lbl" -> "plain"))))
      val d = new QdrantFilterDialect
      val rendered = d.render(
        org.apache.spark.sql.sources.EqualTo("metadata.lbl", """he said "hi"""")).get
      val (recs, _) = t.scrollPageFiltered("qq", None, 10, Some(rendered))
      assert(recs.map(_.id) == Seq("1"), recs.map(_.id).toString)
    } finally server.stop()
  }

  test("qdrant wire: scroll filter evaluated SERVER-side; search verb native") {
    val server = new QdrantWireServer(new InMemoryStore)
    val t = new QdrantWireTransport(server.url)
    try {
      t.createCollection("qf", CollectionConfig(dim = 2), recreate = true)
      t.upsert("qf", canon(9)) // lbl cycles l0/l1/l2
      // filtered scroll: only matching points cross the wire
      val (recs, _) = t.scrollPageFiltered("qf", None, 100,
        Some("""{"must":[{"key":"lbl","match":{"value":"l1"}}]}"""))
      assert(recs.map(_.id) == Seq("1", "4", "7"), recs.map(_.id).toString)
      assert(server.bodiesOf("POST /collections/qf/points/scroll")
        .exists(_.contains(""""match":{"value":"l1"}""")))
      // native filtered search: filter BEFORE top-k, ties on id
      val hits = t.nativeSearch("qf", SearchSpec(Array(1f, 0f), 2),
        Some("""{"must":[{"key":"lbl","match":{"value":"l2"}}]}""")).get
      assert(hits.length == 2 && hits.forall(_.metadata("lbl") == "l2"),
        hits.map(_.id).toString)
      assert(server.requestLines.exists(
        _.startsWith("POST /collections/qf/points/search")))
      // the search returns full records: payload + vector round trip
      assert(hits.head.vector != null)
    } finally server.stop()
  }

  // ------------------------------------------------------------- Milvus

  test("milvus wire: v2 vectordb verbs, code-0 envelopes, bearer auth") {
    val server = new MilvusWireServer(new InMemoryStore, apiKey = Some("mk"))
    val t = new MilvusWireTransport(server.url, apiKey = Some("mk"))
    try {
      t.createCollection("mc", CollectionConfig(distance = "Euclid", dim = 2),
        recreate = true)
      assert(t.upsert("mc", canon(5)) == 5)
      assert(t.count("mc") == 5)
      assert(t.describe("mc").exists(c => c.dim == 2 && c.distance == "Euclid"))
      val page = t.scroll("mc", 1, 2)
      assert(page.map(_.id) == Seq("1", "2"))
      assert(page.head.metadata == Map("lbl" -> "l1"))
      assert(t.delete("mc", Seq("3")) == 1)
      assert(t.count("mc") == 4)
      assert(t.listCollections() == Seq("mc"))

      val lines = server.requestLines
      assert(lines.contains("POST /v2/vectordb/collections/create"))
      assert(lines.contains("POST /v2/vectordb/collections/describe"))
      assert(lines.contains("POST /v2/vectordb/entities/upsert"))
      assert(lines.contains("POST /v2/vectordb/entities/query"))
      assert(lines.contains("POST /v2/vectordb/entities/delete"))
      // metric travels in Milvus's vocabulary
      assert(server.bodyOf("POST /v2/vectordb/collections/create").get
        .contains("\"metricType\":\"L2\""))
      // delete ships an id-in filter expression (litStr single-quoted, so
      // ids with embedded quotes survive), not a bespoke id list
      assert(server.bodyOf("POST /v2/vectordb/entities/delete").get
        .contains("id in ['3']"))
    } finally server.stop()
  }

  test("milvus wire: errors are HTTP 200 + non-zero code, mapped to not-found") {
    val server = new MilvusWireServer(new InMemoryStore)
    val t = new MilvusWireTransport(server.url)
    try {
      assert(!t.exists("ghost"))
      intercept[NoSuchElementException](t.scroll("ghost", 0, 10))
      assert(t.describe("ghost").isEmpty)
    } finally server.stop()
  }

  test("milvus wire: binary vectors ride base64 and round trip exactly") {
    val server = new MilvusWireServer(new InMemoryStore)
    val t = new MilvusWireTransport(server.url)
    try {
      val bytes = Array[Byte](0, 1, -1, 127, -128)
      t.createCollection("mb", CollectionConfig(distance = "Hamming", dim = 40,
        vectorType = VectorTypes.Binary), recreate = true)
      t.upsert("mb", Seq(VSRecord("b1", null, Map.empty, bytes)))
      val back = t.scroll("mb", 0, 10)
      assert(back.length == 1 && java.util.Arrays.equals(back.head.binary, bytes))
      assert(t.describe("mb").exists(_.vectorType == VectorTypes.Binary))
    } finally server.stop()
  }

  test("milvus wire: expr filter evaluated server-side; entities/search native") {
    val server = new MilvusWireServer(new InMemoryStore)
    val t = new MilvusWireTransport(server.url)
    try {
      t.createCollection("mf", CollectionConfig(dim = 2), recreate = true)
      t.upsert("mf", canon(9))
      // server-side expr filter: offsets index the FILTERED sequence
      val recs = t.scrollFiltered("mf", 1, 2, Some("lbl == 'l0'"))
      assert(recs.map(_.id) == Seq("3", "6"), recs.map(_.id).toString)
      assert(server.bodyOf("POST /v2/vectordb/entities/query")
        .exists(_.contains("lbl == 'l0'")) ||
        server.bodiesOf("POST /v2/vectordb/entities/query")
          .exists(_.contains("lbl == 'l0'")))
      // native cosine search with a filter
      val hits = t.nativeSearch("mf", SearchSpec(Array(1f, 0f), 2),
        Some("lbl == 'l1'")).get
      assert(hits.length == 2 && hits.forall(_.metadata("lbl") == "l1"))
      assert(server.requestLines.contains("POST /v2/vectordb/entities/search"))
    } finally server.stop()
  }

  test("milvus wire: native HAMMING search over a binary collection") {
    val server = new MilvusWireServer(new InMemoryStore)
    val t = new MilvusWireTransport(server.url)
    try {
      t.createCollection("mh", CollectionConfig(dim = 16, distance = "Hamming",
        vectorType = VectorTypes.Binary), recreate = true)
      t.upsert("mh", (0 until 6).map(i =>
        VSRecord(s"$i", null, Map.empty, Array((i * 3).toByte, (255 - i).toByte))))
      val q = Array(0.toByte, 255.toByte)
      val hits = t.nativeSearch("mh", SearchSpec(null, 3, q, "hamming"), None).get
      // exact-hamming order, ties on id — same selection as VSScoring
      val expected = (0 until 6).map(i => i.toString -> VSScoring.hammingBytes(
        Array((i * 3).toByte, (255 - i).toByte), q))
        .sortBy { case (id, d) => (d, id) }.take(3).map(_._1)
      assert(hits.map(_.id) == expected, s"${hits.map(_.id)} vs $expected")
      assert(hits.head.binary != null) // binary payload round-trips
    } finally server.stop()
  }

  test("qdrant wire: filtered count evaluates the scroll filter server-side") {
    val server = new QdrantWireServer(new InMemoryStore)
    val t = new QdrantWireTransport(server.url)
    try {
      t.createCollection("fc", CollectionConfig(dim = 2), recreate = true)
      t.upsert("fc", canon(9)) // lbl cycles l0/l1/l2
      assert(t.count("fc") == 9)
      assert(t.countFiltered("fc",
        Some("""{"must":[{"key":"lbl","match":{"value":"l1"}}]}""")) == 3)
      val cntBody = server.bodiesOf("POST /collections/fc/points/count").last
      assert(cntBody.contains(""""filter""""), cntBody)
    } finally server.stop()
  }

  test("qdrant wire: atomic publish = alias swap on the real wire, generations retired") {
    val server = new QdrantWireServer(new InMemoryStore)
    val t = new QdrantWireTransport(server.url)
    try {
      // live target serving old data
      t.createCollection("pub", CollectionConfig(dim = 2), recreate = true)
      t.upsert("pub", Seq(VSRecord("1", Array(1f, 0f), Map("v" -> "old"))))
      // generation 1 shadow -> publish
      t.createCollection("pub__staging_a", CollectionConfig(dim = 2), recreate = true)
      t.upsert("pub__staging_a", Seq(
        VSRecord("1", Array(1f, 0f), Map("v" -> "g1")),
        VSRecord("2", Array(0f, 1f), Map("v" -> "g1"))))
      t.rename("pub__staging_a", "pub")
      assert(t.count("pub") == 2)
      assert(t.scroll("pub", 0, 10).forall(_.metadata("v") == "g1"))
      val aliasBodies = server.bodiesOf("POST /collections/aliases")
      assert(aliasBodies.exists(b => b.contains("create_alias") &&
        b.contains("\"alias_name\":\"pub\"")), aliasBodies.toString)
      // catalog shows the published name, never the generation
      assert(t.listCollections() == Seq("pub"))
      // generation 2: ONE atomic actions call carries delete+create, and
      // the previous generation is retired after the swap
      t.createCollection("pub__staging_b", CollectionConfig(dim = 2), recreate = true)
      t.upsert("pub__staging_b", Seq(VSRecord("3", Array(1f, 1f), Map("v" -> "g2"))))
      t.rename("pub__staging_b", "pub")
      assert(t.count("pub") == 1)
      assert(t.scroll("pub", 0, 10).head.metadata("v") == "g2")
      assert(t.listCollections() == Seq("pub"))
      val last = server.bodiesOf("POST /collections/aliases").last
      assert(last.contains("delete_alias") && last.contains("create_alias"), last)
      // retried publish (response lost after apply) converges, no data loss
      t.rename("pub__staging_b", "pub")
      assert(t.count("pub") == 1)
      // dropping the published name removes alias AND generation
      t.drop("pub")
      assert(!t.exists("pub") && t.listCollections().isEmpty)
    } finally server.stop()
  }

  test("DSv2 atomic overwrite over the qdrant wire rides the alias swap") {
    val server = new QdrantWireServer(new InMemoryStore)
    try {
      // an orphan generation from a lost-response publish retry: a commit
      // must NOT sweep it (it could be a concurrent publish's live
      // shadow) — it stays visible for the operator's --sweep-staging verb
      val t = new QdrantWireTransport(server.url)
      t.createCollection("aw__staging_orphan", CollectionConfig(dim = 2), recreate = true)
      t.upsert("aw__staging_orphan", Seq(VSRecord("9", Array(1f, 1f), Map.empty)))
      val df = Seq(
        ("a", Seq(1f, 0f), Map("k" -> "1")),
        ("b", Seq(0f, 1f), Map("k" -> "2")))
        .toDF(Canonical.ID, Canonical.VECTOR, Canonical.METADATA)
      df.write.format("graft-qdrant").option("url", server.url)
        .option("collection", "aw").option("atomic", "true")
        .mode("overwrite").save()
      assert(t.count("aw") == 2)
      assert(t.listCollections() == Seq("aw__staging_orphan", "aw"),
        t.listCollections().toString)
      assert(server.bodiesOf("POST /collections/aliases").nonEmpty,
        "publish did not ride the aliases verb")
    } finally server.stop()
  }

  // ----------------------------------------------------------- Pinecone

  test("pinecone wire: control+data planes, namespaces, Api-Key auth") {
    val server = new PineconeWireServer(new InMemoryStore, apiKey = Some("pk"))
    val t = new PineconeWireTransport(server.url, apiKey = Some("pk"))
    try {
      t.createCollection("ix::nsa", CollectionConfig(distance = "Cosine", dim = 2),
        recreate = true)
      assert(t.upsert("ix::nsa", canon(4)) == 4)
      assert(t.upsert("ix::nsb", canon(2)) == 2) // namespace auto-creates
      assert(t.count("ix::nsa") == 4)
      assert(t.count("ix::nsb") == 2)
      assert(t.describe("ix::nsa").exists(c => c.dim == 2 && c.distance == "Cosine"))
      val page = t.scroll("ix::nsa", 1, 2)
      assert(page.map(_.id) == Seq("1", "2"))
      assert(page.head.vector.toSeq == Seq(1f, -0.5f))
      assert(t.delete("ix::nsa", Seq("0")) == 1)
      assert(t.count("ix::nsa") == 3)
      assert(t.listCollections().toSet == Set("ix::nsa", "ix::nsb"))

      val lines = server.requestLines
      assert(lines.contains("POST /indexes"))
      assert(lines.exists(_.startsWith("POST /vectors/upsert?index=ix")))
      assert(lines.exists(_.startsWith("GET /vectors/list?index=ix&namespace=nsa")))
      assert(lines.exists(l => l.startsWith("GET /vectors/fetch?index=ix") &&
        l.contains("ids=")))
      assert(lines.exists(_.startsWith("POST /describe_index_stats")))
      assert(lines.exists(_.startsWith("POST /vectors/delete?index=ix")))
      // namespace rides the body of every data-plane write
      assert(server.bodyOf("POST /vectors/upsert").get.contains("\"namespace\":\"nsa\""))
    } finally server.stop()
  }

  test("pinecone wire: multi-page list walks the opaque pagination token") {
    val server = new PineconeWireServer(new InMemoryStore)
    val t = new PineconeWireTransport(server.url)
    try {
      t.createCollection("px::n", CollectionConfig(dim = 2), recreate = true)
      t.upsert("px::n", canon(5))
      val (p1, c1) = t.scrollPage("px::n", None, 2)
      assert(p1.map(_.id) == Seq("0", "1") && c1.isDefined)
      val (p2, c2) = t.scrollPage("px::n", c1, 2)
      assert(p2.map(_.id) == Seq("2", "3") && c2.isDefined)
      val (p3, c3) = t.scrollPage("px::n", c2, 2)
      assert(p3.map(_.id) == Seq("4") && c3.isEmpty)
      val lists = server.requestLines.filter(_.startsWith("GET /vectors/list"))
      assert(lists.length == 3)
      // first request: no token; later requests echo the server's token
      // VERBATIM (the client never constructs one)
      assert(!lists(0).contains("paginationToken"), lists(0))
      assert(lists(1).contains(s"paginationToken=${c1.get}"), lists(1))
      assert(lists(2).contains(s"paginationToken=${c2.get}"), lists(2))
    } finally server.stop()
  }

  test("pinecone wire: native /query top-k with values + metadata") {
    val server = new PineconeWireServer(new InMemoryStore)
    val t = new PineconeWireTransport(server.url)
    try {
      t.createCollection("pq::n", CollectionConfig(dim = 2), recreate = true)
      t.upsert("pq::n", canon(6))
      val hits = t.nativeSearch("pq::n", SearchSpec(Array(1f, -0.5f), 3), None).get
      assert(hits.length == 3 && hits.head.vector != null)
      // engine-canonical selection: cosine desc, ties on id
      val exp = VSScoring.topK(canon(6), SearchSpec(Array(1f, -0.5f), 3)).map(_._1.id)
      assert(hits.map(_.id) == exp, s"${hits.map(_.id)} vs $exp")
      assert(server.requestLines.exists(_.startsWith("POST /query?index=pq")))
      // FILTERED search: the Mongo-style filter rides the query body and
      // applies BEFORE top-k selection (the real filtered-query contract)
      val filtered = t.nativeSearch("pq::n", SearchSpec(Array(1f, 0f), 3),
        Some("""{"lbl":{"$eq":"l1"}}""")).get
      assert(filtered.nonEmpty && filtered.forall(_.metadata("lbl") == "l1"), filtered)
      val qBodies = server.bodiesOf("POST /query")
      assert(qBodies.exists(_.contains(""""filter":{"lbl":{"$eq":"l1"}}""")),
        qBodies.toString)
    } finally server.stop()
  }

  test("pinecone wire: __gid mirror written on upsert, stripped on read, foreign __gid kept") {
    val inner = new InMemoryStore
    val server = new PineconeWireServer(inner)
    val t = new PineconeWireTransport(server.url)
    try {
      t.createCollection("gm::n", CollectionConfig(dim = 2), recreate = true)
      t.upsert("gm::n", Seq(
        VSRecord("7", Array(1f, 0f), Map("lbl" -> "a")),   // numeric id -> mirrored
        VSRecord("uuid-x", Array(0f, 1f), Map("lbl" -> "b")))) // non-numeric -> not
      // the mirror travels as a JSON NUMBER in the documented upsert body
      val body = server.bodyOf("POST /vectors/upsert").get
      assert(body.contains("\"__gid\":7"), body)
      // stored server-side (what /query range filters address)...
      val stored = inner.scroll("gm::n", 0, 10).map(r => r.id -> r.metadata).toMap
      assert(stored("7").get("__gid").contains("7"), stored.toString)
      assert(!stored("uuid-x").contains("__gid"))
      // ...but invisible to readers: metadata round-trips clean
      val read = t.scroll("gm::n", 0, 10).map(r => r.id -> r.metadata).toMap
      assert(read("7") == Map("lbl" -> "a"), read.toString)
      assert(read("uuid-x") == Map("lbl" -> "b"))
      // a FOREIGN collection's unrelated __gid is user data and survives
      inner.upsert("gm::n", Seq(VSRecord("f1", Array(1f, 1f), Map("__gid" -> "999"))))
      assert(t.scroll("gm::n", 0, 10).find(_.id == "f1").get.metadata == Map("__gid" -> "999"))
      // writing it back through the codec REJECTS by default...
      val ex = intercept[Exception] {
        t.upsert("gm::n", Seq(VSRecord("f2", Array(1f, 1f), Map("__gid" -> "999"))))
      }
      assert(ex.getMessage.contains("reserved"), ex.getMessage)
      // ...and strips under the escape hatch (foreign-collection migration)
      val ts = new PineconeWireTransport(server.url, stripReserved = true)
      ts.upsert("gm::n", Seq(VSRecord("f2", Array(1f, 1f), Map("__gid" -> "999", "k" -> "v"))))
      assert(t.scroll("gm::n", 0, 10).find(_.id == "f2").get.metadata == Map("k" -> "v"))
    } finally server.stop()
  }

  test("qdrant wire: reserved_key_policy=strip drops __gid with a warning instead of failing") {
    val server = new QdrantWireServer(new InMemoryStore)
    try {
      val reject = new QdrantWireTransport(server.url)
      reject.createCollection("rk", CollectionConfig(dim = 2), recreate = true)
      intercept[Exception] {
        reject.upsert("rk", Seq(VSRecord("1", Array(1f, 0f), Map("__gid" -> "5"))))
      }
      val strip = new QdrantWireTransport(server.url, stripReserved = true)
      assert(strip.upsert("rk", Seq(
        VSRecord("1", Array(1f, 0f), Map("__gid" -> "5", "lbl" -> "x")))) == 1)
      assert(strip.scroll("rk", 0, 10).head.metadata == Map("lbl" -> "x"))
    } finally server.stop()
  }

  test("pinecone wire: filtered scroll rides /query and pins the slice bodies") {
    val server = new PineconeWireServer(new InMemoryStore)
    val t = new PineconeWireTransport(server.url)
    try {
      t.createCollection("fs::n", CollectionConfig(dim = 2), recreate = true)
      t.upsert("fs::n", canon(50))
      // a numeric-range slice filter (what planCursorSlices renders):
      // exactly the [10, 30) ids, via /query — not /vectors/list
      val slice = """{"$and":[{"__gid":{"$gte":10}},{"__gid":{"$lt":30}}]}"""
      val (page, next) = t.scrollPageFiltered("fs::n", None, 100, Some(slice))
      assert(page.map(_.id.toInt).sorted == (10 until 30).toList, page.map(_.id))
      // the work list continues to the $exists:false catch-all leg, which
      // is EMPTY here (every id is numeric -> mirrored)
      val (rest, end) = t.scrollPageFiltered("fs::n", next, 100, Some(slice))
      assert(rest.isEmpty && end.isEmpty)
      val qBodies = server.requestLines.zipWithIndex.collect {
        case (l, _) if l.startsWith("POST /query") => l }
      assert(qBodies.size == 2, qBodies.toString)
      val body = server.bodyOf("POST /query").get
      assert(body.contains(""""$gte":10""") || body.contains(""""$exists":false"""), body)
      assert(!server.requestLines.exists(_.startsWith("GET /vectors/list")), "slices must not walk the list")
    } finally server.stop()
  }

  test("pinecone wire: $exists:true reaches present non-numeric __gid; $lte bound inclusive") {
    val inner = new InMemoryStore
    val server = new PineconeWireServer(inner)
    val t = new PineconeWireTransport(server.url)
    try {
      t.createCollection("eb::n", CollectionConfig(dim = 2), recreate = true)
      t.upsert("eb::n", (0 until 5).map(i =>
        VSRecord(s"$i", Array(i.toFloat, 1f), Map("lbl" -> "x"))))
      // foreign records: one STRING __gid (present key!), one without
      inner.upsert("eb::n", Seq(
        VSRecord("s1", Array(9f, 9f), Map("__gid" -> "abc")),
        VSRecord("n1", Array(8f, 8f), Map("lbl" -> "y"))))
      // the unfiltered-root interval ({"__gid":{"$exists":true}} leg) must
      // see the string-gid record — pruning to the numeric index alone
      // would silently drop it
      val got = {
        var out = List.empty[VSRecord]
        var cur: Option[String] = None; var first = true
        while (first || cur.isDefined) {
          val (p, n) = t.scrollPageFiltered("eb::n", cur, 100, Some("""{"$and":[{},{}]}"""))
          first = false; out ++= p
          cur = if (p.isEmpty && n.isEmpty) None else n
        }
        out
      }
      assert(got.map(_.id).toSet == Set("0", "1", "2", "3", "4", "s1", "n1"),
        got.map(_.id).toString)
      // $lte is INCLUSIVE on the gid index
      val lte = t.nativeSearch("eb::n", SearchSpec(Array(1f, 0f), 10),
        Some("""{"__gid":{"$lte":3}}""")).get
      assert(lte.map(_.id).toSet == Set("0", "1", "2", "3"), lte.map(_.id).toString)
    } finally server.stop()
  }

  test("pinecone dialect rejects legacy Qdrant-style filter strings loudly") {
    val d = new PineconeFilterDialect
    val ex = intercept[IllegalArgumentException] {
      d.parse("""{"must":[{"key":"label","match":{"value":1}}]}""")
    }
    assert(ex.getMessage.contains("Mongo-style"), ex.getMessage)
  }

  test("pinecone DSv2 filtered scan still slices when the filter matches >= the query cap") {
    val server = new PineconeWireServer(new InMemoryStore)
    val t = new PineconeWireTransport(server.url)
    try {
      t.createCollection("bigf::n", CollectionConfig(dim = 2), recreate = true)
      (0 until 2400).map(i => VSRecord(s"$i", Array(i.toFloat, 1f), Map("lbl" -> s"l${i % 2}")))
        .grouped(500).foreach(g => t.upsert("bigf::n", g.toSeq))
      // pushed filter matches 1200 rows (> the 1000 /query cap): the
      // planner's probe must follow the bisecting cursor instead of
      // collapsing to one sequential walk, and coverage stays exactly-once
      val back = spark.read.format("graft-pinecone").option("url", server.url)
        .option("collection", "bigf").option("namespace", "n")
        .option("page_size", "100").option("cursor_parallelism", "4").load()
        .filter(element_at(col(Canonical.METADATA), "lbl") === "l0")
        .select(col(Canonical.ID)).collect().map(_.getString(0)).toSeq
      assert(back.size == back.distinct.size, "duplicates across slices")
      assert(back.toSet == (0 until 2400 by 2).map(_.toString).toSet, s"${back.size}")
    } finally server.stop()
  }

  test("pinecone wire: filtered scroll bisects past the /query cap, exactly-once") {
    val server = new PineconeWireServer(new InMemoryStore)
    val t = new PineconeWireTransport(server.url)
    try {
      t.createCollection("big::n", CollectionConfig(dim = 2), recreate = true)
      // 2500 matching records > the 1000-row documented query cap: the
      // interval engine must split on returned-gid medians until every
      // leaf fits, and the union must be exactly-once
      val recs = (0 until 2500).map(i =>
        VSRecord(s"$i", Array(i.toFloat, 1f), Map("lbl" -> s"l${i % 2}")))
      recs.grouped(500).foreach(g => t.upsert("big::n", g))
      val got = scala.collection.mutable.ArrayBuffer.empty[VSRecord]
      var cursor: Option[String] = None
      var first = true
      val filter = """{"lbl":{"$eq":"l0"}}"""
      while (first || cursor.isDefined) {
        val (page, next) = t.scrollPageFiltered("big::n", cursor, 1000, Some(filter))
        first = false
        got ++= page
        cursor = if (page.isEmpty && next.isEmpty) None else next
      }
      val expect = (0 until 2500).filter(_ % 2 == 0).map(_.toString).toSet
      assert(got.map(_.id).toSet == expect, s"${got.size} vs ${expect.size}")
      assert(got.size == expect.size, "duplicates across intervals")
      assert(got.forall(_.metadata == Map("lbl" -> "l0")))
    } finally server.stop()
  }

  // --------------------------------------------- DSv2 end-to-end per wire

  test("DSv2 write + filtered scan through the milvus wire") {
    val server = new MilvusWireServer(new InMemoryStore)
    try {
      val df = (0 until 20).map(i => (s"$i", Seq(i.toFloat, 1f), Map("label" -> s"${i % 4}")))
        .toDF(Canonical.ID, Canonical.VECTOR, Canonical.METADATA)
      df.write.format("graft-milvus").option("url", server.url)
        .option("collection", "m_e2e").option("recreate", "true")
        .mode("overwrite").save()
      val back = spark.read.format("graft-milvus").option("url", server.url)
        .option("collection", "m_e2e").load()
        .filter(element_at(col(Canonical.METADATA), "label") === "2")
      assert(back.count() == 5)
      assert(server.requestLines.exists(_.contains("/v2/vectordb/entities/upsert")))
    } finally server.stop()
  }

  test("qdrant wire: id equality/membership push as the documented has_id condition") {
    val server = new QdrantWireServer(new InMemoryStore)
    try {
      spark.conf.set("spark.sql.catalog.vhi", classOf[VSCatalog].getName)
      spark.conf.set("spark.sql.catalog.vhi.url", server.url)
      val t = new QdrantWireTransport(server.url)
      t.createCollection("qhid", CollectionConfig(dim = 2), recreate = true)
      t.upsert("qhid", Seq("1", "2", "007", "aa").map(id =>
        VSRecord(id, Array(1f, 2f), Map("lbl" -> "x"))))
      val one = spark.table("vhi.qhid").filter($"id" === "2")
        .select("id").as[String].collect().toSeq
      assert(one == Seq("2"), one.toString)
      val many = spark.table("vhi.qhid").filter($"id".isin("1", "007", "aa"))
        .select("id").as[String].collect().toSeq.sorted
      assert(many == Seq("007", "1", "aa"), many.toString)
      val bodies = server.bodiesOf("POST /collections/qhid/points/scroll")
      // point ids are NOT payload keys on the real wire: the filter is the
      // documented has_id condition, uints as numbers, the rest as strings
      assert(bodies.exists(_.contains("\"has_id\":[2]")), bodies.mkString("\n"))
      assert(bodies.exists(b => b.contains("\"has_id\"") && b.contains("\"007\"")
        && b.contains("\"aa\"") && b.contains("[1,")), bodies.mkString("\n"))
      assert(!bodies.exists(_.contains("\"key\":\"id\"")), "id leaked as a payload key")
    } finally server.stop()
  }

  test("milvus wire: publish rides the documented alias verbs, generations retired") {
    val store = new InMemoryStore
    val server = new MilvusWireServer(store)
    val t = new MilvusWireTransport(server.url)
    try {
      t.createCollection("rn_src", CollectionConfig(dim = 2), recreate = true)
      t.upsert("rn_src", canon(5))
      t.createCollection("rn_dst", CollectionConfig(dim = 2), recreate = true)
      t.upsert("rn_dst", Seq(VSRecord("zz", Array(9f, 9f), Map.empty)))
      t.rename("rn_src", "rn_dst") // shadow-swap semantics: replaces the target
      assert(t.count("rn_dst") == 5)
      assert(t.scroll("rn_dst", 0, 10).map(_.id).sorted == (0 until 5).map(_.toString))
      // first publish over a LITERAL live target: drop + aliases/create
      assert(server.requestLines.exists(_.startsWith("POST /v2/vectordb/aliases/create")),
        server.requestLines.mkString("\n"))
      // catalog shows the published name, never the generation under it
      assert(t.listCollections() == Seq("rn_dst"), t.listCollections().toString)
      // retry idempotency: a re-delivered rename whose first attempt
      // applied repoints to the same generation — no data loss
      t.rename("rn_src", "rn_dst")
      assert(t.count("rn_dst") == 5, "retried rename destroyed the published data")
      // second publish over the now-ALIASED name: ONE atomic aliases/alter
      t.createCollection("rn_src2", CollectionConfig(dim = 2), recreate = true)
      t.upsert("rn_src2", canon(3))
      val mark = server.requestLines.size
      val dropsBefore = server.bodiesOf("POST /v2/vectordb/collections/drop").size
      t.rename("rn_src2", "rn_dst")
      assert(t.count("rn_dst") == 3)
      val lines = server.requestLines.drop(mark)
      assert(lines.exists(_.startsWith("POST /v2/vectordb/aliases/alter")), lines)
      // the old generation is retired AFTER the flip; once aliased, the
      // published name itself is NEVER dropped again (the pre-conversion
      // literal drop above was the one-time window)
      val alter = lines.indexWhere(_.startsWith("POST /v2/vectordb/aliases/alter"))
      val retire = lines.indexWhere(_.startsWith("POST /v2/vectordb/collections/drop"))
      assert(retire > alter, lines)
      val dropsAfter = server.bodiesOf("POST /v2/vectordb/collections/drop").drop(dropsBefore)
      assert(!dropsAfter.exists(_.contains("\"collectionName\":\"rn_dst\"")),
        dropsAfter.toString)
      // a rename whose source never existed (and no published target) errors
      intercept[Exception](t.rename("rn_never", "rn_nowhere"))
      // dropping the published name removes alias AND generation
      t.drop("rn_dst")
      assert(!t.exists("rn_dst") && t.listCollections().isEmpty)
    } finally server.stop()
  }

  test("atomic overwrite publishes through the milvus wire's alias verbs") {
    val server = new MilvusWireServer(new InMemoryStore)
    val t = new MilvusWireTransport(server.url)
    try {
      t.createCollection("atom_m", CollectionConfig(dim = 2), recreate = true)
      t.upsert("atom_m", Seq(VSRecord("old", Array(0f, 0f), Map("k" -> "v"))))
      (0 until 6).map(i => (s"n$i", Seq(i.toFloat, 1f), Map("k" -> "v")))
        .toDF(Canonical.ID, Canonical.VECTOR, Canonical.METADATA)
        .write.format("graft-milvus").option("url", server.url)
        .option("collection", "atom_m").option("atomic", "true")
        .option("recreate", "true").mode("overwrite").save()
      // old contents replaced wholesale; the publish was the documented
      // alias verbs over the socket; no stranded shadow in the catalog
      assert(t.count("atom_m") == 6)
      assert(t.scroll("atom_m", 0, 10).forall(_.id.startsWith("n")))
      assert(server.requestLines.exists(
        _.startsWith("POST /v2/vectordb/aliases/")),
        server.requestLines.mkString("\n"))
      assert(!t.listCollections().exists(_.startsWith("atom_m__staging_")))
    } finally server.stop()
  }

  test("milvus recreate of a PUBLISHED collection: atomic alias repoint, no window") {
    val server = new MilvusWireServer(new InMemoryStore)
    val t = new MilvusWireTransport(server.url)
    try {
      // publish "live" atomically: gen1 under the alias
      t.createCollection("gen1", CollectionConfig(dim = 2), recreate = false)
      t.upsert("gen1", canon(5))
      t.rename("gen1", "live")
      assert(t.count("live") == 5)
      // concurrent reader: poll existence of the published name throughout
      val missed = new java.util.concurrent.atomic.AtomicInteger(0)
      val polls = new java.util.concurrent.atomic.AtomicInteger(0)
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val probe = new Thread(() => {
        val p = new MilvusWireTransport(server.url)
        while (!stop.get()) {
          polls.incrementAndGet()
          if (!p.exists("live")) missed.incrementAndGet()
        }
      })
      probe.setDaemon(true)
      probe.start()
      val mark = server.requestLines.size
      t.createCollection("live", CollectionConfig(dim = 4), recreate = true)
      stop.set(true)
      probe.join(5000)
      assert(polls.get() > 0)
      assert(missed.get() == 0,
        s"concurrent reader saw ${missed.get()}/${polls.get()} not-founds during " +
          "recreate — drop-then-create window regressed")
      // recreated: empty, the NEW config, still addressable under the name
      assert(t.count("live") == 0)
      assert(t.describe("live").exists(_.dim == 4))
      // wire shape: the published name is never dropped; the repoint (one
      // aliases/alter POST) precedes the old generation's retirement
      val lines = server.requestLines.drop(mark)
      assert(!server.bodiesOf("POST /v2/vectordb/collections/drop")
        .exists(_.contains("\"collectionName\":\"live\"")), "published name was dropped")
      val flip = lines.indexWhere(_.startsWith("POST /v2/vectordb/aliases/alter"))
      val retire = lines.indexWhere(_.startsWith("POST /v2/vectordb/collections/drop"))
      assert(flip >= 0 && retire > flip, lines)
      t.drop("live")
      assert(!t.exists("live"))
    } finally server.stop()
  }

  test("pinecone recreate of a namespace: pointer flip, no not-found window") {
    val server = new PineconeWireServer(new InMemoryStore)
    val t = new PineconeWireTransport(server.url)
    try {
      // publish ix::team atomically so the namespace is pointered
      t.createCollection("rcix", CollectionConfig(dim = 2), recreate = false)
      val shadow = t.stagingName("rcix::team")
      t.createCollection(shadow, CollectionConfig(dim = 2), recreate = false)
      t.upsert(shadow, canon(5))
      t.rename(shadow, "rcix::team")
      assert(t.count("rcix::team") == 5)
      // concurrent reader: the logical namespace must resolve throughout
      val missed = new java.util.concurrent.atomic.AtomicInteger(0)
      val polls = new java.util.concurrent.atomic.AtomicInteger(0)
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val probe = new Thread(() => {
        val p = new PineconeWireTransport(server.url)
        while (!stop.get()) {
          polls.incrementAndGet()
          if (!p.exists("rcix::team")) missed.incrementAndGet()
        }
      })
      probe.setDaemon(true)
      probe.start()
      t.createCollection("rcix::team", CollectionConfig(dim = 2), recreate = true)
      stop.set(true)
      probe.join(5000)
      assert(polls.get() > 0)
      assert(missed.get() == 0,
        s"concurrent reader saw ${missed.get()}/${polls.get()} not-founds during " +
          "namespace recreate — in-place deleteAll window regressed")
      // recreated: empty but addressable; the old generation is retired
      assert(t.count("rcix::team") == 0)
      assert(t.exists("rcix::team"))
      assert(t.upsert("rcix::team", canon(2)) == 2) // writes land in the new generation
      assert(t.count("rcix::team") == 2)
      // the index itself was never deleted (other namespaces survive)
      assert(!server.requestLines.exists(_.startsWith("DELETE /indexes/rcix")),
        server.requestLines.filter(_.startsWith("DELETE")).mkString("\n"))
    } finally server.stop()
  }

  test("qdrant cursor scan plans N concurrent walks over disjoint server-side id slices") {
    val store = new InMemoryStore
    val server = new QdrantWireServer(store)
    try {
      // seeded through the WIRE CLIENT so numeric ids get their __gid
      // payload mirror — the field the id slices range-filter (real
      // Qdrant cannot range-filter point ids)
      val t = new QdrantWireTransport(server.url)
      t.createCollection("qpar", CollectionConfig(dim = 2), recreate = true)
      t.upsert("qpar", (0 until 1500).map(i =>
        VSRecord(s"$i", Array(i.toFloat, 1f), Map("lbl" -> s"l${i % 3}"))))
      // a non-numeric id gets no __gid: lands in the catch-all slice,
      // never vanishes
      t.upsert("qpar", Seq(VSRecord("alpha", Array(1f, 2f), Map("lbl" -> "lx"))))
      spark.conf.set("spark.sql.catalog.vqp", classOf[VSCatalog].getName)
      spark.conf.set("spark.sql.catalog.vqp.url", server.url)
      spark.conf.set("spark.sql.catalog.vqp.page_size", "100")
      val df = spark.table("vqp.qpar")
      // 8 numeric range slices + the non-numeric catch-all
      assert(df.rdd.getNumPartitions == 9, s"partitions=${df.rdd.getNumPartitions}")
      val ids = df.select("id").as[String].collect()
      assert(ids.length == 1501 && ids.distinct.length == 1501, // disjoint + covering
        s"n=${ids.length} distinct=${ids.distinct.length}")
      assert(ids.contains("alpha"))
      // each walk shipped its slice filter in the documented scroll body
      val bodies = server.bodiesOf("POST /collections/qpar/points/scroll")
      assert(bodies.count(b => b.contains("\"range\"") && b.contains("\"filter\"")) >= 8,
        bodies.take(3).mkString("\n"))
      assert(bodies.exists(_.contains("must_not")), "catch-all slice never hit the wire")
      // a pushed limit keeps the global-head single walk
      assert(spark.table("vqp.qpar").limit(5).rdd.getNumPartitions == 1)
    } finally server.stop()
  }

  test("migration into a namespaced pinecone target reports every row written") {
    // write stats are recorded under index::namespace; the report must
    // look them up under that name, not the bare index (which held no
    // stats and counted an index-level namespace that does not exist)
    val src = new QdrantWireServer(new InMemoryStore)
    val dst = new PineconeWireServer(new InMemoryStore)
    try {
      val t = new QdrantWireTransport(src.url)
      t.createCollection("emb", CollectionConfig(dim = 2), recreate = true)
      t.upsert("emb", canon(23))
      val cfg = graft.config.MigrationConfig.fromJson(
        s"""{"source": {"type": "qdrant", "connection": {"url": "${src.url}"},
           |            "query": {"collection": "emb"}},
           | "target": {"type": "pinecone",
           |            "connection": {"url": "${dst.url}", "namespace": "team1"},
           |            "load": {"collection": "pix", "recreate": true,
           |                     "dimension": 2, "batch_size": 5}}}""".stripMargin)
      val report = new graft.core.Migrator(spark).run(cfg)
      assert(report.success, report.error)
      assert(report.written == 23 && report.skipped == 0 && report.extracted == 23,
        report.toString)
      assert(new PineconeWireTransport(dst.url).count("pix::team1") == 23)
    } finally { src.stop(); dst.stop() }
  }

  test("DSv2 write + scan through the pinecone wire, namespace option") {
    val server = new PineconeWireServer(new InMemoryStore)
    try {
      val df = (0 until 6).map(i => (s"$i", Seq(i.toFloat, 2f), Map("k" -> "v")))
        .toDF(Canonical.ID, Canonical.VECTOR, Canonical.METADATA)
      df.write.format("graft-pinecone").option("url", server.url)
        .option("collection", "pix").option("namespace", "team1")
        .option("recreate", "true").mode("overwrite").save()
      val back = spark.read.format("graft-pinecone").option("url", server.url)
        .option("collection", "pix").option("namespace", "team1").load()
      assert(back.count() == 6)
      // the other namespace is empty — address separation held
      val other = spark.read.format("graft-pinecone").option("url", server.url)
        .option("collection", "pix").option("namespace", "team2").load()
      assert(other.count() == 0)
    } finally server.stop()
  }
}
