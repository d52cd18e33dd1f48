package graft.connectors.vectorstore

import graft.SparkSpec
import graft.model.Canonical
import org.apache.spark.sql.functions._

/** Endpoint routing: transports are keyed by the `url` each table's own
  * options name, not swapped process-wide. The decisive case is a
  * migration between two DIFFERENT endpoints — DSv2 scans execute
  * lazily, so the source's scroll calls run during the target's write; a
  * process-global transport install would read the source collection
  * from the TARGET backend (silently wrong data when a same-named
  * collection exists there). These specs stand up two independent
  * loopback servers and prove each side talks to its own. */
class TransportRoutingSpec extends SparkSpec {

  private def seed(store: InMemoryStore, coll: String, n: Int, tag: String): Unit = {
    store.createCollection(coll, CollectionConfig(dim = 2), recreate = true)
    store.upsert(coll, (0 until n).map(i =>
      VSRecord(s"$i", Array(i.toFloat, 0f), Map("origin" -> tag))))
  }

  test("migration between two url endpoints reads the SOURCE, not the target") {
    val srcStore = new InMemoryStore
    val dstStore = new InMemoryStore
    val srcServer = new QdrantWireServer(srcStore)
    val dstServer = new QdrantWireServer(dstStore)
    try {
      seed(srcStore, "mig_coll", 10, "source")
      // the trap: the TARGET backend has a same-named collection with
      // different content — a global transport install would migrate THIS
      seed(dstStore, "mig_coll", 3, "decoy")

      val cfg = graft.config.MigrationConfig.fromJson(
        s"""{"source": {"type": "qdrant", "connection": {"url": "${srcServer.url}"},
           |            "query": {"collection": "mig_coll"}},
           | "target": {"type": "qdrant", "connection": {"url": "${dstServer.url}"},
           |            "load": {"collection": "mig_out", "recreate": true}}}""".stripMargin)
      val report = new graft.core.Migrator(spark).run(cfg)
      assert(report.success, report.error)

      val out = dstStore.scroll("mig_out", 0, 100)
      assert(out.length == 10, s"expected the 10 source records, got ${out.length}")
      assert(out.forall(_.metadata("origin") == "source"),
        "target received decoy rows — the source scan ran against the target endpoint")
      // and the source endpoint was never written to
      assert(!srcStore.exists("mig_out"))
    } finally { srcServer.stop(); dstServer.stop() }
  }

  test("a single plan reading two endpoints keeps them apart") {
    val storeA = new InMemoryStore
    val storeB = new InMemoryStore
    val serverA = new QdrantWireServer(storeA)
    val serverB = new QdrantWireServer(storeB)
    try {
      seed(storeA, "same_name", 4, "a")
      seed(storeB, "same_name", 7, "b")
      val readA = spark.read.format("graft-qdrant")
        .option("url", serverA.url).option("collection", "same_name").load()
      val readB = spark.read.format("graft-qdrant")
        .option("url", serverB.url).option("collection", "same_name").load()
      // one union, both scans execute in the same job — each must hit its url
      val counts = readA.withColumn("src", lit("a"))
        .unionByName(readB.withColumn("src", lit("b")))
        .groupBy("src").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts == Map("a" -> 4L, "b" -> 7L))
    } finally { serverA.stop(); serverB.stop() }
  }

  test("api_key crosses the wire and the server enforces it") {
    val store = new InMemoryStore
    val server = new QdrantWireServer(store, apiKey = Some("s3cret"))
    try {
      seed(store, "auth_coll", 5, "x")
      // right key: full scan works
      val ok = spark.read.format("graft-qdrant")
        .option("url", server.url).option("api_key", "s3cret")
        .option("collection", "auth_coll").load()
      assert(ok.count() == 5)
      // missing key: 401 surfaces as an IOException (after bounded retries)
      val noAuth = intercept[Exception] {
        spark.read.format("graft-qdrant")
          .option("url", server.url).option("max_retries", "1")
          .option("collection", "auth_coll").load().count()
      }
      def rootMsg(t: Throwable): String =
        Option(t.getCause).map(rootMsg).getOrElse(String.valueOf(t.getMessage))
      assert((noAuth.getMessage + rootMsg(noAuth)).contains("401"),
        s"expected a 401 failure, got: ${noAuth.getMessage}")
    } finally server.stop()
  }

  test("api_key from a migration config JSON reaches the wire as the auth header") {
    val store = new InMemoryStore
    val server = new QdrantWireServer(store, apiKey = Some("cfg-key"))
    try {
      seed(store, "auth_src", 6, "s")
      def cfg(key: String) = graft.config.MigrationConfig.fromJson(
        s"""{"source": {"type": "qdrant",
           |            "connection": {"url": "${server.url}", "api_key": "$key"},
           |            "query": {"collection": "auth_src"}},
           | "target": {"type": "qdrant",
           |            "connection": {"url": "${server.url}", "api_key": "$key"},
           |            "load": {"collection": "auth_dst", "recreate": true}}}""".stripMargin)
      val ok = new graft.core.Migrator(spark).run(cfg("cfg-key"))
      assert(ok.success, ok.error)
      assert(store.count("auth_dst") == 6)
      // a wrong key is rejected by the server and surfaces as a failed run
      val bad = new graft.core.Migrator(spark).run(cfg("wrong"))
      assert(!bad.success)
    } finally server.stop()
  }

  test("writes route by url too (upsert lands on the right endpoint)") {
    import spark.implicits._
    val storeA = new InMemoryStore
    val storeB = new InMemoryStore
    val serverA = new QdrantWireServer(storeA)
    val serverB = new QdrantWireServer(storeB)
    try {
      val df = Seq(("w1", Seq(1f, 2f), Map("k" -> "v")))
        .toDF(Canonical.ID, Canonical.VECTOR, Canonical.METADATA)
      df.write.format("graft-qdrant").option("url", serverB.url)
        .option("collection", "routed").option("recreate", "true")
        .mode("overwrite").save()
      assert(storeB.count("routed") == 1)
      assert(!storeA.exists("routed"))
      assert(!InMemoryTransport.exists("routed"))
    } finally { serverA.stop(); serverB.stop() }
  }

  test("a url on a backend with no wire dialect fails typed instead of guessing one") {
    // e.g. an operator verb or SnapshotDiff.applyTo handed type=parquet
    // plus a url: no request may go out in a made-up protocol
    val e = intercept[IllegalArgumentException] {
      VectorStore.resolve(TransportSpec(url = Some("http://127.0.0.1:1"), backend = "parquet"))
    }
    assert(e.getMessage.contains("parquet") && e.getMessage.contains("qdrant"), e.getMessage)
    Seq("qdrant", "milvus", "pinecone").foreach(b =>
      assert(VectorStore.wireClient(TransportSpec(url = Some("http://127.0.0.1:1"), backend = b))
        .isInstanceOf[WireClient], b))
  }
}
