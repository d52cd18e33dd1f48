package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.config.QuerySpec
import graft.connectors.{ConnectorRegistry, ParquetConnector}
import graft.model.Canonical

/** Connector-path queries: the reference's scan surface (S1–S3 with P1–P3
  * pushdown) driven through the engine's actual connectors, checked against
  * plain-SQL oracles. Each query loads the fixture into the emulated
  * backend (idempotent upsert) and reads it back through the DSv2 scan with
  * a backend-native filter — so the driver's gate covers the full
  * config → connector → pushdown → canonical-DataFrame path.
  */
object ConnectorQueries {

  /** embeddings fixture → canonical rows in the vector store, keyed by
    * collection; idempotent (overwrite) so repeated runs are stable. */
  private def loadFixture(s: SparkSession, dir: String, fmt: String, coll: String,
                          options: Map[String, String] = Map.empty): Unit = {
    Canonical.from(Tables(s, dir, "embeddings"),
      idCol = "vec_id", vectorCol = Some("embedding"), metadataCols = Seq("label"))
      .write.format(fmt).options(options)
      .option("collection", coll).option("recreate", "true")
      .mode("overwrite").save()
  }

  // the applied CDC diff replayed declaratively: survivors = untouched
  // keeps + updated rows (label+100, vector negated) + shifted inserts.
  // Shared by the batch (q_cdc_apply) and streaming (q_cdc_apply_stream)
  // gates — both land the same final collection state.
  private val cdcApplySql: String =
    "WITH o AS (SELECT vec_id, embedding, label FROM embeddings), " +
      "keep AS (SELECT CAST(vec_id AS VARCHAR) AS id, embedding AS emb, " +
      "CAST(label AS VARCHAR) AS label FROM o " +
      "WHERE vec_id % 17 != 0 AND vec_id % 13 != 0), " +
      "upd AS (SELECT CAST(vec_id AS VARCHAR) AS id, " +
      "list_transform(embedding, x -> -x) AS emb, " +
      "CAST(label + 100 AS VARCHAR) AS label FROM o " +
      "WHERE vec_id % 13 = 0 AND vec_id % 17 != 0), " +
      "ins AS (SELECT CAST(vec_id + 1000000 AS VARCHAR) AS id, embedding AS emb, " +
      "CAST(label AS VARCHAR) AS label FROM o WHERE vec_id % 19 = 0), " +
      "fin AS (SELECT * FROM keep UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM ins) " +
      "SELECT id, label, round(CAST(emb[1] AS DOUBLE), 5) + 0.0 AS v1 FROM fin"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1-path: parquet connector scan with projection/filter/limit pushdown
    "q_connector_scan" -> ((s, dir) =>
      new ParquetConnector().read(s, Map("path" -> dir), QuerySpec(
        collection = "embeddings", idColumn = "vec_id", vectorColumn = Some("embedding"),
        metadataColumns = Seq("label"), filter = Some("label >= 8")))
        .select(col(Canonical.ID), element_at(col(Canonical.METADATA), "label").as("label"))),

    // S2-path: Qdrant DSv2 scan, JSON structured filter pushed down
    "q_connector_qdrant" -> ((s, dir) => {
      loadFixture(s, dir, "graft-qdrant", "gate_q")
      ConnectorRegistry("qdrant").read(s, Map.empty, QuerySpec(
        collection = "gate_q",
        filter = Some("""{"must":[{"key":"label","range":{"gte":5}},
                        |         {"must_not":[{"key":"label","match":{"value":7}}]}]}""".stripMargin)))
        .select(col(Canonical.ID), element_at(col(Canonical.METADATA), "label").as("label"))
    }),

    // S3-path: Milvus DSv2 scan, boolean-expression filter pushed down
    "q_connector_milvus" -> ((s, dir) => {
      loadFixture(s, dir, "graft-milvus", "gate_m")
      ConnectorRegistry("milvus").read(s, Map.empty, QuerySpec(
        collection = "gate_m",
        filter = Some("label >= 3 && label < 6 || label == 9")))
        .select(col(Canonical.ID), element_at(col(Canonical.METADATA), "label").as("label"))
    }),

    // S3-path, BINARY_VECTOR face: sign-bit-packed embeddings written to a
    // Milvus binary collection through the DSv2 sink (byte-array carry,
    // Hamming metric), read back through the DSv2 scan, then Hamming top-3
    // per query with the codegen'd XOR+popcount kernel — proving the bytes
    // survive the write→store→scan round trip bit-for-bit (the oracle
    // recomputes every distance from the float embeddings' signs)
    "q_connector_milvus_binary" -> ((s, dir) => {
      Tables(s, dir, "embeddings").select(
        col("vec_id").cast("string").as(Canonical.ID),
        graft.functions.BinaryVectors.pack(col("embedding")).as(Canonical.VECTOR),
        map(lit("label"), col("label").cast("string")).as(Canonical.METADATA))
        .write.format("graft-milvus")
        .option("collection", "gate_mb").option("vector_type", "BINARY_VECTOR")
        .option("distance", "Hamming")
        .option("recreate", "true").mode("overwrite").save()
      val back = s.read.format("graft-milvus").option("collection", "gate_mb")
        .option("vector_type", "BINARY_VECTOR").load()
      val q = broadcast(back.filter(col(Canonical.ID).isin("0", "1", "2", "3", "4"))
        .select(col(Canonical.ID).as("query_id"), col(Canonical.VECTOR).as("qb")))
      val w = Window.partitionBy("query_id").orderBy(col("hamming").asc, col("cand_id").asc)
      back.select(col(Canonical.ID).as("cand_id"), col(Canonical.VECTOR).as("cb"))
        .join(q, col("cand_id") =!= col("query_id"))
        .withColumn("hamming", graft.functions.BinaryVectors.hamming(col("qb"), col("cb")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("query_id"), col("cand_id"), col("hamming"), col("rk"))
    }),

    // S4-path: Pinecone (implemented; empty module in the reference)
    "q_connector_pinecone" -> ((s, dir) => {
      loadFixture(s, dir, "graft-pinecone", "gate_p::ns")
      // no limit here: the store's insertion order is task-commit order, so
      // a pushed limit would be a nondeterministic subset (pushed-limit
      // behavior is spec-tested instead, VectorStoreSpec)
      ConnectorRegistry("pinecone").read(s, Map("namespace" -> "ns"), QuerySpec(
        collection = "gate_p",
        filter = Some("""{"label": {"$eq": 1}}"""))) // Pinecone's Mongo-style filter
        .select(col(Canonical.ID), element_at(col(Canonical.METADATA), "label").as("label"))
    }),

    // S3 over the REAL Milvus v2 REST wire: the same scan+filter as
    // q_connector_milvus, but fixture upserts and the DSv2 scan cross a
    // localhost socket speaking /v2/vectordb verbs with Bearer auth —
    // the oracle adjudicates that the dialect round trip is value-exact
    "q_connector_milvus_wire" -> ((s, dir) => {
      import graft.connectors.vectorstore._
      val server = new MilvusWireServer(new InMemoryStore, apiKey = Some("gate-mk"))
      val conn = Map("url" -> server.url, "api_key" -> "gate-mk")
      try {
        loadFixture(s, dir, "graft-milvus", "gate_mw", options = conn)
        ConnectorRegistry("milvus").read(s, conn, QuerySpec(
          collection = "gate_mw",
          filter = Some("label >= 3 && label < 6 || label == 9")))
          .select(col(Canonical.ID), element_at(col(Canonical.METADATA), "label").as("label"))
          .localCheckpoint(true)
      } finally server.stop()
    }),

    // S4 over the REAL Pinecone REST wire: control-plane create, data-plane
    // upsert/list/fetch with the namespace on every call, Api-Key auth
    "q_connector_pinecone_wire" -> ((s, dir) => {
      import graft.connectors.vectorstore._
      val server = new PineconeWireServer(new InMemoryStore, apiKey = Some("gate-pk"))
      val conn = Map("url" -> server.url, "api_key" -> "gate-pk", "namespace" -> "ns")
      try {
        loadFixture(s, dir, "graft-pinecone", "gate_pw", options = conn)
        ConnectorRegistry("pinecone").read(s, conn, QuerySpec(
          collection = "gate_pw",
          filter = Some("""{"label": {"$eq": 1}}""")))
          .select(col(Canonical.ID), element_at(col(Canonical.METADATA), "label").as("label"))
          .localCheckpoint(true)
      } finally server.stop()
    }),

    "q_connector_search" -> ((s, dir) => searchQuery(s, dir)),

    "q_connector_search_hamming" -> ((s, dir) => hammingSearchQuery(s, dir)),

    // FILTERED binary top-k: metadata predicate + ORDER BY hamming ASC
    // LIMIT k over a BINARY_VECTOR collection — the binary face of the
    // filtered-search rewrite (same absorb rule, Milvus's native metric).
    "q_connector_search_filtered_hamming" -> ((s, dir) =>
      hammingSearchQuery(s, dir, coll = "gate_srchbf", minLabel = Some(5))),

    // FILTERED top-k: metadata predicate + ORDER BY cosine LIMIT k — the
    // canonical vector query. PushVectorSearch absorbs the translatable
    // Filter into the pushed search (PushVectorSearchSpec pins the plan +
    // the single filtered /points/search wire call); the oracle
    // adjudicates it equals exact brute-force cosine over the filtered set.
    "q_connector_search_filtered" -> ((s, dir) =>
      searchQuery(s, dir, coll = "gate_srchf", minLabel = Some(5))),

    // The SAME filtered top-k written the way users write it: score column
    // FIRST (withColumn), the metadata filter ABOVE it, sort by NAME
    // (desc("score")) — the kernel then lives in a lower Project and the
    // Sort references the attribute through the alias. The optimizer
    // normalizes the shape (predicate pushdown through the Project) and
    // PushVectorSearch resolves the score through the alias; the gate
    // require()s the rewrite actually FIRED, and the oracle adjudicates
    // it equals exact brute-force cosine over the filtered set.
    "q_connector_search_aliased" -> ((s, dir) => searchQueryAliased(s, dir)),

    // The same pushed top-k, but the collection lives behind a REAL
    // socket: the optimizer's native-search scan issues ONE
    // POST /points/search (require()-pinned on the wire log) instead of
    // scrolling the collection — the backend selects the top-k, the plan's
    // Sort recomputes scores on the returned rows, and the oracle
    // adjudicates the result equals exact brute-force cosine.
    "q_connector_search_wire" -> ((s, dir) => {
      import graft.connectors.vectorstore._
      val server = new QdrantWireServer(new InMemoryStore)
      try {
        val out = searchQuery(s, dir, Map("url" -> server.url), "gate_srchw")
          .localCheckpoint(true)
        require(server.requestLines.exists(
          _.startsWith("POST /collections/gate_srchw/points/search")),
          "native search verb never hit the wire")
        out
      } finally server.stop()
    }),

    // Pushed COUNT(*): counting a collection ships ONE long per scan
    // partition across the seam, never the rows — the plan shows
    // `agg=count(*)` inside the scan (PlanSpec asserts it; the
    // filtered-count variant rides a pushed id filter, VectorStoreSpec)
    "q_connector_count" -> ((s, dir) => {
      loadFixture(s, dir, "graft-qdrant", "gate_cnt")
      ConnectorRegistry("qdrant").read(s, Map.empty, QuerySpec(collection = "gate_cnt"))
        .agg(count(lit(1)).as("n"))
    }),

    // SQL face: the same collections addressed as catalog tables —
    // SELECT over `vs.gate_sql` goes through VSCatalog.loadTable to the
    // identical VSTable scan (pushdown and all), no read.format plumbing
    "q_connector_sql" -> ((s, dir) => {
      s.conf.set("spark.sql.catalog.vs",
        classOf[graft.connectors.vectorstore.VSCatalog].getName)
      loadFixture(s, dir, "graft-qdrant", "gate_sql")
      s.sql(
        s"""SELECT id, element_at(metadata, 'label') AS label
           |FROM vs.gate_sql
           |WHERE CAST(element_at(metadata, 'label') AS INT) >= 5""".stripMargin)
    }),

    // The S2 scan with the transport seam crossed FOR REAL: fixture
    // upserts and the filtered DSv2 scan all travel localhost HTTP
    // (JSON wire, scroll paging, RetryingTransport, api-key auth) — the
    // oracle adjudicates that the socket path returns byte-identical
    // results to the in-JVM path. The endpoint rides the connection
    // options (url-keyed transport), never a process-global install.
    // Materialized eagerly (localCheckpoint) so the server can stop
    // before the driver consumes the frame.
    "q_connector_http" -> ((s, dir) => {
      import graft.connectors.vectorstore._
      val server = new QdrantWireServer(new InMemoryStore, apiKey = Some("gate-key"))
      val conn = Map("url" -> server.url, "api_key" -> "gate-key", "max_retries" -> "3")
      try {
        loadFixture(s, dir, "graft-qdrant", "gate_http", options = conn)
        ConnectorRegistry("qdrant").read(s, conn, QuerySpec(
          collection = "gate_http",
          filter = Some("""{"must":[{"key":"label","range":{"gte":5}}]}""")))
          .select(col(Canonical.ID), element_at(col(Canonical.METADATA), "label").as("label"))
          .localCheckpoint(true)
      } finally server.stop()
    }),

    // The sliced cursor walk end-to-end: a small page size forces a
    // multi-page scroll, and the scan plans 4 CONCURRENT filtered walks
    // over disjoint id slices (numeric ranges + the non-numeric
    // catch-all). The oracle adjudicates exactly-once coverage — a slice
    // overlap would duplicate rows, a gap would drop them, and either
    // hash-mismatches.
    "q_connector_cursor_sliced" -> ((s, dir) => {
      import graft.connectors.vectorstore._
      val server = new QdrantWireServer(new InMemoryStore)
      val conn = Map("url" -> server.url)
      try {
        loadFixture(s, dir, "graft-qdrant", "gate_sliced", options = conn)
        ConnectorRegistry("qdrant").read(s,
          conn ++ Map("page_size" -> "100", "cursor_parallelism" -> "4"),
          QuerySpec(collection = "gate_sliced"))
          .select(col(Canonical.ID),
            element_at(col(Canonical.METADATA), "label").as("label"))
          .localCheckpoint(true)
      } finally server.stop()
    }),

    // The Pinecone twin of the sliced walk: /vectors/list has no filter
    // face, so the 4 concurrent slices ride the public /query endpoint as
    // Mongo-style $gte/$lt ranges over the __gid metadata mirror, bisected
    // on truncation; the non-numeric catch-all is one $exists:false query.
    // The oracle adjudicates exactly-once coverage across all walks.
    "q_connector_cursor_sliced_pinecone" -> ((s, dir) => {
      import graft.connectors.vectorstore._
      val server = new PineconeWireServer(new InMemoryStore)
      val conn = Map("url" -> server.url, "namespace" -> "ns")
      try {
        loadFixture(s, dir, "graft-pinecone", "gate_sp", options = conn)
        ConnectorRegistry("pinecone").read(s,
          conn ++ Map("page_size" -> "100", "cursor_parallelism" -> "4"),
          QuerySpec(collection = "gate_sp"))
          .select(col(Canonical.ID),
            element_at(col(Canonical.METADATA), "label").as("label"))
          .localCheckpoint(true)
      } finally server.stop()
    }),

    // M4 end-to-end: the full config-driven pipeline (read → transform →
    // write) through Migrator, then the target collection read back — the
    // reference's whole program as one checkable query
    "q_migrate_e2e" -> ((s, dir) => {
      val cfg = graft.config.MigrationConfig.fromJson(
        s"""{"source": {"type": "parquet", "connection": {"path": "$dir"},
           |            "query": {"table_name": "embeddings", "id_column": "vec_id",
           |                      "vector_column": "embedding",
           |                      "metadata_columns": ["label"]}},
           | "target": {"type": "memory", "connection": {},
           |            "load": {"collection": "gate_mig", "recreate": true}}}""".stripMargin)
      val report = new graft.core.Migrator(s).run(cfg,
        transform = Some(graft.ops.Transforms.addSourceTracking("pgvector", "t0")))
      require(report.success, report.error)
      graft.connectors.ConnectorRegistry("memory")
        .read(s, Map.empty, QuerySpec(collection = "gate_mig"))
        .select(col(Canonical.ID),
          element_at(col(Canonical.METADATA), "label").as("label"),
          element_at(col(Canonical.METADATA), "source_db").as("source_db"))
    }),

    // ---- The reference's HEADLINE use case on the pgvector face, LIVE:
    //      config-driven migration into a real PostgreSQL server over the
    //      engine's v3 wire client (per-partition COPY load, VECTOR DDL
    //      with the 42704 TEXT fallback, readBack codec inverse). The
    //      gate boots a throwaway server (PgTestServer: initdb + pg_ctl,
    //      trust auth, loopback); where the environment has no PostgreSQL
    //      it degrades to the memory connector — SAME canonical rows
    //      either way, so the oracle adjudicates the codec path
    //      everywhere and the LIVE wire path wherever a server can run.
    //      The result is collected (gate-bounded: the embeddings fixture)
    //      so the server can be STOPPED before the frame is consumed — a
    //      postgres PROCESS must not outlive the gate the way in-JVM
    //      loopback daemons may ----
    "q_migrate_pgwire" -> ((s, dir) => {
      val pg = graft.connectors.pgwire.PgTestServer.start()
      val (tKind, tConn) = pg match {
        case Some(run) => ("pgvector", Map(
          "host" -> "127.0.0.1", "port" -> run.port.toString,
          "protocol" -> "wire", "database" -> "postgres", "user" -> "postgres",
          // the gate drives the binary COPY framing end to end (direct
          // into the target, since recreate=true) and reads back through
          // the Simple Query text scan; text COPY framing stays
          // live-pinned by PgLiveWireSpec side by side
          "data_format" -> "binary"))
        case None => ("memory", Map.empty[String, String])
      }
      try {
        val connJson = tConn.map { case (k, v) => s""""$k": "$v"""" }.mkString(", ")
        val cfg = graft.config.MigrationConfig.fromJson(
          s"""{"source": {"type": "parquet", "connection": {"path": "$dir"},
             |            "query": {"table_name": "embeddings", "id_column": "vec_id",
             |                      "vector_column": "embedding",
             |                      "metadata_columns": ["label"]}},
             | "target": {"type": "$tKind", "connection": {$connJson},
             |            "load": {"collection": "gate_pgw", "recreate": true}}}""".stripMargin)
        val report = new graft.core.Migrator(s).run(cfg)
        require(report.success, report.error)
        val back = graft.connectors.ConnectorRegistry(tKind)
          .readBack(s, tConn, graft.config.LoadSpec(collection = "gate_pgw"))
          .select(col(Canonical.ID),
            element_at(col(Canonical.METADATA), "label").as("label"),
            round(element_at(col(Canonical.VECTOR), 1).cast("double"), 5).as("v1"))
        val rows = back.collect().toSeq
        s.createDataFrame(s.sparkContext.parallelize(rows, 4), back.schema)
      } finally pg.foreach(_.stop())
    }),

    // The reference's full use-case at CROSS-DIALECT wire fidelity: source
    // collection lives behind a Qdrant-dialect socket, target behind a
    // Pinecone-dialect socket, and the config-driven Migrator moves the
    // filtered rows between them — scroll cursor paging on one side, list/
    // fetch/upsert on the other, endpoint-keyed transports throughout.
    // require() pins that both sockets actually carried the verbs. The
    // oracle adjudicates ids, labels, AND a vector component, proving the
    // floats survived two JSON wire trips.
    "q_migrate_wire_cross" -> ((s, dir) => {
      import graft.connectors.vectorstore._
      val src = new QdrantWireServer(new InMemoryStore, apiKey = Some("src-key"))
      val dst = new PineconeWireServer(new InMemoryStore, apiKey = Some("dst-key"))
      try {
        loadFixture(s, dir, "graft-qdrant", "gate_xwire",
          options = Map("url" -> src.url, "api_key" -> "src-key"))
        // JSON-escaped Qdrant structured filter (label >= 5), nested as a
        // string value inside the config JSON
        val filterEsc = """{\"must\":[{\"key\":\"label\",\"range\":{\"gte\":5}}]}"""
        val cfg = graft.config.MigrationConfig.fromJson(
          s"""{"source": {"type": "qdrant",
             |            "connection": {"url": "${src.url}", "api_key": "src-key"},
             |            "query": {"collection": "gate_xwire",
             |                      "filter": "$filterEsc"}},
             | "target": {"type": "pinecone",
             |            "connection": {"url": "${dst.url}", "api_key": "dst-key"},
             |            "load": {"collection": "xix::mig", "recreate": true}}}""".stripMargin)
        val report = new graft.core.Migrator(s).run(cfg)
        require(report.success, s"cross-wire migration failed: ${report.error}")
        require(src.requestLines.exists(
          _.startsWith("POST /collections/gate_xwire/points/scroll")),
          "source socket never scrolled")
        require(dst.requestLines.exists(_.startsWith("POST /vectors/upsert")),
          "target socket never upserted")
        ConnectorRegistry("pinecone").read(s,
          Map("url" -> dst.url, "api_key" -> "dst-key"),
          QuerySpec(collection = "xix::mig"))
          .select(col(Canonical.ID),
            element_at(col(Canonical.METADATA), "label").as("label"),
            round(element_at(col(Canonical.VECTOR), 1).cast("double"), 5).as("v1"))
          .localCheckpoint(true)
      } finally { src.stop(); dst.stop() }
    }),

    // post-migration validation: the target is DERIVED from the source
    // with planted defects (drop %101, duplicate %103, corrupt %107's
    // vector, add shifted %109) — every check value oracle-replayed,
    // portable vector signatures included
    "q_validate_migration" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val rep = e.withColumn("embedding",
        when(col("vec_id") % 107 === 0,
          array(lit(1.0f), lit(2.0f), lit(3.0f))).otherwise(col("embedding")))
      val target = rep.filter(col("vec_id") % 101 =!= 0)
        .unionByName(rep.filter(col("vec_id") % 103 === 0))
        .unionByName(e.filter(col("vec_id") % 109 === 0)
          .withColumn("vec_id", col("vec_id") + 1000000L))
      graft.core.Validator.validate(e, target, idCol = "vec_id", vecCol = "embedding")
    }),

    // The whole migration as ONE SQL statement: source collection loaded,
    // target created by DDL on a second (milvus) catalog, INSERT INTO …
    // SELECT with the filter transform inline, target read back — the
    // reference's entire program (read → transform → write) with zero
    // client code, adjudicated against the oracle
    "q_catalog_migrate" -> ((s, dir) => {
      s.conf.set("spark.sql.catalog.vsq",
        classOf[graft.connectors.vectorstore.VSCatalog].getName)
      s.conf.set("spark.sql.catalog.vsm",
        classOf[graft.connectors.vectorstore.VSCatalog].getName)
      s.conf.set("spark.sql.catalog.vsm.backend", "milvus")
      loadFixture(s, dir, "graft-qdrant", "gate_sqlmig_src")
      graft.connectors.vectorstore.VectorStore.drop("gate_sqlmig_dst")
      s.sql(
        """CREATE TABLE vsm.gate_sqlmig_dst
          |  (id string, vector array<float>, metadata map<string,string>)
          |TBLPROPERTIES ('distance'='Cosine')""".stripMargin)
      s.sql(
        """INSERT INTO vsm.gate_sqlmig_dst
          |SELECT id, vector, metadata FROM vsq.gate_sqlmig_src
          |WHERE CAST(element_at(metadata, 'label') AS INT) BETWEEN 2 AND 6""".stripMargin)
      s.sql(
        """SELECT id, element_at(metadata, 'label') AS label,
          |       round(CAST(element_at(vector, 1) AS DOUBLE), 5) AS v1
          |FROM vsm.gate_sqlmig_dst""".stripMargin)
    }),

    // SQL UPDATE through the delta-based row-level op: only rows matching
    // the (pushable) condition are scanned, Spark computes per-row deltas,
    // and the job-level commit applies them via native id-keyed upsert —
    // labels mutate, untouched rows never move, vectors survive intact
    "q_catalog_update" -> ((s, dir) => {
      s.conf.set("spark.sql.catalog.vsu",
        classOf[graft.connectors.vectorstore.VSCatalog].getName)
      loadFixture(s, dir, "graft-qdrant", "gate_upd")
      s.sql(
        """UPDATE vsu.gate_upd
          |SET metadata = map('label',
          |  CAST(CAST(element_at(metadata, 'label') AS INT) + 100 AS STRING))
          |WHERE CAST(element_at(metadata, 'label') AS INT) >= 5""".stripMargin)
      s.sql(
        """SELECT id, element_at(metadata, 'label') AS label,
          |       round(CAST(element_at(vector, 1) AS DOUBLE), 5) AS v1
          |FROM vsu.gate_upd""".stripMargin)
    }),

    // SQL MERGE INTO (update + delete + insert in one statement) against a
    // vector-store collection: target = ids %3=0, source = ids %2=0;
    // matched %12=0 deleted, other matched get label+50, unmatched source
    // rows inserted, carry-over rows untouched — the oracle replays the
    // whole merge as one CASE/filter over the base table
    "q_catalog_merge" -> ((s, dir) => {
      s.conf.set("spark.sql.catalog.vsg",
        classOf[graft.connectors.vectorstore.VSCatalog].getName)
      loadFixture(s, dir, "graft-qdrant", "gate_merge_src")
      graft.connectors.vectorstore.VectorStore.drop("gate_merge")
      s.sql(
        """CREATE TABLE vsg.gate_merge
          |  (id string, vector array<float>, metadata map<string,string>)
          |TBLPROPERTIES ('distance'='Cosine')""".stripMargin)
      s.sql(
        """INSERT INTO vsg.gate_merge
          |SELECT id, vector, metadata FROM vsg.gate_merge_src
          |WHERE CAST(id AS INT) % 3 = 0""".stripMargin)
      s.sql(
        """MERGE INTO vsg.gate_merge t
          |USING (SELECT id, vector, metadata FROM vsg.gate_merge_src
          |       WHERE CAST(id AS INT) % 2 = 0) s
          |ON t.id = s.id
          |WHEN MATCHED AND CAST(s.id AS INT) % 12 = 0 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET metadata = map('label',
          |  CAST(CAST(element_at(s.metadata, 'label') AS INT) + 50 AS STRING))
          |WHEN NOT MATCHED THEN INSERT (id, vector, metadata)
          |  VALUES (s.id, s.vector, s.metadata)""".stripMargin)
      s.sql(
        """SELECT id, element_at(metadata, 'label') AS label,
          |       round(CAST(element_at(vector, 1) AS DOUBLE), 5) AS v1
          |FROM vsg.gate_merge""".stripMargin)
    }),

    // CDC applied END TO END: the collection starts as the old snapshot,
    // a deterministically-derived diff (delete %17, update %13 — label
    // bumped, vector negated — insert %19 shifted) is applied through
    // SnapshotDiff.applyTo (DSv2 append for upserts, executor-side
    // batched transport deletes), and the collection is read back — the
    // oracle replays the diff in SQL and must see the same final state,
    // labels AND vector components
    "q_cdc_apply" -> ((s, dir) => {
      loadFixture(s, dir, "graft-qdrant", "gate_cdc")
      val e = Tables(s, dir, "embeddings")
      val updated = e.filter(col("vec_id") % 13 === 0 && col("vec_id") % 17 =!= 0)
        .select(col("vec_id").cast("string").as(Canonical.ID),
          transform(col("embedding"), x => -x).as(Canonical.VECTOR),
          map(lit("label"), (col("label") + 100).cast("string")).as(Canonical.METADATA))
      val inserted = e.filter(col("vec_id") % 19 === 0)
        .select((col("vec_id") + 1000000L).cast("string").as(Canonical.ID),
          col("embedding").as(Canonical.VECTOR),
          map(lit("label"), col("label").cast("string")).as(Canonical.METADATA))
      val dels = e.filter(col("vec_id") % 17 === 0)
        .select(col("vec_id").cast("string").as("id"))
      graft.ops.SnapshotDiff.applyTo(updated.unionByName(inserted), dels,
        "graft-qdrant", "gate_cdc")
      s.read.format("graft-qdrant").option("collection", "gate_cdc").load()
        .select(col(Canonical.ID),
          element_at(col(Canonical.METADATA), "label").as("label"),
          round(element_at(col(Canonical.VECTOR), 1).cast("double"), 5).as("v1"))
    }),

    // ---- The STREAMING face of CDC apply: the SAME tagged diff rendered
    //      to canonical+op rows, dropped as THREE parquet files and
    //      replayed as a multi-microbatch file stream
    //      (maxFilesPerTrigger=1) through StreamOps.streamingCdcApply —
    //      each microbatch applies its upserts (DSv2 append) and deletes
    //      (executor-side transport batches); ids arrive disjoint per op,
    //      so the final collection STATE is split-invariant and the SAME
    //      DuckDB oracle as batch twin q_cdc_apply adjudicates it ----
    "q_cdc_apply_stream" -> ((s, dir) => {
      loadFixture(s, dir, "graft-qdrant", "gate_cdc_str")
      val e = Tables(s, dir, "embeddings")
      val updated = e.filter(col("vec_id") % 13 === 0 && col("vec_id") % 17 =!= 0)
        .select(col("vec_id").cast("string").as(Canonical.ID),
          transform(col("embedding"), x => -x).as(Canonical.VECTOR),
          map(lit("label"), (col("label") + 100).cast("string")).as(Canonical.METADATA),
          lit("update").as("op"))
      val inserted = e.filter(col("vec_id") % 19 === 0)
        .select((col("vec_id") + 1000000L).cast("string").as(Canonical.ID),
          col("embedding").as(Canonical.VECTOR),
          map(lit("label"), col("label").cast("string")).as(Canonical.METADATA),
          lit("insert").as("op"))
      val dels = e.filter(col("vec_id") % 17 === 0)
        .select(col("vec_id").cast("string").as(Canonical.ID),
          lit(null).cast(Canonical.schema(Canonical.VECTOR).dataType).as(Canonical.VECTOR),
          lit(null).cast(Canonical.schema(Canonical.METADATA).dataType).as(Canonical.METADATA),
          lit("delete").as("op"))
      val tmp = graft.core.Scratch.tempDir("gate_cdcstr")
      val inDir = s"$tmp/in"
      updated.unionByName(inserted).unionByName(dels)
        .repartition(3).write.mode("overwrite").parquet(inDir)
      val q = graft.streaming.StreamOps.streamingCdcApply(s, inDir,
        "graft-qdrant", "gate_cdc_str", maxFilesPerTrigger = Some(1))
        .option("checkpointLocation", s"$tmp/chk").start()
      try q.processAllAvailable() finally q.stop()
      s.read.format("graft-qdrant").option("collection", "gate_cdc_str").load()
        .select(col(Canonical.ID),
          element_at(col(Canonical.METADATA), "label").as("label"),
          round(element_at(col(Canonical.VECTOR), 1).cast("double"), 5).as("v1"))
    }),

    // numeric drift between source and (CDC-derived) migrated snapshot:
    // 10-bin PSI over order prices, every term oracle-replayed
    "q_drift_psi" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
      val cur = o.filter(col("o_orderkey") % 97 =!= 0)
        .select((col("o_totalprice") *
          when(col("o_orderkey") % 89 === 0, 1.10).otherwise(1.0)).as("o_totalprice"))
      graft.ops.Drift.psi(o.select("o_totalprice"), cur, "o_totalprice", bins = 10)
    })
  )

  /** Native-search pushdown: ORDER BY cosine DESC LIMIT k over the DSv2
    * relation — [[graft.plans.PushVectorSearch]] rewrites it so each scan
    * partition emits only its local top-k. */
  def searchQuery(s: SparkSession, dir: String, conn: Map[String, String] = Map.empty,
                  coll: String = "gate_srch", minLabel: Option[Int] = None): DataFrame = {
    loadFixture(s, dir, "graft-qdrant", coll, options = conn)
    val qv = queryRow(Canonical.from(Tables(s, dir, "embeddings"),
      idCol = "vec_id", vectorCol = Some("embedding"), metadataCols = Nil)
      .filter(col(Canonical.ID) === "0").select(col(Canonical.VECTOR)))
      .getSeq[Float](0).toSeq
    val df = s.read.format("graft-qdrant").options(conn).option("collection", coll).load()
    // optional metadata predicate: PushVectorSearch absorbs it into the
    // pushed search (the FILTERED-search gate variant)
    val src = minLabel.map(m => df.filter(
      element_at(col(Canonical.METADATA), "label").cast("double") >= m)).getOrElse(df)
    src.withColumn("score",
        graft.functions.VectorExpressions.cosine(col(Canonical.VECTOR), typedLit(qv)))
      .orderBy(col("score").desc, col(Canonical.ID).asc)
      .limit(10)
      .select(col(Canonical.ID), round(col("score"), 6).as("score"))
  }

  /** [[searchQuery]]'s user-ordered twin: `withColumn("score", cosine)` →
    * `filter(metadata)` → `orderBy(desc("score"))` → `limit(k)` — the
    * filter sits ABOVE the score Project and the sort key is the alias by
    * NAME. Pins (via require) that the rewrite fires on this shape. */
  def searchQueryAliased(s: SparkSession, dir: String): DataFrame = {
    val coll = "gate_srcha"
    loadFixture(s, dir, "graft-qdrant", coll)
    val qv = queryRow(Canonical.from(Tables(s, dir, "embeddings"),
      idCol = "vec_id", vectorCol = Some("embedding"), metadataCols = Nil)
      .filter(col(Canonical.ID) === "0").select(col(Canonical.VECTOR)))
      .getSeq[Float](0).toSeq
    val df = s.read.format("graft-qdrant").option("collection", coll).load()
      .withColumn("score",
        graft.functions.VectorExpressions.cosine(col(Canonical.VECTOR), typedLit(qv)))
      .filter(element_at(col(Canonical.METADATA), "label").cast("double") >= 5)
      .orderBy(desc("score"), asc(Canonical.ID))
      .limit(10)
      .select(col(Canonical.ID), round(col("score"), 6).as("score"))
    require(df.queryExecution.executedPlan.toString.contains("search=topk(k=10"),
      "aliased-score shape did not rewrite into a native search scan:\n" +
        df.queryExecution.executedPlan.toString)
    df
  }

  /** The search gates' query vector: `df`'s one row, typed if absent or null. */
  private def queryRow(df: DataFrame): Row = df.limit(1).collect().find(!_.isNullAt(0))
    .getOrElse(throw new IllegalArgumentException("no query vector: embeddings row 0 is missing or null"))

  /** Native HAMMING search pushdown over a BINARY_VECTOR collection:
    * ORDER BY binary_hamming ASC LIMIT k — [[graft.plans.PushVectorSearch]]
    * rewrites it so each scan partition emits only its local best-k (ties
    * on id, matching the query's sort), Milvus's native binary metric. */
  def hammingSearchQuery(s: SparkSession, dir: String, coll: String = "gate_srchb",
                         minLabel: Option[Int] = None): DataFrame = {
    Tables(s, dir, "embeddings").select(
      col("vec_id").cast("string").as(Canonical.ID),
      graft.functions.BinaryVectors.pack(col("embedding")).as(Canonical.VECTOR),
      map(lit("label"), col("label").cast("string")).as(Canonical.METADATA))
      .write.format("graft-milvus").option("collection", coll)
      .option("vector_type", "BINARY_VECTOR").option("distance", "Hamming")
      .option("recreate", "true").mode("overwrite").save()
    val qb = queryRow(Tables(s, dir, "embeddings").filter(col("vec_id") === 0)
      .select(graft.functions.BinaryVectors.pack(col("embedding")).as("b")))
      .getAs[Array[Byte]](0)
    val df = s.read.format("graft-milvus").option("collection", coll).load()
    val src = minLabel.map(m => df.filter(
      element_at(col(Canonical.METADATA), "label").cast("double") >= m)).getOrElse(df)
    src.withColumn("hamming",
        graft.functions.BinaryVectors.hamming(col(Canonical.VECTOR), lit(qb)))
      .orderBy(col("hamming").asc, col(Canonical.ID).asc)
      .limit(10)
      .select(col(Canonical.ID), col("hamming"))
  }

  def oracleSql: Map[String, String] = Map(
    "q_connector_search_hamming" ->
      ("WITH b AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), " +
        "x -> CASE WHEN x > 0 THEN 1 ELSE 0 END) AS bits FROM embeddings), " +
        "q AS (SELECT bits AS qb FROM b WHERE vec_id = 0), " +
        "s AS (SELECT CAST(vec_id AS VARCHAR) AS id, " +
        "CAST(len(list_filter(range(len(bits)), i -> bits[i+1] != qb[i+1])) AS INT) AS hamming " +
        "FROM b, q) " +
        "SELECT id, hamming FROM s ORDER BY hamming, id LIMIT 10"),
    "q_connector_search" ->
      ("WITH qv AS (SELECT CAST(embedding AS DOUBLE[]) v FROM embeddings WHERE vec_id = 0), " +
        "c AS (SELECT CAST(vec_id AS VARCHAR) AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        "s AS (SELECT id, list_dot_product(e, v)/(sqrt(list_dot_product(e, e))*sqrt(list_dot_product(v, v))) AS sc " +
        "FROM c, qv) " +
        "SELECT id, round(sc, 6) + 0.0 AS score FROM s ORDER BY sc DESC, id ASC LIMIT 10"),
    "q_connector_search_filtered_hamming" ->
      ("WITH b AS (SELECT vec_id, label, list_transform(CAST(embedding AS DOUBLE[]), " +
        "x -> CASE WHEN x > 0 THEN 1 ELSE 0 END) AS bits FROM embeddings), " +
        "q AS (SELECT bits AS qb FROM b WHERE vec_id = 0), " +
        "s AS (SELECT CAST(vec_id AS VARCHAR) AS id, " +
        "CAST(len(list_filter(range(len(bits)), i -> bits[i+1] != qb[i+1])) AS INT) AS hamming " +
        "FROM b, q WHERE label >= 5) " +
        "SELECT id, hamming FROM s ORDER BY hamming, id LIMIT 10"),
    "q_connector_search_filtered" ->
      ("WITH qv AS (SELECT CAST(embedding AS DOUBLE[]) v FROM embeddings WHERE vec_id = 0), " +
        "c AS (SELECT CAST(vec_id AS VARCHAR) AS id, CAST(embedding AS DOUBLE[]) AS e " +
        "FROM embeddings WHERE label >= 5), " +
        "s AS (SELECT id, list_dot_product(e, v)/(sqrt(list_dot_product(e, e))*sqrt(list_dot_product(v, v))) AS sc " +
        "FROM c, qv) " +
        "SELECT id, round(sc, 6) + 0.0 AS score FROM s ORDER BY sc DESC, id ASC LIMIT 10"),
    "q_connector_search_aliased" ->
      ("WITH qv AS (SELECT CAST(embedding AS DOUBLE[]) v FROM embeddings WHERE vec_id = 0), " +
        "c AS (SELECT CAST(vec_id AS VARCHAR) AS id, CAST(embedding AS DOUBLE[]) AS e " +
        "FROM embeddings WHERE label >= 5), " +
        "s AS (SELECT id, list_dot_product(e, v)/(sqrt(list_dot_product(e, e))*sqrt(list_dot_product(v, v))) AS sc " +
        "FROM c, qv) " +
        "SELECT id, round(sc, 6) + 0.0 AS score FROM s ORDER BY sc DESC, id ASC LIMIT 10"),
    "q_connector_search_wire" ->
      ("WITH qv AS (SELECT CAST(embedding AS DOUBLE[]) v FROM embeddings WHERE vec_id = 0), " +
        "c AS (SELECT CAST(vec_id AS VARCHAR) AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        "s AS (SELECT id, list_dot_product(e, v)/(sqrt(list_dot_product(e, e))*sqrt(list_dot_product(v, v))) AS sc " +
        "FROM c, qv) " +
        "SELECT id, round(sc, 6) + 0.0 AS score FROM s ORDER BY sc DESC, id ASC LIMIT 10"),
    "q_connector_scan" ->
      ("SELECT CAST(vec_id AS VARCHAR) AS id, CAST(label AS VARCHAR) AS label " +
        "FROM embeddings WHERE label >= 8"),
    "q_connector_qdrant" ->
      ("SELECT CAST(vec_id AS VARCHAR) AS id, CAST(label AS VARCHAR) AS label " +
        "FROM embeddings WHERE label >= 5 AND NOT label = 7"),
    "q_connector_http" ->
      ("SELECT CAST(vec_id AS VARCHAR) AS id, CAST(label AS VARCHAR) AS label " +
        "FROM embeddings WHERE label >= 5"),
    "q_connector_cursor_sliced" ->
      ("SELECT CAST(vec_id AS VARCHAR) AS id, CAST(label AS VARCHAR) AS label " +
        "FROM embeddings"),
    "q_connector_cursor_sliced_pinecone" ->
      ("SELECT CAST(vec_id AS VARCHAR) AS id, CAST(label AS VARCHAR) AS label " +
        "FROM embeddings"),
    "q_connector_count" ->
      "SELECT COUNT(*) AS n FROM embeddings",
    "q_connector_sql" ->
      ("SELECT CAST(vec_id AS VARCHAR) AS id, CAST(label AS VARCHAR) AS label " +
        "FROM embeddings WHERE label >= 5"),
    "q_connector_milvus" ->
      ("SELECT CAST(vec_id AS VARCHAR) AS id, CAST(label AS VARCHAR) AS label " +
        "FROM embeddings WHERE (label >= 3 AND label < 6) OR label = 9"),
    // the wire twins must return exactly what their in-JVM twins return
    "q_connector_milvus_wire" ->
      ("SELECT CAST(vec_id AS VARCHAR) AS id, CAST(label AS VARCHAR) AS label " +
        "FROM embeddings WHERE (label >= 3 AND label < 6) OR label = 9"),
    "q_connector_pinecone_wire" ->
      ("SELECT CAST(vec_id AS VARCHAR) AS id, CAST(label AS VARCHAR) AS label " +
        "FROM embeddings WHERE label = 1"),
    "q_connector_milvus_binary" ->
      // Hamming over packed sign bits == count of dims whose sign differs
      // (padding bits are zero on both sides); ids compare as VARCHAR on
      // both engines so the tie-break order is identical
      ("WITH b AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), " +
        "x -> CASE WHEN x > 0 THEN 1 ELSE 0 END) AS bits FROM embeddings), " +
        "q AS (SELECT CAST(vec_id AS VARCHAR) AS query_id, bits AS qb FROM b WHERE vec_id < 5), " +
        "c AS (SELECT CAST(vec_id AS VARCHAR) AS cand_id, bits AS cb FROM b), " +
        "s AS (SELECT query_id, cand_id, CAST(len(list_filter(range(len(qb)), " +
        "i -> qb[i+1] != cb[i+1])) AS INT) AS hamming " +
        "FROM q JOIN c ON cand_id <> query_id) " +
        "SELECT query_id, cand_id, hamming, CAST(rn AS INT) AS rk FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY hamming, cand_id) AS rn " +
        "FROM s) WHERE rn <= 3"),
    "q_connector_pinecone" ->
      ("SELECT CAST(vec_id AS VARCHAR) AS id, CAST(label AS VARCHAR) AS label " +
        "FROM embeddings WHERE label = 1"),
    "q_migrate_e2e" ->
      ("SELECT CAST(vec_id AS VARCHAR) AS id, CAST(label AS VARCHAR) AS label, " +
        "'pgvector' AS source_db FROM embeddings"),
    // the live-PostgreSQL migrate gate: ids + labels + one rounded vector
    // component prove the canonical rows survived the wire write + the
    // text-codec read-back (or the memory fallback) bit-for-bit
    "q_migrate_pgwire" ->
      ("SELECT CAST(vec_id AS VARCHAR) AS id, CAST(label AS VARCHAR) AS label, " +
        "round(CAST(embedding[1] AS DOUBLE), 5) AS v1 FROM embeddings"),
    "q_migrate_wire_cross" ->
      ("SELECT CAST(vec_id AS VARCHAR) AS id, CAST(label AS VARCHAR) AS label, " +
        "round(CAST(embedding[1] AS DOUBLE), 5) AS v1 " +
        "FROM embeddings WHERE label >= 5"),
    "q_validate_migration" -> {
      // portable vector signature: polynomial fold over 2^20-scaled
      // components mod P, replicating Validator.vectorSignature's pmod
      def sig(e: String) =
        "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
          s"list_transform($e, x -> ((CAST(round(CAST(x AS DOUBLE) * 1048576.0, 0) " +
          "AS BIGINT) % 2147483647) + 2147483647) % 2147483647)), " +
          "(a, v) -> (a * 131 + v) % 2147483647)"
      def perId(src: String, side: String) =
        s"$side AS (SELECT id, count(*) AS n, min(s) AS sig, count(DISTINCT s) AS nsig " +
          s"FROM (SELECT vec_id AS id, ${sig("embedding")} AS s FROM $src) GROUP BY id)"
      val reportRows = Seq(
        "rows_source" -> true, "rows_target" -> true,
        "distinct_ids_source" -> true, "distinct_ids_target" -> true,
        "ids_missing_in_target" -> false, "ids_extra_in_target" -> false,
        "dup_ids_source" -> false, "dup_ids_target" -> false,
        "vector_mismatches" -> false)
        .map { case (c, info) =>
          val passed = if (info) "true" else s"$c = 0"
          s"""SELECT '$c' AS "check", $c AS "value", $passed AS passed FROM a"""
        }.mkString(" UNION ALL ")
      "WITH e AS (SELECT vec_id, embedding FROM embeddings), " +
        "rep AS (SELECT vec_id, CASE WHEN vec_id % 107 = 0 THEN " +
        "[CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT), CAST(3.0 AS FLOAT)] " +
        "ELSE embedding END AS embedding FROM e), " +
        "tgt AS (SELECT vec_id, embedding FROM rep WHERE vec_id % 101 != 0 " +
        "UNION ALL SELECT vec_id, embedding FROM rep WHERE vec_id % 103 = 0 " +
        "UNION ALL SELECT vec_id + 1000000 AS vec_id, embedding FROM e " +
        "WHERE vec_id % 109 = 0), " +
        perId("e", "ss") + ", " + perId("tgt", "tt") + ", " +
        "j AS (SELECT ss.id AS id_s, tt.id AS id_t, ss.n AS n_s, tt.n AS n_t, " +
        "ss.sig AS sig_s, tt.sig AS sig_t, ss.nsig AS ns_s, tt.nsig AS ns_t " +
        "FROM ss FULL JOIN tt ON ss.id = tt.id), " +
        "a AS (SELECT " +
        "CAST(sum(coalesce(n_s, 0)) AS BIGINT) AS rows_source, " +
        "CAST(sum(coalesce(n_t, 0)) AS BIGINT) AS rows_target, " +
        "CAST(count(id_s) AS BIGINT) AS distinct_ids_source, " +
        "CAST(count(id_t) AS BIGINT) AS distinct_ids_target, " +
        "CAST(sum(CASE WHEN id_t IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ids_missing_in_target, " +
        "CAST(sum(CASE WHEN id_s IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ids_extra_in_target, " +
        "CAST(sum(CASE WHEN n_s > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_ids_source, " +
        "CAST(sum(CASE WHEN n_t > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_ids_target, " +
        "CAST(sum(CASE WHEN id_s IS NOT NULL AND id_t IS NOT NULL AND " +
        "(sig_s != sig_t OR ns_s > 1 OR ns_t > 1) THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS vector_mismatches FROM j) " + reportRows
    },
    "q_catalog_migrate" ->
      ("SELECT CAST(vec_id AS VARCHAR) AS id, CAST(label AS VARCHAR) AS label, " +
        // "+ 0.0" normalizes a possible -0.0 to +0.0 (IEEE): Spark's round
        // goes through BigDecimal and never emits -0.0, DuckDB's does
        // double math and can — the bitwise hash would diverge (q_vec_cov
        // lesson). Same normalization on every signed rounded output below.
        "round(CAST(embedding[1] AS DOUBLE), 5) + 0.0 AS v1 " +
        "FROM embeddings WHERE label BETWEEN 2 AND 6"),
    "q_catalog_update" ->
      ("SELECT CAST(vec_id AS VARCHAR) AS id, " +
        "CAST(CASE WHEN label >= 5 THEN label + 100 ELSE label END AS VARCHAR) AS label, " +
        "round(CAST(embedding[1] AS DOUBLE), 5) + 0.0 AS v1 FROM embeddings"),
    "q_catalog_merge" ->
      // survivors: target (%3=0) ∪ source (%2=0) minus the deleted
      // matches (%12=0); matched rows (%6=0) carry the +50 label
      ("SELECT CAST(vec_id AS VARCHAR) AS id, " +
        "CAST(CASE WHEN vec_id % 6 = 0 THEN label + 50 ELSE label END AS VARCHAR) AS label, " +
        "round(CAST(embedding[1] AS DOUBLE), 5) + 0.0 AS v1 FROM embeddings " +
        "WHERE (vec_id % 3 = 0 OR vec_id % 2 = 0) AND vec_id % 12 <> 0"),
    "q_cdc_apply" -> cdcApplySql,
    // the streaming face lands the SAME final collection state, so the
    // SAME declarative replay adjudicates it — batch ≡ streaming
    "q_cdc_apply_stream" -> cdcApplySql,
    "q_drift_psi" ->
      // identical double math end to end: bin width from ref min/max,
      // clamped bins, window-summed masses, epsilon-floored ln terms
      ("WITH ref AS (SELECT o_totalprice AS v FROM orders WHERE o_totalprice IS NOT NULL), " +
        "cur AS (SELECT o_totalprice * CASE WHEN o_orderkey % 89 = 0 THEN 1.10 ELSE 1.0 END AS v " +
        "FROM orders WHERE o_orderkey % 97 != 0), " +
        "st AS (SELECT min(v) AS mn, max(v) AS mx FROM ref), " +
        "rb AS (SELECT least(greatest(CAST(CASE WHEN mx = mn THEN " +
        "CASE WHEN v < mn THEN 0 WHEN v > mx THEN 9 ELSE 5 END ELSE " +
        "floor((v - mn) / ((mx - mn) / 10.0)) END AS INT), 0), 9) AS bin, " +
        "count(*) AS nr FROM ref, st GROUP BY 1), " +
        "cb AS (SELECT least(greatest(CAST(CASE WHEN mx = mn THEN " +
        "CASE WHEN v < mn THEN 0 WHEN v > mx THEN 9 ELSE 5 END ELSE " +
        "floor((v - mn) / ((mx - mn) / 10.0)) END AS INT), 0), 9) AS bin, " +
        "count(*) AS nc FROM cur, st WHERE v IS NOT NULL GROUP BY 1), " +
        "sp AS (SELECT CAST(unnest(range(0, 10)) AS INT) AS bin), " +
        "f AS (SELECT sp.bin, coalesce(nr, 0) AS nr, coalesce(nc, 0) AS nc " +
        "FROM sp LEFT JOIN rb USING (bin) LEFT JOIN cb USING (bin)), " +
        "g AS (SELECT bin, CAST(nr AS DOUBLE) / sum(nr) OVER () AS p, " +
        "CAST(nc AS DOUBLE) / sum(nc) OVER () AS q FROM f) " +
        "SELECT bin, round(p, 6) AS p_ref, round(q, 6) AS p_cur, " +
        "round((greatest(q, 1e-6) - greatest(p, 1e-6)) * " +
        "ln(greatest(q, 1e-6) / greatest(p, 1e-6)), 6) + 0.0 AS psi_term FROM g")
  )
}
