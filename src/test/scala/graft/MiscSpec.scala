package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.config.QuerySpec
import graft.connectors.{ConnectorRegistry, FileConnector, MemoryStore}
import graft.model.Canonical
import graft.ops.AsOfJoin

class CanonicalSpec extends SparkSpec {
  import spark.implicits._

  test("from() projects arbitrary tables into canonical shape") {
    val df = Canonical.from(Tables(spark, sf(), "embeddings"),
      idCol = "vec_id", vectorCol = Some("embedding"), metadataCols = Seq("label"))
    assert(df.columns.toSeq == Seq("id", "vector", "metadata"))
    val r = df.head()
    assert(r.getString(0).nonEmpty)
    assert(r.getAs[scala.collection.Seq[Float]](1).length == 64)
    assert(r.getAs[Map[String, String]](2).contains("label"))
  }

  test("from() without a vector column yields null vectors (Milvus no-vector path)") {
    val df = Canonical.from(Tables(spark, sf(), "documents"),
      idCol = "doc_id", vectorCol = None, metadataCols = Seq("lang"))
    assert(df.select(Canonical.VECTOR).head().isNullAt(0))
  }

  test("inferDim reads the first non-null vector (first-row inference parity)") {
    val df = Canonical.from(Tables(spark, sf(), "embeddings"),
      idCol = "vec_id", vectorCol = Some("embedding"), metadataCols = Nil)
    assert(Canonical.inferDim(df).contains(64))
  }

  test("coercedIdColumns: digits -> long, other -> null") {
    val df = Seq("123", "doc9", "007").toDF(Canonical.ID)
    val out = Canonical.coercedIdColumns(df).select("id_long")
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
    assert(out == Seq(Some(123L), None, Some(7L)))
  }

  test("withTypedMetadata lifts map entries to typed columns, null-filling") {
    val df = Seq(("1", Map("age" -> "41", "name" -> "x"))).toDF(Canonical.ID, Canonical.METADATA)
    val typed = Canonical.withTypedMetadata(df,
      Seq("age" -> IntegerType, "name" -> StringType, "missing" -> DoubleType))
    val r = typed.head()
    assert(r.getAs[Int]("age") == 41)
    assert(r.getAs[String]("name") == "x")
    assert(r.isNullAt(r.fieldIndex("missing"))) // None-fill (adapters/milvus.py:218-222)
  }
}

class FileConnectorSpec extends SparkSpec {

  private def canon = Canonical.from(
    Tables(spark, sf(), "embeddings").limit(25),
    idCol = "vec_id", vectorCol = Some("embedding"), metadataCols = Seq("label"))

  for (fmt <- Seq("csv", "json")) {
    test(s"$fmt connector round-trips canonical data (vectors via text codec for csv)") {
      val tmp = Files.createTempDirectory(s"graft-$fmt").toString
      val c = ConnectorRegistry(fmt)
      val report = c.write(canon, Map("path" -> tmp),
        graft.config.LoadSpec(collection = "t", recreate = true))
      assert(report.written == 25)
      val back = c.read(spark, Map("path" -> tmp), QuerySpec(collection = "t"))
      assert(back.count() == 25)
      val v = back.filter(col("id") === "3")
        .select(Canonical.VECTOR).head().getAs[scala.collection.Seq[Float]](0)
      val orig = canon.filter(col("id") === "3")
        .select(Canonical.VECTOR).head().getAs[scala.collection.Seq[Float]](0)
      assert(v == orig)
    }
  }
}

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  test("asof attaches the latest prior right value per key, null when none") {
    def ts(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    val quotes = Seq((1L, ts(0), 10.0), (1L, ts(10), 11.0), (2L, ts(5), 20.0))
      .toDF("key", "ts", "px")
    val trades = Seq((101L, 1L, ts(5)), (102L, 1L, ts(10)), (103L, 1L, ts(20)),
      (104L, 2L, ts(1)), (105L, 3L, ts(9)))
      .toDF("trade_id", "key", "ts")
    val out = AsOfJoin.asof(trades, quotes, "key", "ts", "ts", Seq("px"))
      .select("trade_id", "asof_px").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out(101L).contains(10.0)) // only ts(0) quote precedes
    assert(out(102L).contains(11.0)) // equal-time quote visible
    assert(out(103L).contains(11.0))
    assert(out(104L).isEmpty)        // key 2's quote is later
    assert(out(105L).isEmpty)        // key 3 has no quotes
  }

  test("asof carries WHOLE right rows: a null field never mixes two rows") {
    def ts(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    // latest quote has px but a NULL sz — per-column fills used to hand the
    // left row px from t=10 and sz from t=0: a composite matching no row
    val quotes = Seq(
      (1L, ts(0), Some(10.0), Some(100.0)),
      (1L, ts(10), Some(11.0), None: Option[Double]))
      .toDF("key", "qts", "px", "sz")
    val trades = Seq((101L, 1L, ts(20))).toDF("trade_id", "key", "ts")
    val row = AsOfJoin.asof(trades, quotes, "key", "ts", "qts", Seq("px", "sz"))
      .select("trade_id", "asof_px", "asof_sz").head()
    assert(row.getDouble(1) == 11.0)
    assert(row.isNullAt(2), "asof_sz mixed in a value from an older right row")
    // and the right-only time column does not leak into the output
    val cols = AsOfJoin.asof(trades, quotes, "key", "ts", "qts", Seq("px", "sz")).columns
    assert(!cols.contains("qts"), cols.mkString(","))
  }
}

class CliSpec extends SparkSpec {

  test("--version exits 0; missing/unknown args exit 1") {
    assert(graft.cli.Main.run(Array("--version")) == 0)
    assert(graft.cli.Main.run(Array()) == 1)
    assert(graft.cli.Main.run(Array("--bogus")) == 1)
  }

  test("full migration via config file exits 0 and moves records") {
    MemoryStore.drop("cli_spec")
    val cfg = Files.createTempFile("graft", ".json")
    Files.writeString(cfg,
      s"""{"source": {"type": "parquet", "connection": {"path": "${sf()}"},
         |            "query": {"table_name": "embeddings", "id_column": "vec_id",
         |                      "vector_column": "embedding", "limit": 30}},
         | "target": {"type": "memory", "connection": {},
         |            "load": {"collection": "cli_spec", "recreate": true}}}""".stripMargin)
    assert(graft.cli.Main.run(Array("--config", cfg.toString)) == 0)
    assert(MemoryStore.get("cli_spec").get._1.length == 30)
  }

  test("unloadable transform degrades to warning + no-op (cli/migrate.py:83-93)") {
    MemoryStore.drop("cli_spec2")
    val cfg = Files.createTempFile("graft", ".json")
    Files.writeString(cfg,
      s"""{"source": {"type": "parquet", "connection": {"path": "${sf()}"},
         |            "query": {"table_name": "embeddings", "id_column": "vec_id",
         |                      "vector_column": "embedding", "limit": 5}},
         | "target": {"type": "memory", "connection": {},
         |            "load": {"collection": "cli_spec2", "recreate": true}}}""".stripMargin)
    assert(graft.cli.Main.run(
      Array("--config", cfg.toString, "--transform", "does.not.Exist")) == 0)
    assert(MemoryStore.get("cli_spec2").get._1.length == 5)
  }

  test("--backfill-gid: foreign collection -> mirrored -> sliced scan exactly-once") {
    import graft.connectors.vectorstore._
    import org.apache.spark.sql.functions._
    // FOREIGN pinecone namespace: records land in the inner store without
    // the __gid mirror (another tool wrote them), two non-numeric ids and
    // one record carrying an unrelated __gid stay untouched
    val inner = new InMemoryStore
    val server = new PineconeWireServer(inner)
    try {
      inner.createCollection("fix::ns", CollectionConfig(dim = 2), recreate = false)
      // (a foreign STRING-valued __gid would be unreachable by Pinecone's
      // real filter language — range filters skip non-numeric values and
      // $exists:false skips present keys; documented scrollPageFiltered
      // limitation. A numeric foreign __gid rides the range slices.)
      val recs = (0 until 350).map(i =>
        VSRecord(s"$i", Array(i.toFloat, 1f), Map("lbl" -> s"l${i % 3}"))) ++ Seq(
        VSRecord("uuid-a", Array(1f, 1f), Map("lbl" -> "x")),
        VSRecord("uuid-b", Array(2f, 2f), Map("lbl" -> "y")),
        VSRecord("351", Array(3f, 3f), Map("__gid" -> "999")))
      inner.upsert("fix::ns", recs)
      val cfg = Files.createTempFile("bg", ".json")
      Files.writeString(cfg,
        s"""{"type": "pinecone",
           | "connection": {"url": "${server.url}", "namespace": "ns"},
           | "collection": "fix", "batch_size": 100}""".stripMargin)
      assert(graft.cli.Main.run(Array("--backfill-gid", cfg.toString)) == 0)
      // mirrors landed server-side for numeric ids only
      val stored = inner.scroll("fix::ns", 0, 1000).map(r => r.id -> r.metadata).toMap
      assert(stored("0").get("__gid").contains("0"))
      assert(stored("349").get("__gid").contains("349"))
      assert(!stored("uuid-a").contains("__gid"))
      assert(stored("351")("__gid") == "999") // foreign value untouched
      // the sliced extraction now covers the namespace exactly once
      // (uuid ids + the foreign-__gid record ride the catch-all /
      // exists-false legs)
      val back = spark.read.format("graft-pinecone")
        .option("url", server.url).option("namespace", "ns")
        .option("collection", "fix")
        .option("page_size", "100").option("cursor_parallelism", "4").load()
        .select(col(graft.model.Canonical.ID)).as[String](
          org.apache.spark.sql.Encoders.STRING).collect().toSeq
      assert(back.size == back.distinct.size, "duplicate rows across slices")
      assert(back.toSet == recs.map(_.id).toSet, s"${back.size} vs ${recs.size}")
    } finally server.stop()
  }

  test("--sweep-staging drops stranded generations, never the live alias target") {
    import graft.connectors.vectorstore._
    val server = new QdrantWireServer(new InMemoryStore)
    try {
      val t = new QdrantWireTransport(server.url)
      // a published target (alias -> live generation) + two strandeds
      t.createCollection("swt__staging_live", CollectionConfig(dim = 2), recreate = true)
      t.upsert("swt__staging_live", Seq(VSRecord("1", Array(1f, 0f), Map.empty)))
      t.rename("swt__staging_live", "swt")
      t.createCollection("swt__staging_dead1", CollectionConfig(dim = 2), recreate = true)
      t.createCollection("swt__staging_dead2", CollectionConfig(dim = 2), recreate = true)
      val cfg = Files.createTempFile("sw", ".json")
      Files.writeString(cfg,
        s"""{"type": "qdrant", "connection": {"url": "${server.url}"},
           | "collection": "swt"}""".stripMargin)
      assert(graft.cli.Main.run(Array("--sweep-staging", cfg.toString)) == 0)
      assert(t.count("swt") == 1, "live data must survive the sweep")
      assert(t.listCollections() == Seq("swt"), t.listCollections().toString)
    } finally server.stop()
  }

  test("--backfill-gid on qdrant walks only unmirrored points (is_null filter on the wire)") {
    import graft.connectors.vectorstore._
    val inner = new InMemoryStore
    val server = new QdrantWireServer(inner)
    try {
      // half the points already mirrored (engine-written), half foreign
      val t = new QdrantWireTransport(server.url)
      t.createCollection("qbf", CollectionConfig(dim = 2), recreate = true)
      t.upsert("qbf", (0 until 50).map(i =>
        VSRecord(s"$i", Array(i.toFloat, 1f), Map("lbl" -> "m")))) // mirrored
      inner.upsert("qbf", (50 until 120).map(i =>
        VSRecord(s"$i", Array(i.toFloat, 1f), Map("lbl" -> "f")))) // foreign
      val cfg = Files.createTempFile("bgq", ".json")
      Files.writeString(cfg,
        s"""{"type": "qdrant", "connection": {"url": "${server.url}"},
           | "collection": "qbf", "batch_size": 40}""".stripMargin)
      assert(graft.cli.Main.run(Array("--backfill-gid", cfg.toString)) == 0)
      val stored = inner.scroll("qbf", 0, 1000).map(r => r.id -> r.metadata).toMap
      assert((0 until 120).forall(i => stored(s"$i").get("__gid").contains(s"$i")))
      // the walk was FILTERED server-side: scroll bodies carry is_null
      val scrolls = server.bodiesOf("POST /collections/qbf/points/scroll")
      assert(scrolls.nonEmpty && scrolls.forall(_.contains(""""is_null"""")),
        scrolls.mkString("\n"))
    } finally server.stop()
  }

  test("sig-index lifecycle: build corpus index, ingest batch, novel docs out") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, sf(), "documents")
    val root = Files.createTempDirectory("sigcli")
    val corpusPq = s"$root/corpus"; val batchPq = s"$root/batch"
    val indexDir = s"$root/index"; val novelPq = s"$root/novel"
    docs.filter(col("doc_id") % 2 === 0).write.parquet(corpusPq)
    docs.filter(col("doc_id") % 2 =!= 0).write.parquet(batchPq)
    def cfg(path: String, novel: Boolean): String = {
      val f = Files.createTempFile("sig", ".json")
      Files.writeString(f,
        s"""{"documents": {"path": "$path"}, "index_dir": "$indexDir",
           | "params": {"num_hashes": 16, "num_bands": 4, "portable": true}
           | ${if (novel) s""", "novel_output": "$novelPq"""" else ""}}""".stripMargin)
      f.toString
    }
    // expected novel count from the library's legacy (derive-on-the-fly)
    // path: corpus near-dups flagged, then the survivors collapsed
    // within the batch (the ingest's third leg)
    val batchDf = docs.filter(col("doc_id") % 2 =!= 0)
    val expectedDupIds = graft.ops.Dedup.incrementalNearDupPairs(
      graft.ops.Dedup.signatureTable(docs.filter(col("doc_id") % 2 === 0),
        numHashes = 16, portable = true),
      batchDf, numHashes = 16, numBands = 4, portable = true)
      .select(col("batch_id").as("doc_id")).distinct()
    val corpusNovel = batchDf.join(expectedDupIds, Seq("doc_id"), "left_anti")
    val expectedNovel = graft.ops.Dedup.keepCanonical(corpusNovel,
      graft.ops.Dedup.minHashDuplicatePairs(corpusNovel, numHashes = 16,
        numBands = 4, threshold = 0.5, verifyExact = false, portable = true)).count()

    assert(graft.cli.Main.run(Array("--build-index", cfg(corpusPq, novel = false))) == 0)
    assert(graft.cli.Main.run(Array("--ingest", cfg(batchPq, novel = true))) == 0)
    assert(spark.read.parquet(novelPq).count() == expectedNovel)
    // manifest pins the structural hashing params
    assert(graft.core.SigIndex.readManifest(spark, indexDir)
      .contains(graft.core.SigIndex.Params(numHashes = 16, numBands = 4, portable = true)))
    // re-ingest the same texts under NEW ids: every doc with shingles is
    // now a near-duplicate of the (appended) index — nothing novel
    val shifted = s"$root/shifted"
    docs.filter(col("doc_id") % 2 =!= 0)
      .withColumn("doc_id", col("doc_id") + 1000000L).write.parquet(shifted)
    val emptyTexts = docs.filter(col("doc_id") % 2 =!= 0)
      .filter(size(split(trim(lower(col("text"))), "\\s+")) < 3).count()
    assert(graft.cli.Main.run(Array("--ingest", cfg(shifted, novel = true))) == 0)
    val novel2 = spark.read.parquet(novelPq).count()
    assert(novel2 <= emptyTexts, s"novel2=$novel2 emptyTexts=$emptyTexts")
  }

  test("sig-index: zero-shingle docs are marker-indexed — re-ingest reports alreadyIndexed") {
    import spark.implicits._
    val root = Files.createTempDirectory("sigzero")
    val indexDir = s"$root/index"
    val p = graft.core.SigIndex.Params(numHashes = 16, numBands = 4, portable = true)
    graft.core.SigIndex.build(spark,
      Seq((2L, "the quick brown fox jumps over the lazy dog right now")).toDF("doc_id", "text"),
      indexDir, p)
    val batch = Seq(
      (10L, "a clearly novel document about shuffle partitions and broadcast joins"),
      (11L, ""),   // zero shingles: empty text
      (12L, "xy")  // zero shingles: below the shingle width
    ).toDF("doc_id", "text")
    val r1 = graft.core.SigIndex.ingest(spark, batch, indexDir, p)
    assert(r1 == graft.core.SigIndex.IngestReport(3, 0, 0, 0, 3), r1.toString)
    // the empty-text docs now carry id markers in sigs/: a replayed batch is
    // wholly alreadyIndexed instead of re-reporting the empty docs as novel
    val r2 = graft.core.SigIndex.ingest(spark, batch, indexDir, p)
    assert(r2 == graft.core.SigIndex.IngestReport(3, 3, 0, 0, 0), r2.toString)
  }

  test("sig-index: build indexes a shingle-less doc by id; a legacy [] marker still ingests") {
    import spark.implicits._
    val root = Files.createTempDirectory("sigsentinel")
    val indexDir = s"$root/index"
    val p = graft.core.SigIndex.Params(numHashes = 16, numBands = 4, portable = true)
    val text = "the quick brown fox jumps over the lazy dog right now"
    // build returns the number of docs with a shingle; the "ok" doc is
    // indexed too, by id with the sentinel signature
    assert(graft.core.SigIndex.build(spark,
      Seq((2L, text), (3L, "ok")).toDF("doc_id", "text"), indexDir, p) == 1)
    val r1 = graft.core.SigIndex.ingest(spark, Seq((3L, "ok")).toDF("doc_id", "text"),
      indexDir, p)
    assert(r1 == graft.core.SigIndex.IngestReport(1, 1, 0, 0, 0), r1.toString)
    // an index written before the sentinel carries `[]` marker rows: the
    // marker keeps its id known, bands to nothing, and leaves the
    // structural probe and the corpus leg working
    Seq((99L, Seq.empty[Long])).toDF("doc_id", "minhash_sig")
      .write.mode("append").parquet(s"$indexDir/sigs")
    val batch = Seq((99L, "xy"), (100L, text), (101L, "ok")).toDF("doc_id", "text")
    val r2 = graft.core.SigIndex.ingest(spark, batch, indexDir, p)
    assert(r2 == graft.core.SigIndex.IngestReport(3, 1, 1, 0, 1), r2.toString)
    val replay = graft.core.SigIndex.ingest(spark, batch, indexDir, p, append = false)
    assert(replay == graft.core.SigIndex.IngestReport(3, 2, 1, 0, 0), replay.toString)
    graft.ops.Dedup.requireIndexCompatible(spark.read.parquet(s"$indexDir/sigs"),
      spark.read.parquet(s"$indexDir/bands"), "doc_id", 16, 4, portable = true)
  }

  test("sig-index: PRE-MANIFEST ingest with guessed-wrong params throws, right params work") {
    // the manifest-less branch trusts caller params — exactly the
    // population the structural probe exists for: a portable=true legacy
    // index ingested with default portable=false must error loudly, not
    // silently admit every duplicate
    import spark.implicits._
    val root = Files.createTempDirectory("sigpremanifest")
    val indexDir = s"$root/index"
    val corpus = Seq(
      (2L, "the quick brown fox jumps over the lazy dog again and again today"))
      .toDF("doc_id", "text")
    val sigs = graft.ops.Dedup.signatureTable(corpus, numHashes = 16, portable = true)
    sigs.write.parquet(s"$indexDir/sigs")
    graft.ops.Dedup.lshBands(sigs, numBands = 4, rowsPerBand = 4,
      portable = true).write.parquet(s"$indexDir/bands")
    // no params.json, no widths — a hand-rolled legacy index
    val batch = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      graft.core.SigIndex.ingest(spark, batch, indexDir,
        graft.core.SigIndex.Params(numHashes = 16, numBands = 4)) // portable=false guess
    }
    assert(e.getMessage.contains("structural mismatch"), e.getMessage)
    val r = graft.core.SigIndex.ingest(spark, batch, indexDir,
      graft.core.SigIndex.Params(numHashes = 16, numBands = 4, portable = true))
    assert(r.corpusDups == 1, r.toString)
    // that successful ingest appended EMPTY marker sigs for zero-shingle
    // docs in earlier indexes — replay that shape: a marker row must be
    // skipped by the probe, not fail the width check on correct params
    Seq((99L, Seq.empty[Long])).toDF("doc_id", "minhash_sig")
      .write.mode("append").parquet(s"$indexDir/sigs")
    val r2 = graft.core.SigIndex.ingest(spark, batch, indexDir,
      graft.core.SigIndex.Params(numHashes = 16, numBands = 4, portable = true))
    assert(r2.corpusDups == 1, r2.toString) // probed fine, still detected
    // adoptManifest: cross-checks witnessable axes, then pins ALL params
    // (incl. shingleSize, the non-witnessable one) for future ingests
    intercept[IllegalArgumentException] {
      graft.core.SigIndex.adoptManifest(spark, indexDir,
        graft.core.SigIndex.Params(numHashes = 16, numBands = 4)) // portable wrong
    }
    graft.core.SigIndex.adoptManifest(spark, indexDir,
      graft.core.SigIndex.Params(numHashes = 16, numBands = 4, portable = true))
    assert(graft.core.SigIndex.readManifest(spark, indexDir)
      .exists(_.portable), "manifest adopted")
    intercept[IllegalArgumentException] { // refuses a second adoption
      graft.core.SigIndex.adoptManifest(spark, indexDir,
        graft.core.SigIndex.Params(numHashes = 16, numBands = 4, portable = true))
    }
  }

  test("sig-index lease: concurrent compact-during-ingest rejected, stale lease expires") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, sf(), "documents").limit(50)
    val root = Files.createTempDirectory("siglease")
    val indexDir = s"$root/index"
    val p = graft.core.SigIndex.Params(numHashes = 16, numBands = 4, portable = true)
    graft.core.SigIndex.build(spark, docs, indexDir, p)
    val fsys = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(indexDir), spark.sparkContext.hadoopConfiguration)
    // simulate an in-flight ingest holding the lease
    val lease = new org.apache.hadoop.fs.Path(s"$indexDir/.lease")
    val out = fsys.create(lease, false)
    out.write(s"""{"verb":"ingest","token":"other","ts":${System.currentTimeMillis()}}"""
      .getBytes("UTF-8"))
    out.close()
    val filesBefore = fsys.listStatus(
      new org.apache.hadoop.fs.Path(s"$indexDir/sigs")).map(_.getPath.getName).toSet
    val ex = intercept[IllegalStateException] {
      graft.core.SigIndex.compact(spark, indexDir)
    }
    assert(ex.getMessage.contains("locked"), ex.getMessage)
    // and the same guard on a second ingest
    intercept[IllegalStateException] {
      graft.core.SigIndex.ingest(spark, docs, indexDir, p, append = false)
    }
    // index intact: nothing swapped or appended under contention
    assert(fsys.listStatus(new org.apache.hadoop.fs.Path(s"$indexDir/sigs"))
      .map(_.getPath.getName).toSet == filesBefore)
    assert(fsys.exists(lease), "a rejected operation must not release someone else's lease")
    // a STALE lease (crashed holder) expires instead of bricking the index
    val stale = fsys.create(lease, true)
    stale.write("""{"verb":"ingest","token":"dead","ts":1}""".getBytes("UTF-8"))
    stale.close()
    val r = graft.core.SigIndex.ingest(spark, docs, indexDir, p, append = false)
    assert(r.batchDocs == 50 && r.alreadyIndexed == 50) // all known -> no-op
    assert(!fsys.exists(lease), "completed operation must release its lease")
  }

  test("sig-index compaction: repeated ingests -> bounded files, identical detection") {
    import spark.implicits._
    val root = Files.createTempDirectory("sigcompact")
    val indexDir = s"$root/index"
    val p = graft.core.SigIndex.Params(numHashes = 16, numBands = 4, portable = true)
    graft.core.SigIndex.build(spark,
      Seq((1L, "seed corpus document with enough words to shingle properly today")).toDF("doc_id", "text"),
      indexDir, p)
    (0 until 6).foreach { i =>
      graft.core.SigIndex.ingest(spark,
        Seq((100L + i, s"ingest wave $i adds a fresh unique document about topic number $i")).toDF("doc_id", "text"),
        indexDir, p)
    }
    val fsys = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(indexDir), spark.sparkContext.hadoopConfiguration)
    def nFiles(art: String) = fsys.listStatus(
      new org.apache.hadoop.fs.Path(s"$indexDir/$art"))
      .count(_.getPath.getName.endsWith(".parquet"))
    val sigsBefore = nFiles("sigs"); val bandsBefore = nFiles("bands")
    // compaction runs through the CLI verb on the standard config shape
    val cfgFile = Files.createTempFile("sig", ".json")
    Files.writeString(cfgFile,
      s"""{"documents": {"path": "$root/unused"}, "index_dir": "$indexDir",
         | "params": {"num_hashes": 16, "num_bands": 4, "portable": true}}""".stripMargin)
    assert(graft.cli.Main.run(Array("--compact-index", cfgFile.toString)) == 0)
    assert(nFiles("sigs") < sigsBefore, s"sigs: ${nFiles("sigs")} vs $sigsBefore")
    assert(nFiles("bands") < bandsBefore, s"bands: ${nFiles("bands")} vs $bandsBefore")
    // detection behavior is unchanged: a near-dup of an ingested doc is
    // flagged, a genuinely new doc is novel
    val r = graft.core.SigIndex.ingest(spark, Seq(
      (900L, "ingest wave 3 adds a fresh unique document about topic number 3"),
      (901L, "an entirely different closing document mentioning watermarks and state stores")
    ).toDF("doc_id", "text"), indexDir, p, append = false)
    assert(r.corpusDups == 1 && r.novelDocs == 1, r.toString)
    // crash between compaction's two renames: sigs/ absent, sigs__old
    // intact — the next compact heals before doing anything else
    fsys.rename(new org.apache.hadoop.fs.Path(s"$indexDir/sigs"),
      new org.apache.hadoop.fs.Path(s"$indexDir/sigs__old"))
    assert(!fsys.exists(new org.apache.hadoop.fs.Path(s"$indexDir/sigs")))
    graft.core.SigIndex.compact(spark, indexDir)
    assert(fsys.exists(new org.apache.hadoop.fs.Path(s"$indexDir/sigs")))
    val r2 = graft.core.SigIndex.ingest(spark, Seq(
      (902L, "ingest wave 3 adds a fresh unique document about topic number 3")
    ).toDF("doc_id", "text"), indexDir, p, append = false)
    assert(r2.corpusDups == 1, r2.toString) // healed index still detects
  }

  test("--config combined with an op verb is refused, not silently half-run") {
    // only the verb used to run (exit 0) while the migration silently
    // never happened
    val f = Files.createTempFile("conflict", ".json")
    Files.writeString(f, """{"documents": {"path": "/nope"}, "index_dir": "/nope"}""")
    assert(graft.cli.Main.run(Array("--config", f.toString, "--ingest", f.toString)) == 1)
    assert(graft.cli.Main.run(Array("--config", f.toString, "--sweep-staging", "x")) == 1)
  }

  test("bad config path exits 1") {
    assert(graft.cli.Main.run(Array("--config", "/no/such/file.json")) == 1)
  }

  test("the reference's golden 4-item demo migrates end to end") {
    // hermetic form of the reference's docker-compose walkthrough:
    // pgvector-shaped 4-row source -> milvus collection, "4 items there"
    import graft.connectors.vectorstore.VectorStore
    VectorStore.drop("migrated_vector_items")
    assert(graft.cli.Main.run(
      Array("--config", "examples/demo/pgvector_to_milvus_demo.json")) == 0)
    assert(VectorStore.count("migrated_vector_items") == 4)
    val byId = VectorStore.scroll("migrated_vector_items", 0, 10)
      .map(r => r.id -> r).toMap
    assert(byId("1").vector.toSeq == Seq(0.1f, 0.2f, 0.3f))
    assert(byId("4").metadata("info") == "Fourth item, different category")
    assert(byId.values.forall(_.metadata("source") == "pgvector"))
    VectorStore.drop("migrated_vector_items")

    // same demo over a real localhost socket speaking Milvus v2 REST
    val server = new graft.connectors.vectorstore.MilvusWireServer(
      new graft.connectors.vectorstore.InMemoryStore)
    try {
      val cfg = Files.createTempFile("graft-demo", ".json")
      Files.writeString(cfg, Files.readString(
        java.nio.file.Path.of("examples/demo/pgvector_to_milvus_demo.json"))
        .replace("\"connection\": {},", s"""\"connection\": {\"url\": \"${server.url}\"},"""))
      assert(graft.cli.Main.run(Array("--config", cfg.toString)) == 0)
      assert(server.requestLines.exists(_.contains("/v2/vectordb/entities/upsert")))
      val t = new graft.connectors.vectorstore.MilvusWireTransport(server.url)
      assert(t.count("migrated_vector_items") == 4)
    } finally server.stop()
  }

  test("shipped example configs run end to end through the CLI") {
    for ((cfg, transform, coll) <- Seq(
      ("documents_to_chunks.json", Some("graft.examples.ChunkAndEmbed"), "doc_chunks"),
      ("corpus_prep.json", Some("graft.examples.PrepareTrainingCorpus"), "prepared_corpus"),
      ("decontaminated_corpus.json", None, "decontaminated_corpus"),
      ("embeddings_incremental.json", None, "emb_incr"))) {
      // (the webdataset export example has its own test below — its
      // target is a shard directory, not a memory collection)
      MemoryStore.drop(coll)
      val args = Array("--config", s"examples/configs/$cfg") ++
        transform.toSeq.flatMap(t => Seq("--transform", t))
      assert(graft.cli.Main.run(args) == 0, cfg)
      assert(MemoryStore.get(coll).get._1.nonEmpty, cfg)
    }
  }

  test("webdataset export example config ships real tar shards") {
    assert(graft.cli.Main.run(Array("--config",
      "examples/configs/export_corpus_webdataset.json")) == 0)
    val members = graft.ops.WebDataset.readShards(spark,
      "target/examples_out/corpus_export/*.tar")
    assert(members.filter(col("ext") === "vec.json").count() > 0)
  }

  test("declarative pipeline config runs the recipe; equals the --transform class run") {
    // config-declared gate → dedup → chunk+embed → split → layout
    for (c <- Seq("prepared_corpus_pipeline", "prep_class")) MemoryStore.drop(c)
    assert(graft.cli.Main.run(
      Array("--config", "examples/configs/corpus_prep_pipeline.json")) == 0)
    val rows = MemoryStore.get("prepared_corpus_pipeline").get._1
    assert(rows.nonEmpty)
    // chunk-shaped ids + split stamped by the declarative steps
    assert(rows.forall(_.getString(0).contains("#")))
    // the same recipe via the class transform (no split/layout steps) must
    // produce the identical chunk id set — the registry steps ARE the ops
    val cfg = Files.createTempFile("graft", ".json")
    Files.writeString(cfg,
      s"""{"source": {"type": "parquet", "connection": {"path": "/root/testdata/sf0.001"},
         |            "query": {"table_name": "documents", "id_column": "doc_id",
         |                      "metadata_columns": ["text", "source"]}},
         | "target": {"type": "memory", "connection": {},
         |            "load": {"collection": "prep_class", "recreate": true}}}""".stripMargin)
    assert(graft.cli.Main.run(Array("--config", cfg.toString,
      "--transform", "graft.examples.PrepareTrainingCorpus")) == 0)
    val classIds = MemoryStore.get("prep_class").get._1.map(_.getString(0)).toSet
    assert(rows.map(_.getString(0)).toSet == classIds)
  }

  test("token-budget mixture config runs the recipe end to end") {
    MemoryStore.drop("token_budget_corpus")
    assert(graft.cli.Main.run(
      Array("--config", "examples/configs/token_budget_mixture.json")) == 0)
    val rows = MemoryStore.get("token_budget_corpus").get._1
    assert(rows.nonEmpty)
    // the mixture gate dropped sources outside the share map and the
    // split step stamped metadata
    val metas = rows.map(_.getAs[Map[String, String]](2))
    assert(metas.forall(m => Set("src0", "src1", "src2")(m("source"))))
    assert(metas.forall(m => Set("train", "val", "test")(m("split"))))
  }

  test("pipeline config with an unknown step aborts with exit 1") {
    val cfg = Files.createTempFile("graft", ".json")
    Files.writeString(cfg,
      s"""{"source": {"type": "parquet", "connection": {"path": "${sf()}"},
         |            "query": {"table_name": "embeddings", "id_column": "vec_id",
         |                      "vector_column": "embedding", "limit": 5}},
         | "pipeline": [{"transform": "definitely_not_an_op"}],
         | "target": {"type": "memory", "connection": {},
         |            "load": {"collection": "bad_pipe", "recreate": true}}}""".stripMargin)
    assert(graft.cli.Main.run(Array("--config", cfg.toString)) == 1)
  }

  test("--incremental ships only the delta on re-runs") {
    MemoryStore.drop("cli_incr")
    def cfg(limit: Int) = {
      val f = Files.createTempFile("graft", ".json")
      Files.writeString(f,
        s"""{"source": {"type": "parquet", "connection": {"path": "${sf()}"},
           |            "query": {"table_name": "embeddings", "id_column": "vec_id",
           |                      "vector_column": "embedding", "limit": $limit}},
           | "target": {"type": "memory", "connection": {},
           |            "load": {"collection": "cli_incr", "recreate": true}}}""".stripMargin)
      f.toString
    }
    // first incremental run on an empty collection loads everything
    assert(graft.cli.Main.run(Array("--config", cfg(5), "--incremental")) == 0)
    assert(MemoryStore.get("cli_incr").get._1.length == 5)
    // re-run same source: nothing new, nothing duplicated (recreate ignored)
    assert(graft.cli.Main.run(Array("--config", cfg(5), "--incremental")) == 0)
    assert(MemoryStore.get("cli_incr").get._1.length == 5)
    // widened source: only the 3 new records land
    assert(graft.cli.Main.run(Array("--config", cfg(8), "--incremental")) == 0)
    val rows = MemoryStore.get("cli_incr").get._1
    assert(rows.length == 8 && rows.map(_.getString(0)).distinct.length == 8)
  }

  test("--validate passes on a clean run and fails on a tampered target") {
    MemoryStore.drop("cli_val")
    val cfg = Files.createTempFile("graft", ".json")
    Files.writeString(cfg,
      s"""{"source": {"type": "parquet", "connection": {"path": "${sf()}"},
         |            "query": {"table_name": "embeddings", "id_column": "vec_id",
         |                      "vector_column": "embedding", "limit": 30}},
         | "target": {"type": "memory", "connection": {},
         |            "load": {"collection": "cli_val", "recreate": true}}}""".stripMargin)
    assert(graft.cli.Main.run(Array("--config", cfg.toString, "--validate")) == 0)
    // tamper: drop rows from the landed collection, re-validate WITHOUT
    // re-migrating by running against a pre-tampered copy
    val (rows, props) = MemoryStore.get("cli_val").get
    MemoryStore.put("cli_val", rows.drop(2), props)
    val report = graft.core.Validator.validateMigration(spark,
      graft.config.MigrationConfig.fromFile(cfg.toString))
    import spark.implicits._
    val r = report.as[(String, Long, Boolean)].collect().map(x => x._1 -> x).toMap
    assert(r("ids_missing_in_target")._2 == 2 && !r("ids_missing_in_target")._3)
  }

  test("--validate derives expected through the config PIPELINE (not the raw source)") {
    // the validator used to skip the declarative pipeline block, so every
    // pipelined migration spuriously failed --validate: expected was the
    // raw source while the target held the pipelined rows
    MemoryStore.drop("cli_val_pipe")
    val cfg = Files.createTempFile("graft", ".json")
    Files.writeString(cfg,
      s"""{"source": {"type": "parquet", "connection": {"path": "${sf()}"},
         |            "query": {"table_name": "embeddings", "id_column": "vec_id",
         |                      "vector_column": "embedding", "limit": 30}},
         | "pipeline": [{"name": "normalize_vectors"}],
         | "target": {"type": "memory", "connection": {},
         |            "load": {"collection": "cli_val_pipe", "recreate": true}}}""".stripMargin)
    assert(graft.cli.Main.run(Array("--config", cfg.toString, "--validate")) == 0)
  }

  test("value-taking flags as the LAST token print usage, never a raw index crash") {
    for (f <- Seq("--config", "--transform", "--build-index", "--sweep-staging"))
      assert(graft.cli.Main.run(Array(f)) == 1, f)
  }

  test("DedupVectors and SemanticDedup transforms drop (near-)duplicate vectors") {
    import spark.implicits._
    val dim = 8
    def unit(hot: Int, eps: Float = 0f): Seq[Float] =
      (0 until dim).map(i =>
        if (i == hot) 1f else if (i == (hot + 1) % dim) eps else 0f)
    // enough distinct fillers that nClusters=16 < n (with k >= n every
    // point is its own cluster and blocking finds nothing, by design);
    // filler eps >= 0.5 keeps their cosine to the planted pair < 0.9
    val fillers = (0 until 20).map(i =>
      (f"e$i%02d", unit(i % dim, 0.5f + 0.35f * (i / dim)), Map("k" -> "f")))
    // "z" sorts after every seed id: a near-dup that is ITSELF a k-means
    // seed stays its own cluster and is (by design) missed — SemDeDup's
    // k << n regime is what the late id simulates here
    val df = (Seq(
      ("a", unit(0), Map("k" -> "1")),
      ("b", unit(0), Map("k" -> "2")),        // exact duplicate of a
      ("z", unit(0, 0.01f), Map("k" -> "3")), // near-duplicate of a (cos ≈ 0.99995)
      ("d", unit(4), Map("k" -> "4"))) ++ fillers)
      .toDF(Canonical.ID, Canonical.VECTOR, Canonical.METADATA)
    val exact = new graft.examples.DedupVectors()(df)
      .select(Canonical.ID).as[String].collect().toSet
    assert(!exact.contains("b") && Set("a", "z", "d").subsetOf(exact) &&
      exact.size == 23, exact.toString)
    val sem = new graft.examples.SemanticDedup()(df)
      .select(Canonical.ID).as[String].collect().toSet
    assert(!sem.contains("b") && !sem.contains("z") && Set("a", "d").subsetOf(sem) &&
      sem.size == 22, sem.toString)
  }

  test("--transform loads the packaged example class (add_source_tracking parity)") {
    MemoryStore.drop("cli_tf")
    val cfg = Files.createTempFile("graft", ".json")
    Files.writeString(cfg,
      s"""{"source": {"type": "parquet", "connection": {"path": "${sf()}"},
         |            "query": {"table_name": "embeddings", "id_column": "vec_id",
         |                      "vector_column": "embedding", "limit": 8}},
         | "target": {"type": "memory", "connection": {},
         |            "load": {"collection": "cli_tf", "recreate": true}}}""".stripMargin)
    assert(graft.cli.Main.run(Array("--config", cfg.toString,
      "--transform", "graft.examples.AddSourceTracking")) == 0)
    val rows = MemoryStore.get("cli_tf").get._1
    assert(rows.length == 8)
    assert(rows.forall { r =>
      val m = r.getAs[Map[String, String]](Canonical.METADATA)
      m("source_db") == "pgvector" && m.contains("migration_timestamp")
    })
  }
}
