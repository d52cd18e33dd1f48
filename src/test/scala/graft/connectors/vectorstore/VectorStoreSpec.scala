package graft.connectors.vectorstore

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import graft.SparkSpec
import graft.model.Canonical

class VectorStoreSpec extends SparkSpec {
  import spark.implicits._

  private def canonDf(n: Int, idPrefix: String = "") = {
    val rows = (0 until n).map(i =>
      (s"$idPrefix$i", Seq.fill(4)(i.toFloat), Map("cat" -> s"c${i % 3}", "rank" -> i.toString)))
    rows.toDF(Canonical.ID, Canonical.VECTOR, Canonical.METADATA)
  }

  test("DSv2 write + read round trip (qdrant emulation)") {
    canonDf(250).write.format("graft-qdrant")
      .option("collection", "rt").option("recreate", "true").option("batch_size", "100")
      .mode("overwrite").save()
    assert(VectorStore.count("rt") == 250)
    val back = spark.read.format("graft-qdrant").option("collection", "rt").load()
    assert(back.count() == 250)
    assert(back.schema == Canonical.schema)
  }

  test("atomic write: failed job leaves the target byte-identical; success publishes all") {
    VectorStore.drop("atom")
    VectorStore.createCollection("atom", CollectionConfig(dim = 4), recreate = true)
    VectorStore.upsert("atom", Seq(VSRecord("old", Array(1f, 2f, 3f, 4f), Map("k" -> "v"))))
    // poisoned batch: a null id kills its task mid-job (qdrant rules don't skip)
    val poisoned = Seq(
      ("g1", Seq(1f, 1f, 1f, 1f), Map.empty[String, String]),
      (null.asInstanceOf[String], Seq(2f, 2f, 2f, 2f), Map.empty[String, String]))
      .toDF(Canonical.ID, Canonical.VECTOR, Canonical.METADATA).repartition(2)
    intercept[Exception] {
      poisoned.write.format("graft-qdrant").option("collection", "atom")
        .option("atomic", "true").mode("append").save()
    }
    // all-or-nothing: no partial rows in the target, no stranded shadow
    assert(VectorStore.scroll("atom", 0, 100).map(_.id) == Seq("old"))
    assert(!VectorStore.listCollections().exists(_.startsWith("atom__staging_")))
    // the same shape without the poison publishes everything
    canonDf(25, "g").write.format("graft-qdrant").option("collection", "atom")
      .option("atomic", "true").mode("append").save()
    assert(VectorStore.count("atom") == 26)
    assert(VectorStore.scroll("atom", 0, 100).exists(_.id == "old"))
    // atomic overwrite: target serves OLD contents until the commit swap,
    // then the shadow replaces it wholesale
    canonDf(10, "n").write.format("graft-qdrant").option("collection", "atom")
      .option("atomic", "true").option("recreate", "true").mode("overwrite").save()
    assert(VectorStore.count("atom") == 10)
    assert(VectorStore.scroll("atom", 0, 100).forall(_.id.startsWith("n")))
    assert(!VectorStore.listCollections().exists(_.startsWith("atom__staging_")))
    VectorStore.drop("atom")
  }

  test("atomic append publishes large shadows through executors, not the driver") {
    VectorStore.drop("atom_dist")
    VectorStore.createCollection("atom_dist", CollectionConfig(dim = 4), recreate = true)
    VectorStore.upsert("atom_dist", Seq(VSRecord("seed", Array(0f, 0f, 0f, 0f), Map.empty)))
    // n=250 >> batch_size=10 takes the distributed range-copy commit path
    canonDf(250, "d").write.format("graft-qdrant").option("collection", "atom_dist")
      .option("atomic", "true").option("batch_size", "10").mode("append").save()
    val rows = VectorStore.scroll("atom_dist", 0, 1000)
    assert(rows.length == 251, s"${rows.length}")
    assert(rows.exists(_.id == "seed"))
    assert((0 until 250).forall(i => rows.exists(_.id == s"d$i")))
    assert(!VectorStore.listCollections().exists(_.startsWith("atom_dist__staging_")))
    VectorStore.drop("atom_dist")
  }

  test("filters push into the scan and are applied backend-side") {
    canonDf(100).write.format("graft-qdrant")
      .option("collection", "flt").option("recreate", "true").mode("overwrite").save()
    val df = spark.read.format("graft-qdrant").option("collection", "flt").load()
      .filter(element_at(col("metadata"), "cat") === "c1")
    val plan = df.queryExecution.executedPlan.toString
    // the metadata predicate must appear INSIDE the scan description,
    // rendered to the backend dialect — PushMetadataFilters installed it
    // (Spark's own pushdown APIs cannot carry map access)
    val scanLine = plan.linesIterator.find(_.contains("VectorStoreScan")).getOrElse("")
    assert(scanLine.contains("pushed=[") && scanLine.contains("cat"), plan)
    assert(df.count() == 33)
  }

  test("numeric + In + null metadata predicates push to the store; results unchanged") {
    canonDf(90).write.format("graft-qdrant")
      .option("collection", "fltn").option("recreate", "true").mode("overwrite").save()
    val base = spark.read.format("graft-qdrant").option("collection", "fltn").load()
    val df = base.filter(
      element_at(col("metadata"), "rank").cast("double") >= 80 &&
        element_at(col("metadata"), "cat").isin("c0", "c2") &&
        element_at(col("metadata"), "missing").isNull)
    val scanLine = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("VectorStoreScan")).getOrElse("")
    assert(scanLine.contains("rank") && scanLine.contains("missing"), scanLine)
    // ranks 80..89 with cat = c0/c2 → ranks ≡ 0 or 2 (mod 3): 81,84,87,80,83,86,89
    assert(df.count() == 7)
  }

  test("limit is NOT pushed below pushed filters (limit-after-filter contract)") {
    canonDf(2000).write.format("graft-qdrant")
      .option("collection", "fl").option("recreate", "true").mode("overwrite").save()
    // the match is deep in the scroll order: a limit pushed as a raw range
    // truncation would return nothing (regression: filtered .head() == empty)
    val row = spark.read.format("graft-qdrant").option("collection", "fl").load()
      .filter(col("id") === "1999").limit(1).collect()
    assert(row.length == 1 && row(0).getString(0) == "1999")
  }

  test("limit pushdown plans a single scroll partition") {
    canonDf(5000).write.format("graft-qdrant")
      .option("collection", "lim").option("recreate", "true").mode("overwrite").save()
    val df = spark.read.format("graft-qdrant").option("collection", "lim").load().limit(7)
    assert(df.count() == 7)
    assert(df.rdd.getNumPartitions == 1)
  }

  test("count(*) is pushed into the scan and sums per-partition partials") {
    canonDf(2500).write.format("graft-qdrant")
      .option("collection", "cnt").option("recreate", "true").mode("overwrite").save()
    val df = spark.read.format("graft-qdrant").option("collection", "cnt").load()
      .agg(count(lit(1)).as("n"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("agg=count(*)"), plan)
    assert(df.collect()(0).getLong(0) == 2500L)
  }

  test("pushed count composes with a pushed id filter (backend-side count)") {
    canonDf(300).write.format("graft-qdrant")
      .option("collection", "cntf").option("recreate", "true").mode("overwrite").save()
    val df = spark.read.format("graft-qdrant").option("collection", "cntf").load()
      .filter(col("id").isin("7", "17", "27", "missing"))
      .agg(count(lit(1)).as("n"))
    val plan = df.queryExecution.executedPlan.toString
    // id membership rides the documented has_id condition (point ids are
    // not payload keys on the real wire)
    assert(plan.contains("agg=count(*)") && plan.contains("has_id"), plan)
    assert(df.collect()(0).getLong(0) == 3L)
  }

  test("full scan pages in parallel (fixes the single-page Qdrant truncation)") {
    canonDf(2500).write.format("graft-qdrant")
      .option("collection", "pg").option("recreate", "true").mode("overwrite").save()
    val df = spark.read.format("graft-qdrant").option("collection", "pg")
      .option("page_size", "500").load()
    // reference would silently stop at 1000 (adapters/qdrant.py:99-106)
    assert(df.count() == 2500)
    assert(df.rdd.getNumPartitions == 5)
  }

  test("qdrant rejects unknown distance metrics (adapters/qdrant.py:163-169)") {
    val e = intercept[Exception] {
      canonDf(1).write.format("graft-qdrant")
        .option("collection", "bad").option("distance", "Chebyshev")
        .option("recreate", "true").mode("overwrite").save()
    }
    assert(e.getMessage.contains("Chebyshev") || e.getCause != null)
  }

  test("qdrant coerces digit-string ids (adapters/qdrant.py:220-222)") {
    Seq(("007", Seq(1f), Map.empty[String, String]), ("abc", Seq(2f), Map.empty[String, String]))
      .toDF(Canonical.ID, Canonical.VECTOR, Canonical.METADATA)
      .write.format("graft-qdrant").option("collection", "ids")
      .option("recreate", "true").mode("overwrite").save()
    val ids = VectorStore.scroll("ids", 0, 10).map(_.id).sorted
    assert(ids == Seq("7", "abc")) // "007" numerically coerced, "abc" kept
  }

  test("milvus requires a pre-created collection (adapters/milvus.py:154-160)") {
    VectorStore.drop("nocoll")
    val e = intercept[Exception] {
      canonDf(3).write.format("graft-milvus").option("collection", "nocoll").mode("append").save()
    }
    assert(e.getMessage.contains("nocoll") ||
      Option(e.getCause).exists(_.getMessage.contains("nocoll")))
  }

  test("milvus skips records with missing ids (adapters/milvus.py:187-193)") {
    // the table id is non-nullable (SQL row-level ops require it), so a
    // missing id travels as '' — the writer's skip rule is unchanged; the
    // facade coalesces null→'' for raw nullable inputs (tested below)
    VectorStore.createCollection("sk", CollectionConfig(), recreate = true)
    val df = Seq(("a", Seq(1f), Map.empty[String, String]),
      ("", Seq(2f), Map.empty[String, String]),
      ("b", Seq(3f), Map.empty[String, String]))
      .toDF(Canonical.ID, Canonical.VECTOR, Canonical.METADATA)
    df.write.format("graft-milvus").option("collection", "sk").mode("append").save()
    assert(VectorStore.count("sk") == 2)
    // commit accounting surfaces the skip (milvus result-dict parity)
    assert(VSWriteStats.get("sk").contains((2L, 1L)))
  }

  test("facade write report carries written + skipped from commit messages") {
    VectorStore.createCollection("rep", CollectionConfig(), recreate = true)
    val df = Seq((Option("x"), Seq(1f), Map.empty[String, String]),
      (Option.empty[String], Seq(2f), Map.empty[String, String]))
      .toDF(Canonical.ID, Canonical.VECTOR, Canonical.METADATA)
    val report = new MilvusConnector().write(df, Map.empty,
      graft.config.LoadSpec(collection = "rep"))
    assert(report.written == 1 && report.skipped == 1)
  }

  test("qdrant index tuning passthrough: hnsw + quantization config recorded") {
    canonDf(3).write.format("graft-qdrant")
      .option("collection", "tuned").option("recreate", "true")
      .option("distance", "Dot").option("on_disk", "true")
      .option("hnsw_m", "16").option("hnsw_ef_construct", "100")
      .option("quantization_type", "scalar")
      .mode("overwrite").save()
    val cfg = VectorStore.config("tuned").get
    assert(cfg.distance == "Dot" && cfg.onDisk)
    assert(cfg.props == Map("hnsw_m" -> "16", "hnsw_ef_construct" -> "100",
      "quantization_type" -> "scalar"))
  }

  test("pinecone namespaces map to index::namespace") {
    canonDf(5).write.format("graft-pinecone")
      .option("collection", "idx").option("namespace", "ns1")
      .option("recreate", "true").mode("overwrite").save()
    assert(VectorStore.exists("idx::ns1"))
    val back = spark.read.format("graft-pinecone")
      .option("collection", "idx").option("namespace", "ns1").load()
    assert(back.count() == 5)
  }

  test("column pruning reaches the reader") {
    canonDf(10).write.format("graft-qdrant")
      .option("collection", "prune").option("recreate", "true").mode("overwrite").save()
    val df = spark.read.format("graft-qdrant").option("collection", "prune").load()
      .select(Canonical.ID)
    assert(df.queryExecution.executedPlan.schema.fieldNames.toSeq == Seq(Canonical.ID))
    assert(df.count() == 10)
  }

  test("upsert replaces by id across appends") {
    canonDf(10).write.format("graft-qdrant")
      .option("collection", "ups").option("recreate", "true").mode("overwrite").save()
    canonDf(5, "").write.format("graft-qdrant")
      .option("collection", "ups").mode("append").save()
    assert(VectorStore.count("ups") == 10) // ids 0-4 replaced, not duplicated
  }
}

class FilterDialectSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    ("1", Seq(1f), Map("cat" -> "a", "score" -> "10")),
    ("2", Seq(2f), Map("cat" -> "b", "score" -> "20")),
    ("3", Seq(3f), Map("cat" -> "a", "score" -> "30")))
    .toDF(Canonical.ID, Canonical.VECTOR, Canonical.METADATA)

  test("qdrant JSON filter parses to the right predicate") {
    val d = new QdrantFilterDialect()
    val c = d.parse("""{"must": [{"key": "cat", "match": {"value": "a"}},
                      |          {"key": "score", "range": {"gte": 20}}]}""".stripMargin)
    assert(docs.filter(c).select(col("id")).as[String].collect().toSeq == Seq("3"))
  }

  test("qdrant should/must_not combine as OR / NOT") {
    val d = new QdrantFilterDialect()
    val or = d.parse("""{"should": [{"key": "cat", "match": {"value": "b"}},
                       |            {"key": "score", "match": {"value": 30}}]}""".stripMargin)
    assert(docs.filter(or).count() == 2)
    val not = d.parse("""{"must_not": [{"key": "cat", "match": {"value": "a"}}]}""")
    assert(docs.filter(not).count() == 1)
  }

  test("qdrant match-any and is_null conditions parse and render") {
    val d = new QdrantFilterDialect()
    val any = d.parse("""{"must":[{"key":"cat","match":{"any":["a","b"]}}]}""")
    assert(docs.filter(any).count() == 3)
    // render IsNotNull/In and re-parse (round trip)
    val rendered = d.render(And(In("metadata.cat", Array("a")),
      IsNotNull("metadata.score"))).get
    assert(docs.filter(d.parse(rendered)).count() == 2)
  }

  test("milvus expression grammar: comparisons, in, like, boolean ops") {
    val d = new MilvusExprDialect()
    assert(docs.filter(d.parse("cat == \"a\"")).count() == 2)
    assert(docs.filter(d.parse("score > 15 && cat == \"a\"")).count() == 1)
    assert(docs.filter(d.parse("score >= 20 || cat == \"a\"")).count() == 3)
    assert(docs.filter(d.parse("cat in [\"a\", \"b\"]")).count() == 3)
    assert(docs.filter(d.parse("score in [10, 30]")).count() == 2)
    assert(docs.filter(d.parse("!(cat == \"a\")")).count() == 1)
    assert(docs.filter(d.parse("cat like \"a%\"")).count() == 2)
    assert(docs.filter(d.parse("id == \"2\"")).count() == 1)
  }

  test("render: catalyst filters → backend syntax round-trip through parse") {
    val q = new QdrantFilterDialect()
    val rendered = q.render(And(EqualTo("metadata.cat", "a"),
      GreaterThanOrEqual("metadata.score", 20))).get
    assert(docs.filter(q.parse(rendered)).count() == 1)
    val m = new MilvusExprDialect()
    val mr = m.render(Or(EqualTo("metadata.cat", "b"), LessThan("metadata.score", 15))).get
    assert(docs.filter(m.parse(mr)).count() == 2)
  }

  test("sql dialect renders standard WHERE fragments") {
    val s = new SqlWhereDialect()
    assert(s.render(EqualTo("category", "x")).contains("category = 'x'"))
    assert(s.render(In("n", Array(1, 2))).contains("n IN (1, 2)"))
    assert(s.render(And(IsNotNull("a"), StringStartsWith("b", "pre")))
      .contains("(a IS NOT NULL AND b LIKE 'pre%')"))
  }

  test("malformed filter lists throw loudly instead of matching all/none") {
    // Jackson's elements() on a scalar is EMPTY: these shapes used to
    // parse as "no constraints" (must) or "match nothing" (has_id/any) —
    // a subset migration silently copying everything / zero rows
    val qd = new QdrantFilterDialect()
    intercept[IllegalArgumentException] { qd.parse("""{"must": "lang=en"}""") }
    intercept[IllegalArgumentException] {
      qd.parse("""{"must": [{"has_id": "7"}]}""") }
    intercept[IllegalArgumentException] {
      qd.parse("""{"must": [{"key": "k", "match": {"any": "x"}}]}""") }
    intercept[IllegalArgumentException] {
      new QdrantFilterDialect().parseFilter(
        WireJson.mapper.readTree("""{"must": {"key": "k"}}""")) }
    val pc = new PineconeFilterDialect()
    intercept[IllegalArgumentException] { pc.parse("""{"$and": {"k": "v"}}""") }
    intercept[IllegalArgumentException] {
      new PineconeFilterDialect().parseFilter(
        WireJson.mapper.readTree("""{"$or": "oops"}""")) }
    // key-less / scalar condition bodies raise the parse error, never NPE
    intercept[IllegalArgumentException] {
      qd.parse("""{"must": [{"is_null": "k"}]}""") }
    intercept[IllegalArgumentException] {
      qd.parse("""{"must": [{"is_empty": {}}]}""") }
    intercept[IllegalArgumentException] {
      qd.parse("""{"must": [{"key": "k", "match": {}}]}""") }
    intercept[IllegalArgumentException] {
      new QdrantFilterDialect().parseFilter(
        WireJson.mapper.readTree("""{"must": [{"is_null": "k"}]}""")) }
    intercept[IllegalArgumentException] {
      new QdrantFilterDialect().parseFilter(
        WireJson.mapper.readTree("""{"must": [{"key": "k", "match": {}}]}""")) }
  }

  test("sql dialect refuses the bare canonical map/vector columns") {
    val s = new SqlWhereDialect()
    // Spark infers IsNotNull(metadata) on the map column — rendering it as
    // a column reference would be the silent zero-row scan the three
    // structured dialects already guard against
    assert(s.render(IsNotNull("metadata")).isEmpty)
    assert(s.render(EqualTo("vector", "x")).isEmpty)
    assert(s.render(And(IsNotNull("metadata"), EqualTo("cat", "a"))).isEmpty)
    // id and metadata.<key> addressing still renders
    assert(s.render(IsNotNull("metadata.cat")).contains("cat IS NOT NULL"))
    assert(s.render(EqualTo("id", "7")).contains("id = '7'"))
  }
}

class VectorStoreHardeningSpec extends SparkSpec {
  import spark.implicits._

  private def canonDf(n: Int) = {
    val rows = (0 until n).map(i =>
      (s"h$i", Seq.fill(4)(i.toFloat), Map("cat" -> s"c${i % 3}")))
    rows.toDF(Canonical.ID, Canonical.VECTOR, Canonical.METADATA)
  }

  test("misspelled vector_type throws instead of silently selecting the float schema") {
    canonDf(5).write.format("graft-qdrant")
      .option("collection", "vt_guard").option("recreate", "true")
      .mode("overwrite").save()
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft-qdrant").option("collection", "vt_guard")
        .option("vector_type", "BIANRY").load()
    }
    assert(e.getMessage.contains("unknown vector_type"))
    // valid values (any case) still resolve
    assert(spark.read.format("graft-qdrant").option("collection", "vt_guard")
      .option("vector_type", "float_vector").load().count() == 5)
    VectorStore.drop("vt_guard")
  }

  test("topKStreaming matches a full sort, bounds memory, breaks ties on id") {
    val recs = (0 until 500).map { i =>
      VSRecord(f"r$i%03d", Array(i.toFloat, (500 - i).toFloat), Map.empty)
    } :+ VSRecord("rzzz", null, Map.empty) // null vector: skipped, not NPE
    val sp = SearchSpec(Array(1f, 0f), 7)
    val full = recs.filter(_.vector != null)
      .map(r => r -> VSScoring.cosine(r.vector, sp.vector))
      .sortBy { case (r, s) => (-s, r.id) }.take(sp.k)
    val streamed = VSScoring.topKStreaming(recs.iterator, sp)
    assert(streamed.map(_._1.id) == full.map(_._1.id))
    assert(streamed.map(_._2).zip(full.map(_._2)).forall { case (a, b) => math.abs(a - b) < 1e-9 })
    // planted exact duplicates: selection is id-deterministic at the boundary
    val dup = (0 until 20).map(i => VSRecord(s"d$i", Array(1f, 0f), Map.empty))
    val topDup = VSScoring.topKStreaming(dup.iterator, SearchSpec(Array(1f, 0f), 5))
    assert(topDup.map(_._1.id) == Seq("d0", "d1", "d10", "d11", "d12"))
    // hamming face through the same heap
    val bins = (0 until 16).map(i => VSRecord(s"b$i", null, Map.empty, binary = Array(i.toByte)))
    val topBin = VSScoring.topKStreaming(bins.iterator,
      SearchSpec(null, 3, metric = "hamming", binary = Array(0.toByte)))
    assert(topBin.map(_._1.id) == Seq("b0", "b1", "b2"))
    assert(topBin.map(_._2) == Seq(0.0, 1.0, 1.0))
    assert(VSScoring.topKStreaming(recs.iterator, SearchSpec(Array(1f, 0f), 0)).isEmpty)
  }

  test("filtered offset scan sizes ranges from the filtered count (milvus wire)") {
    val server = new MilvusWireServer(new InMemoryStore)
    try {
      val url = server.url
      (0 until 400).map(i =>
        (s"m$i", Seq.fill(4)(i.toFloat), Map("cat" -> s"c${i % 100}")))
        .toDF(Canonical.ID, Canonical.VECTOR, Canonical.METADATA)
        .write.format("graft-milvus").option("collection", "fcount")
        .option("url", url).option("recreate", "true").mode("overwrite").save()
      val mark = server.requestLines.size
      val df = spark.read.format("graft-milvus").option("collection", "fcount")
        .option("url", url).option("page_size", "50").load()
        .filter(element_at(col("metadata"), "cat") === "c7")
      assert(df.select("id").collect().map(_.getString(0)).sorted.toSeq ==
        Seq("m107", "m207", "m307", "m7"))
      // offsets index the FILTERED sequence on this wire, so ranges must
      // cover the filtered count (4 rows → 1 page): sizing from the raw
      // 400 would have planned 8 offset pages, 7 of them empty wire calls
      val rowQueries = server.requestLines.drop(mark)
        .count(_.startsWith("POST /v2/vectordb/entities/query"))
      assert(rowQueries <= 5, s"too many entities/query wire calls: $rowQueries")
    } finally server.stop()
  }

  test("filtered scan reports the FILTERED row estimate (broadcast planning)") {
    val server = new MilvusWireServer(new InMemoryStore)
    try {
      (0 until 300).map(i =>
        (s"s$i", Seq.fill(4)(i.toFloat), Map("cat" -> s"c${i % 100}")))
        .toDF(Canonical.ID, Canonical.VECTOR, Canonical.METADATA)
        .write.format("graft-milvus").option("collection", "statf")
        .option("url", server.url).option("recreate", "true").mode("overwrite").save()
      def stats(filtered: Boolean): BigInt = {
        val base = spark.read.format("graft-milvus").option("collection", "statf")
          .option("url", server.url).load()
        val df = if (filtered)
          base.filter(element_at(col(Canonical.METADATA), "cat") === "c7") else base
        df.queryExecution.optimizedPlan.stats.rowCount
          .getOrElse(df.queryExecution.optimizedPlan.stats.sizeInBytes / 48)
      }
      // a 300-row collection filtered to 3 must plan as ~3 rows, not 300 —
      // the difference between broadcasting this side of a join and not
      assert(stats(filtered = false) >= 300)
      assert(stats(filtered = true) <= 30, s"filtered estimate too big: ${stats(true)}")
    } finally server.stop()
  }

  test("milvus wire count(*) honors the filter expr like real milvus") {
    val server = new MilvusWireServer(new InMemoryStore)
    try {
      val t = new MilvusWireTransport(server.url)
      t.createCollection("fcnt", CollectionConfig(dim = 2), recreate = true)
      t.upsert("fcnt", (0 until 10).map(i =>
        VSRecord(s"c$i", Array(1f, 2f), Map("par" -> (i % 2).toString))))
      assert(t.count("fcnt") == 10)
      assert(t.countFiltered("fcnt", Some("par == '1'")) == 5)
      assert(t.countFiltered("fcnt", None) == 10)
    } finally server.stop()
  }

  test("catalog CREATE TABLE accepts distance aliases like the write face") {
    spark.conf.set("spark.sql.catalog.vs_cat_t", classOf[VSCatalog].getName)
    spark.conf.set("spark.sql.catalog.vs_cat_t.backend", "qdrant")
    VectorStore.drop("alias_ok"); VectorStore.drop("alias_bad")
    spark.sql(
      """CREATE TABLE vs_cat_t.alias_ok (id STRING, vector ARRAY<FLOAT>,
        |metadata MAP<STRING, STRING>) TBLPROPERTIES('distance'='cosine')""".stripMargin)
    assert(VectorStore.config("alias_ok").exists(_.distance == "Cosine"))
    val bad = intercept[Exception] {
      spark.sql(
        """CREATE TABLE vs_cat_t.alias_bad (id STRING, vector ARRAY<FLOAT>,
          |metadata MAP<STRING, STRING>) TBLPROPERTIES('distance'='chebyshev')""".stripMargin)
    }
    assert(bad.getMessage.contains("unsupported distance"))
    spark.sql("DROP TABLE vs_cat_t.alias_ok")
  }

  test("FilterEval string order is Spark's UTF-8 byte order, not UTF-16") {
    // U+1F600 (a supplementary char, UTF-16 surrogates D83D DE00) vs
    // U+FFFF: Java String.compareTo says surrogate < FFFF, UTF-8 byte
    // order (Spark's UTF8String) says the opposite. A store-side range
    // filter in the wrong order passes rows Spark's retained plan Filter
    // then drops AFTER top-k selection — evicting genuine winners.
    val hi = "￿"
    val emoji = "😀"
    assert(emoji.compareTo(hi) < 0) // the UTF-16 trap exists…
    val r = VSRecord("1", null, Map("s" -> emoji))
    val gt = GreaterThan("metadata.s", hi)
    assert(FilterEval.eval(gt, r), "eval must use UTF-8 byte order")
    assert(FilterEval.eval3(gt, r).contains(true))
    assert(!FilterEval.eval(LessThan("metadata.s", hi), r))
    // …and Spark itself agrees with the store-side verdict
    import spark.implicits._
    val sparkSays = Seq(emoji).toDF("s").filter(col("s") > lit(hi)).count()
    assert(sparkSays == 1L)
  }
}
