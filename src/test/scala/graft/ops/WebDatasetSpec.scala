package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** WebDataset tar shards: write → read → regroup must round-trip every
  * byte, shard assignment must be deterministic, and the decoded image
  * features of shard-packed PNGs must equal the direct decode — the
  * multimodal corpus layout face of the pipeline. */
class WebDatasetSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  test("pack/read round trip: every member byte-identical, samples regroup") {
    val n = 40L
    val ids = (0L until n).map(d => (d, s"t$d")).toDF("doc_id", "text")
    // one PNG + one JSON member per sample, like a real image corpus
    val samples = Multimodal.imageTable(ids)
      .select(col("media_id").cast("string").as("key"),
        map(lit("png"), col("content"),
          lit("json"), encode(concat(lit("""{"id":"""),
            col("media_id"), lit("}")), "UTF-8")).as("files"))
    val dir = tmp("wds_rt")
    val written = WebDataset.writeShards(samples, dir, numShards = 4)
    assert(written == n)
    val shardFiles = new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).sorted // drop Hadoop's .crc sidecars
    assert(shardFiles.forall(_.matches("shard-\\d{5}\\.tar")), shardFiles.mkString(","))
    assert(shardFiles.length >= 2, "keys should spread over several shards")

    val members = WebDataset.readShards(spark, s"$dir/*.tar")
    assert(members.count() == 2 * n) // png + json per sample
    assert(members.select("ext").distinct().as[String].collect().toSet ==
      Set("png", "json"))
    val grouped = WebDataset.groupSamples(members)
    assert(grouped.count() == n)
    assert(grouped.filter(col("n_members") =!= 2).isEmpty)

    // bytes survive exactly: decode the shard-packed PNGs and compare
    // EVERY feature against the direct (never-tarred) decode
    val viaShards = grouped
      .select(col("key").cast("long").as("media_id"),
        element_at(col("files"), "png").as("content"),
        struct(lit("image/png").as("mime"), lit(0L).as("byte_len"),
          lit("").as("sha256")).as("meta"))
    val packed = Multimodal.extractImageFeatures(viaShards)
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val direct = Multimodal.extractImageFeatures(Multimodal.imageTable(ids))
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(packed == direct)
    // the JSON member round-trips too
    val j = grouped.filter(col("key") === "7")
      .select(decode(element_at(col("files"), "json"), "UTF-8")).as[String].head()
    assert(j == """{"id":7}""", j)
  }

  test("empty round trip: writeShards of no samples, readShards gives 0 rows and the same schema") {
    val samples = Seq(("k1", Map("txt" -> "one".getBytes("UTF-8")))).toDF("key", "files")
    val full = tmp("wds_full")
    WebDataset.writeShards(samples, full, numShards = 2)
    val empty = tmp("wds_empty")
    assert(WebDataset.writeShards(samples.limit(0), empty, numShards = 2) == 0L)
    val read = WebDataset.readShards(spark, s"$empty/*.tar")
    assert(read.collect().isEmpty)
    assert(read.schema == WebDataset.readShards(spark, s"$full/*.tar").schema)
  }

  test("shard assignment is deterministic and repartition-proof") {
    val s1 = (0 until 100).map(i => WebDataset.shardOf(s"key$i", 8))
    val s2 = (0 until 100).map(i => WebDataset.shardOf(s"key$i", 8))
    assert(s1 == s2)
    assert(s1.distinct.size > 1, "keys all landed in one shard")
    // a re-written corpus lands byte-identical shard membership
    val samples = (0L until 30L).map(d => (s"k$d", Map("txt" -> s"doc $d".getBytes("UTF-8"))))
      .toDF("key", "files")
    val d1 = tmp("wds_det1"); val d2 = tmp("wds_det2")
    WebDataset.writeShards(samples, d1, 4)
    WebDataset.writeShards(samples.repartition(7), d2, 4)
    def membership(d: String): Map[String, String] =
      WebDataset.readShards(spark, s"$d/*.tar")
        .select("key", "shard").as[(String, String)].collect().toMap
    assert(membership(d1) == membership(d2))
  }

  test("sample keys split on the FIRST dot; directories and re-runs behave") {
    val samples = Seq(
      ("a/000001", Map("seg.png" -> Array[Byte](1, 2), "json" -> Array[Byte](3))),
      ("a/000002", Map("txt" -> Array[Byte](4))))
      .toDF("key", "files")
    val dir = tmp("wds_keys")
    WebDataset.writeShards(samples, dir, 1)
    val m = WebDataset.readShards(spark, s"$dir/*.tar")
      .select("key", "ext", "byte_len").as[(String, String, Long)].collect().toSet
    assert(m == Set(("a/000001", "seg.png", 2L), ("a/000001", "json", 1L),
      ("a/000002", "txt", 1L)), m.toString)
    // overwrite in place: re-run replaces, never appends a second copy
    WebDataset.writeShards(samples, dir, 1)
    assert(WebDataset.readShards(spark, s"$dir/*.tar").count() == 3)
  }

  test("overwrite=true reaps stale shards and orphaned .inprogress temps; default keeps them") {
    val samples = (0L until 20L)
      .map(d => (s"k$d", Map("txt" -> s"doc $d".getBytes("UTF-8"))))
      .toDF("key", "files")
    val dir = tmp("wds_ow")
    WebDataset.writeShards(samples, dir, numShards = 8)
    val before = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.matches("shard-\\d{5}\\.tar")).toSet
    assert(before.size > 1, before.toString)
    // plant a crashed attempt's orphan temp: attempt-unique names mean
    // nothing in a later run would ever rename or collide with it
    val orphan = new java.io.File(dir, ".shard-00000.tar.99.inprogress")
    java.nio.file.Files.write(orphan.toPath, Array[Byte](1, 2, 3))
    // a SMALLER re-run without overwrite leaves stale shards + the orphan
    val one = samples.limit(1)
    WebDataset.writeShards(one, dir, numShards = 8)
    assert(new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.matches("shard-\\d{5}\\.tar")).toSet == before)
    assert(orphan.exists())
    // overwrite=true: exactly this run's shards survive, orphan reaped
    WebDataset.writeShards(one, dir, numShards = 8, overwrite = true)
    val after = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.matches("shard-\\d{5}\\.tar")).toSet
    assert(after.size == 1, after.toString)
    assert(!orphan.exists(), "orphaned .inprogress temp must be reaped")
    assert(WebDataset.readShards(spark, s"$dir/*.tar").count() == 1)
  }

  test("webdataset connector: config-driven corpus -> vector store -> corpus round trip") {
    val root = tmp("wds_conn")
    // seed a corpus through the MIGRATOR from the embeddings parquet
    val toWds = graft.config.MigrationConfig.fromJson(
      s"""{"source": {"type": "parquet", "connection": {"path": "${sf()}"},
         |            "query": {"table_name": "embeddings", "id_column": "vec_id",
         |                      "vector_column": "embedding",
         |                      "metadata_columns": ["label"], "limit": 50}},
         | "target": {"type": "webdataset", "connection": {"path": "$root"},
         |            "load": {"collection": "corpus", "recreate": true,
         |                     "num_shards": "4"}}}""".stripMargin)
    val r1 = new graft.core.Migrator(spark).run(toWds)
    assert(r1.success, r1.error)
    assert(r1.written == 50, r1.toString)
    // shards on disk, readable raw
    assert(WebDataset.readShards(spark, s"$root/corpus/*.tar")
      .filter(org.apache.spark.sql.functions.col("ext") === "vec.json").count() == 50)
    // corpus -> memory store, then compare against the original parquet rows
    val coll = "wds_rt_mem"
    graft.connectors.MemoryStore.drop(coll)
    val toMem = graft.config.MigrationConfig.fromJson(
      s"""{"source": {"type": "webdataset", "connection": {"path": "$root"},
         |            "query": {"table_name": "corpus"}},
         | "target": {"type": "memory", "connection": {},
         |            "load": {"collection": "$coll", "recreate": true}}}""".stripMargin)
    val r2 = new graft.core.Migrator(spark).run(toMem)
    assert(r2.success, r2.error)
    def canonMap(df: org.apache.spark.sql.DataFrame): Map[String, (Seq[Float], Map[String, String])] =
      df.collect().map(r => r.getString(0) ->
        ((Option(r.getSeq[Float](1)).map(_.toSeq).orNull,
          r.getAs[Map[String, String]](2)))).toMap
    val got = canonMap(graft.connectors.ConnectorRegistry("memory")
      .read(spark, Map.empty, graft.config.QuerySpec(collection = coll)))
    val want = canonMap(graft.connectors.ConnectorRegistry("parquet")
      .read(spark, Map("path" -> sf()), graft.config.QuerySpec(
        collection = "embeddings", idColumn = "vec_id",
        vectorColumn = Some("embedding"), metadataColumns = Seq("label"),
        limit = Some(50))))
    assert(got.keySet == want.keySet, s"${got.size} vs ${want.size}")
    // vectors survive the JSON member bit-exactly (Float.toString round
    // trips), metadata survives the json member verbatim
    got.foreach { case (id, (vec, meta)) =>
      assert(vec == want(id)._1, s"$id vector drifted")
      assert(meta == want(id)._2, s"$id metadata drifted: $meta vs ${want(id)._2}")
    }
  }

  test("typed json values survive a read -> write round trip (42 stays a number)") {
    val root = tmp("wds_typed")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // foreign corpus with a TYPED json member: number, boolean, nested
    // object, and a genuine string that merely looks numeric
    val json = """{"count": 42, "score": 4.5, "flag": true,
                  |"nested": {"a": [1, 2]}, "zip": "01234", "note": null}"""
      .stripMargin.replaceAll("\n", " ")
    WebDataset.writeShards(Seq(
      ("t1", Map("json" -> json.getBytes("UTF-8"))))
      .toDF("key", "files"), s"$root/src", 1)
    val c = graft.connectors.ConnectorRegistry("webdataset")
    val meta = c.read(spark, Map("path" -> root),
        graft.config.QuerySpec(collection = "src"))
      .head().getAs[Map[String, String]](2)
    // the string map carries JSON serializations + the typed-key record
    assert(meta("count") == "42" && meta("flag") == "true" &&
      meta("zip") == "01234" && meta("note") == null, meta.toString)
    val typed = mapper.readTree(meta("__typed"))
    assert((0 until typed.size()).map(typed.get(_).asText()).toSet ==
      Set("count", "score", "flag", "nested"), meta("__typed"))
    // export: the json member must carry the ORIGINAL value kinds back
    c.write(c.read(spark, Map("path" -> root),
        graft.config.QuerySpec(collection = "src")),
      Map("path" -> root),
      graft.config.LoadSpec(collection = "out", recreate = true))
    val outJson = WebDataset.readShards(spark, s"$root/out/*.tar")
      .filter(col("ext") === "json").head().getAs[Array[Byte]]("content")
    val n = mapper.readTree(new String(outJson, "UTF-8"))
    assert(n.get("count").isIntegralNumber && n.get("count").asInt() == 42, n.toString)
    assert(n.get("score").isDouble || n.get("score").isFloatingPointNumber, n.toString)
    assert(n.get("flag").isBoolean && n.get("flag").asBoolean(), n.toString)
    assert(n.get("nested").isObject && n.get("nested").get("a").isArray, n.toString)
    assert(n.get("zip").isTextual && n.get("zip").asText() == "01234", n.toString)
    assert(n.get("note").isNull, n.toString)
    assert(!n.has("__typed"), "the type tag must be consumed, not re-exported")
    // and a SECOND round trip is stable (read of our own export re-derives
    // the same typed-key set)
    val meta2 = c.read(spark, Map("path" -> root),
        graft.config.QuerySpec(collection = "out"))
      .head().getAs[Map[String, String]](2)
    assert(meta2 == meta, s"$meta2 vs $meta")
    // a FOREIGN metadata map (another connector's) whose user key happens
    // to be named __typed but is not our JSON key array: exported as the
    // ordinary string it is — neither a task failure nor a silent drop
    val foreign = Seq(("f1", Seq(1.0f), Map("__typed" -> "hello", "k" -> "v")))
      .toDF(graft.model.Canonical.ID, graft.model.Canonical.VECTOR,
        graft.model.Canonical.METADATA)
    c.write(foreign, Map("path" -> root),
      graft.config.LoadSpec(collection = "foreign", recreate = true,
        options = Map("num_shards" -> "1")))
    val fj = WebDataset.readShards(spark, s"$root/foreign/*.tar")
      .filter(col("ext") === "json").head().getAs[Array[Byte]]("content")
    val fn = mapper.readTree(new String(fj, "UTF-8"))
    assert(fn.get("__typed").isTextual && fn.get("__typed").asText() == "hello",
      fn.toString)
    assert(fn.get("k").asText() == "v")
    // STRICTER: a foreign __typed that PARSES as a JSON array but does not
    // name present metadata keys (e.g. "[1,2]", "[\"ghost\"]", "[]") is
    // still the user's data — previously it was eaten as a type tag and
    // its listed siblings JSON-reparsed, silently mutating foreign metadata
    for (v <- Seq("[1,2]", """["ghost"]""", "[]")) {
      val f2 = Seq(("f2", Seq(1.0f), Map("__typed" -> v, "k" -> "007")))
        .toDF(graft.model.Canonical.ID, graft.model.Canonical.VECTOR,
          graft.model.Canonical.METADATA)
      c.write(f2, Map("path" -> root),
        graft.config.LoadSpec(collection = "foreign2", recreate = true,
          options = Map("num_shards" -> "1")))
      val j2 = WebDataset.readShards(spark, s"$root/foreign2/*.tar")
        .filter(col("ext") === "json").head().getAs[Array[Byte]]("content")
      val n2 = mapper.readTree(new String(j2, "UTF-8"))
      assert(n2.get("__typed").isTextual && n2.get("__typed").asText() == v,
        s"$v -> ${n2.toString}")
      // the sibling stays the string it was, never JSON-reparsed to 7
      assert(n2.get("k").isTextual && n2.get("k").asText() == "007", n2.toString)
    }
    // a STALE tag (a transform dropped listed key 'a') must not void the
    // round trip for the surviving key nor leak the tag into the export
    val stale = Seq(("fs", Seq(1.0f), Map("__typed" -> """["a","k"]""", "k" -> "7")))
      .toDF(graft.model.Canonical.ID, graft.model.Canonical.VECTOR,
        graft.model.Canonical.METADATA)
    c.write(stale, Map("path" -> root),
      graft.config.LoadSpec(collection = "stale_tag", recreate = true,
        options = Map("num_shards" -> "1")))
    val js = WebDataset.readShards(spark, s"$root/stale_tag/*.tar")
      .filter(col("ext") === "json").head().getAs[Array[Byte]]("content")
    val ns = mapper.readTree(new String(js, "UTF-8"))
    assert(!ns.has("__typed") && ns.get("k").isIntegralNumber
      && ns.get("k").asInt() == 7, ns.toString)
    // and a __typed naming a PRESENT key is still honored (our own tag)
    val f3 = Seq(("f3", Seq(1.0f), Map("__typed" -> """["k"]""", "k" -> "7")))
      .toDF(graft.model.Canonical.ID, graft.model.Canonical.VECTOR,
        graft.model.Canonical.METADATA)
    c.write(f3, Map("path" -> root),
      graft.config.LoadSpec(collection = "foreign3", recreate = true,
        options = Map("num_shards" -> "1")))
    val j3 = WebDataset.readShards(spark, s"$root/foreign3/*.tar")
      .filter(col("ext") === "json").head().getAs[Array[Byte]]("content")
    val n3 = mapper.readTree(new String(j3, "UTF-8"))
    assert(!n3.has("__typed") && n3.get("k").isIntegralNumber, n3.toString)
  }

  test("webdataset connector reads a FOREIGN caption corpus: txt member -> text") {
    val root = tmp("wds_foreign")
    val samples = Seq(
      ("cap1", Map("txt" -> "a photo of a cat".getBytes("UTF-8"),
        "jpg" -> Array[Byte](1, 2, 3))),
      ("cap2", Map("txt" -> "a dog on grass".getBytes("UTF-8"))))
      .toDF("key", "files")
    WebDataset.writeShards(samples, s"$root/captions", 1)
    val recs = graft.connectors.ConnectorRegistry("webdataset")
      .read(spark, Map("path" -> root), graft.config.QuerySpec(collection = "captions"))
      .collect().map(r => r.getString(0) ->
        ((Option(r.getSeq[Float](1)).orNull, r.getAs[Map[String, String]](2)))).toMap
    assert(recs("cap1")._1 == null) // no vec.json member -> null vector
    assert(recs("cap1")._2("text") == "a photo of a cat")
    assert(recs("cap1")._2("__members") == "jpg") // payload presence recorded
    assert(recs("cap2")._2 == Map("text" -> "a dog on grass"))
  }

  test("a corpus with a duplicated key.ext fails LOUDLY at regroup, never merges silently") {
    val dir = tmp("wds_dup")
    WebDataset.writeShards(
      Seq(("k1", Map("txt" -> "first copy".getBytes("UTF-8")))).toDF("key", "files"),
      dir, 1)
    // forge the contract violation: the same key.ext in a second shard
    val src = java.nio.file.Paths.get(dir, "shard-00000.tar")
    java.nio.file.Files.copy(src, java.nio.file.Paths.get(dir, "shard-00001.tar"))
    val e = intercept[Exception] {
      WebDataset.groupSamples(WebDataset.readShards(spark, s"$dir/*.tar")).collect()
    }
    assert(String.valueOf(e.getMessage).contains("DUPLICATE"), e.getMessage)
  }

  test("connector write without recreate refuses to interleave shard generations") {
    val root = tmp("wds_norecreate")
    val recs = Seq(("1", Seq(1.0f), Map("k" -> "v")))
      .toDF(graft.model.Canonical.ID, graft.model.Canonical.VECTOR,
        graft.model.Canonical.METADATA)
    val c = graft.connectors.ConnectorRegistry("webdataset")
    c.write(recs, Map("path" -> root),
      graft.config.LoadSpec(collection = "c1", recreate = true,
        options = Map("num_shards" -> "2")))
    val e = intercept[graft.config.ConfigException] {
      c.write(recs, Map("path" -> root),
        graft.config.LoadSpec(collection = "c1", recreate = false))
    }
    assert(e.getMessage.contains("no append semantics"), e.getMessage)
  }

  test("__members never survives an export: re-exported corpora claim only real members") {
    val root = tmp("wds_members")
    // foreign corpus with a binary member -> read lifts __members
    WebDataset.writeShards(Seq(
      ("m1", Map("txt" -> "caption".getBytes("UTF-8"), "jpg" -> Array[Byte](9))))
      .toDF("key", "files"), s"$root/src", 1)
    val c = graft.connectors.ConnectorRegistry("webdataset")
    val recs = c.read(spark, Map("path" -> root),
      graft.config.QuerySpec(collection = "src"))
    assert(recs.head().getAs[Map[String, String]](2)("__members") == "jpg")
    // export those records (payload bytes are NOT carried by canonical
    // records) and re-read: no phantom member claim
    c.write(recs, Map("path" -> root),
      graft.config.LoadSpec(collection = "dst", recreate = true,
        options = Map("num_shards" -> "1")))
    val back = c.read(spark, Map("path" -> root),
      graft.config.QuerySpec(collection = "dst"))
    val meta = back.head().getAs[Map[String, String]](2)
    assert(!meta.contains("__members"), meta.toString)
    assert(meta("text") == "caption")
  }

  test("pass-4 hygiene: dot ids refused, null metadata round-trips, txt traced, num_shards validated") {
    val root = tmp("wds_p4")
    val c = graft.connectors.ConnectorRegistry("webdataset")
    // ids with dots would corrupt on the first-dot key split: refuse
    val dotted = Seq(("a.1", Seq(1.0f), Map("k" -> "v")))
      .toDF(graft.model.Canonical.ID, graft.model.Canonical.VECTOR,
        graft.model.Canonical.METADATA)
    val e = intercept[org.apache.spark.SparkException] {
      c.write(dotted, Map("path" -> root),
        graft.config.LoadSpec(collection = "dots", recreate = true))
    }
    assert(String.valueOf(e.getMessage) != null)
    // a JSON null metadata value must read back as null, not "null"
    val nulled = Seq(("n1", Seq(1.0f), Map("k" -> null.asInstanceOf[String], "j" -> "x")))
      .toDF(graft.model.Canonical.ID, graft.model.Canonical.VECTOR,
        graft.model.Canonical.METADATA)
    c.write(nulled, Map("path" -> root),
      graft.config.LoadSpec(collection = "nulls", recreate = true,
        options = Map("num_shards" -> "1")))
    val m = c.read(spark, Map("path" -> root),
        graft.config.QuerySpec(collection = "nulls"))
      .head().getAs[Map[String, String]](2)
    assert(m("j") == "x" && m.contains("k") && m("k") == null, m.toString)
    // an UNLIFTED txt member (json already has text) leaves a __members trace
    WebDataset.writeShards(Seq(
      ("t1", Map("json" -> """{"text":"clean"}""".getBytes("UTF-8"),
        "txt" -> "raw caption".getBytes("UTF-8"))))
      .toDF("key", "files"), s"$root/shadowtxt", 1)
    val meta = c.read(spark, Map("path" -> root),
        graft.config.QuerySpec(collection = "shadowtxt"))
      .head().getAs[Map[String, String]](2)
    assert(meta("text") == "clean" && meta("__members") == "txt", meta.toString)
    // malformed num_shards is a config error
    intercept[graft.config.ConfigException] {
      c.write(nulled, Map("path" -> root),
        graft.config.LoadSpec(collection = "bad", recreate = true,
          options = Map("num_shards" -> "4x")))
    }
  }
}