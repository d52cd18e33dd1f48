package graft.core

import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.config.MigrationConfig
import graft.connectors.MemoryStore
import graft.model.Canonical

class MigratorSpec extends SparkSpec {

  private def cfg(extraQuery: String = "", targetColl: String = "out"): MigrationConfig =
    MigrationConfig.fromJson(
      s"""{"source": {"type": "parquet", "connection": {"path": "${sf()}"},
         |            "query": {"table_name": "embeddings", "id_column": "vec_id",
         |                      "vector_column": "embedding",
         |                      "metadata_columns": ["label"]$extraQuery}},
         | "target": {"type": "memory", "connection": {},
         |            "load": {"collection": "$targetColl", "recreate": true}}}""".stripMargin)

  test("parquet -> memory migration moves every record in canonical shape") {
    val report = new Migrator(spark).run(cfg(targetColl = "m1"))
    assert(report.success, report.error)
    assert(report.written == 500) // sf0.001 embeddings row count
    val (rows, _) = MemoryStore.get("m1").get
    assert(rows.length == 500)
    val r = rows.find(_.getString(0) == "7").get
    assert(r.getAs[scala.collection.Seq[Float]](Canonical.VECTOR).length == 64)
    assert(r.getAs[Map[String, String]](Canonical.METADATA).contains("label"))
  }

  test("run report carries observe-based QA metrics from the write action") {
    val report = new Migrator(spark).run(cfg(targetColl = "mobs"))
    assert(report.success)
    assert(report.metrics.get("rows").contains("500"))
    assert(report.metrics.get("null_vectors").contains("0"))
    assert(report.metrics.get("null_ids").contains("0"))
    assert(report.metrics.get("avg_dim").contains("64.0"))
  }

  test("query limit + filter are honored") {
    val report = new Migrator(spark).run(
      cfg(extraQuery = """, "limit": 10, "filter_condition": "label > 5"""", targetColl = "m2"))
    assert(report.success)
    assert(report.written == 10)
    val (rows, _) = MemoryStore.get("m2").get
    assert(rows.forall(_.getAs[Map[String, String]](Canonical.METADATA)("label").toInt > 5))
  }

  test("empty extract aborts before touching the target (core/migrator.py:71-74)") {
    MemoryStore.drop("never")
    val report = new Migrator(spark).run(
      cfg(extraQuery = """, "filter_condition": "label > 99999"""", targetColl = "never"))
    assert(!report.success)
    assert(report.error.exists(_.contains("no data")))
    assert(MemoryStore.get("never").isEmpty)
  }

  test("failing transform aborts the migration (core/migrator.py:79-87)") {
    val report = new Migrator(spark).run(cfg(targetColl = "never2"),
      transform = Some(_ => throw new RuntimeException("boom")))
    assert(!report.success)
    assert(report.error.exists(_.contains("boom")))
  }

  test("transform is applied between read and write (add_source_tracking semantics)") {
    val report = new Migrator(spark).run(cfg(targetColl = "m3"),
      transform = Some(df => df.withColumn(Canonical.METADATA,
        map_concat(col(Canonical.METADATA), map(lit("source_db"), lit("pgvector"))))))
    assert(report.success)
    val (rows, _) = MemoryStore.get("m3").get
    assert(rows.forall(_.getAs[Map[String, String]](Canonical.METADATA)("source_db") == "pgvector"))
  }

  test("unknown connector type names the valid ones (core/migrator.py:31-36)") {
    val e = intercept[graft.config.ConfigException] {
      new Migrator(spark).run(MigrationConfig.fromJson(
        """{"source": {"type": "sqlite", "connection": {}, "query": {"collection": "x"}},
          | "target": {"type": "memory", "connection": {}, "load": {"collection": "y"}}}""".stripMargin))
    }
    assert(e.getMessage.contains("sqlite") && e.getMessage.contains("pgvector"))
  }

  test("incremental migration ships only new/changed records (README.md:286 future work)") {
    // full load of 100 records
    val full = cfg(extraQuery = """, "limit": 100""", targetColl = "inc1")
    assert(new Migrator(spark).run(full).success)
    assert(MemoryStore.get("inc1").get._1.length == 100)
    // re-run incrementally over a 120-record source: only the 20 new ship
    val wider = MigrationConfig.fromJson(
      s"""{"source": {"type": "parquet", "connection": {"path": "${sf()}"},
         |            "query": {"table_name": "embeddings", "id_column": "vec_id",
         |                      "vector_column": "embedding",
         |                      "metadata_columns": ["label"], "limit": 120}},
         | "target": {"type": "memory", "connection": {},
         |            "load": {"collection": "inc1"}}}""".stripMargin)
    val report = IncrementalMigrator.run(spark, wider)
    assert(report.success)
    assert(report.written == 20, report)
    assert(MemoryStore.get("inc1").get._1.length == 120)
    // idempotent: nothing changed -> empty delta, zero records written
    val again = IncrementalMigrator.run(spark, wider)
    assert(again.success && again.written == 0, again)
    assert(MemoryStore.get("inc1").get._1.length == 120)
    // deletion detection: a narrower source exposes the ids to retire
    val narrowSource = graft.connectors.ConnectorRegistry("parquet")
      .read(spark, Map("path" -> sf()), graft.config.QuerySpec(
        collection = "embeddings", idColumn = "vec_id",
        vectorColumn = Some("embedding"), limit = Some(110)))
    val target = graft.connectors.ConnectorRegistry("memory")
      .read(spark, Map.empty, graft.config.QuerySpec(collection = "inc1"))
    assert(IncrementalMigrator.deletedIds(narrowSource, target).count() == 10)
  }

  /** Ids that `changedRecords` ships when each id's target row is the
    * second vector/metadata pair and its source row the first. */
  private def shipped(pairs: (String, (Array[Float], Map[String, String]),
      (Array[Float], Map[String, String]))*): Set[String] = {
    import org.apache.spark.sql.types._
    def frame(side: Int) = spark.createDataFrame(
      java.util.Arrays.asList(pairs.map { case (id, a, b) =>
        val (v, m) = if (side == 0) a else b
        org.apache.spark.sql.Row(id, Option(v).map(_.toSeq).orNull,
          Option(m).map(x => scala.collection.immutable.ListMap(x.toSeq: _*)).orNull)
      }: _*), Canonical.schema)
    IncrementalMigrator.changedRecords(frame(0), frame(1))
      .collect().map(_.getString(0)).toSet
  }

  test("re-sync diff: metadata key order does not count as a change") {
    val v = Array(1f, 2f)
    assert(shipped(
      ("ab", (v, Map("a" -> "1", "b" -> "2")), (v, Map("b" -> "2", "a" -> "1"))),
      ("abc", (v, Map("a" -> "1", "b" -> "2", "c" -> "3")),
        (v, Map("c" -> "3", "a" -> "1", "b" -> "2")))).isEmpty)
  }

  test("re-sync diff: a null vector or map differs from an empty one") {
    val v = Array(1f, 2f)
    val m = Map("a" -> "1")
    assert(shipped(
      ("vec", (null, m), (Array.empty[Float], m)),
      ("vec2", (Array.empty[Float], m), (null, m)),
      ("map", (v, null), (v, Map.empty[String, String])),
      ("map2", (v, Map.empty[String, String]), (v, null)),
      ("same", (null, null), (null, null)),
      ("val", (v, Map("a" -> null)), (v, Map("a" -> ""))),
      ("moved", (Array(1f, 0f), m), (Array(0f, 1f), m))) ==
      Set("vec", "vec2", "map", "map2", "val", "moved"))
  }

  test("re-sync diff: -0.0 and 0.0 hash alike (DEPLOYMENT.md), other bits do not") {
    val m = Map("a" -> "1")
    assert(shipped(
      ("zero", (Array(-0f, 1f), m), (Array(0f, 1f), m)),
      ("nan", (Array(Float.NaN), m), (Array(java.lang.Float.intBitsToFloat(0x7fc00001)), m)),
      ("ulp", (Array(1f), m), (Array(Math.nextUp(1f)), m))) == Set("ulp"))
  }

  test("incremental is idempotent on a parquet target WITH metadata (map round trip)") {
    // the read-back used to drop the stored metadata map (Canonical.from
    // with no metadata columns emptied it), hash-mismatching EVERY row so
    // each "incremental" run re-appended the full collection
    val tmp = java.nio.file.Files.createTempDirectory("graft-incmeta").toString
    def cfg(limit: Int) = MigrationConfig.fromJson(
      s"""{"source": {"type": "parquet", "connection": {"path": "${sf()}"},
         |            "query": {"table_name": "embeddings", "id_column": "vec_id",
         |                      "vector_column": "embedding",
         |                      "metadata_columns": ["label"], "limit": $limit}},
         | "target": {"type": "parquet", "connection": {"path": "$tmp"},
         |            "load": {"collection": "inc_meta"}}}""".stripMargin)
    def targetCount() = spark.read.parquet(s"$tmp/inc_meta.parquet").count()
    val first = IncrementalMigrator.run(spark, cfg(100))
    assert(first.success && targetCount() == 100, first)
    // identical re-run: the delta must be EMPTY — metadata map and vector
    // hash equal through the parquet round trip (the observe metric is the
    // per-run row count; parquet's WriteReport counts the whole dir in
    // append mode by documented design)
    val again = IncrementalMigrator.run(spark, cfg(100))
    assert(again.success && again.metrics("rows") == "0", again)
    assert(targetCount() == 100)
    // widening ships only the new rows
    val wider = IncrementalMigrator.run(spark, cfg(120))
    assert(wider.success && wider.metrics("rows") == "20", wider)
    assert(targetCount() == 120)
  }

  test("incremental is idempotent on csv AND json targets WITH metadata (readBack)") {
    // csv flattens metadata to a to_json STRING, json round-trips the map
    // as an inferred STRUCT — both used to read back as an EMPTY map,
    // hash-mismatching every row so each incremental re-appended the
    // whole collection (and csv/json are insert-only, so that also
    // DUPLICATED every id). readBack restores the canonical map.
    for (fmt <- Seq("csv", "json")) {
      val tmp = java.nio.file.Files.createTempDirectory(s"graft-inc$fmt").toString
      def c(limit: Int) = MigrationConfig.fromJson(
        s"""{"source": {"type": "parquet", "connection": {"path": "${sf()}"},
           |            "query": {"table_name": "embeddings", "id_column": "vec_id",
           |                      "vector_column": "embedding",
           |                      "metadata_columns": ["label"], "limit": $limit}},
           | "target": {"type": "$fmt", "connection": {"path": "$tmp"},
           |            "load": {"collection": "inc_t"}}}""".stripMargin)
      assert(IncrementalMigrator.run(spark, c(100)).success)
      val again = IncrementalMigrator.run(spark, c(100))
      assert(again.success && again.metrics("rows") == "0",
        s"$fmt re-run shipped ${again.metrics.get("rows")} rows — readBack lost data")
      val wider = IncrementalMigrator.run(spark, c(120))
      assert(wider.success && wider.metrics("rows") == "20", s"$fmt: $wider")
      // and no id was ever duplicated on the insert-only sink
      val back = graft.connectors.ConnectorRegistry(fmt)
        .readBack(spark, Map("path" -> tmp),
          graft.config.LoadSpec(collection = "inc_t"))
      assert(back.count() == 120 && back.select("id").distinct().count() == 120)
      // metadata survived the round trip in canonical shape
      assert(back.filter(element_at(col("metadata"), "label").isNotNull).count() == 120)
    }
  }

  test("insert-only sinks withhold CHANGED records instead of duplicating ids") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-withheld").toString
    val v1 = s"$tmp/src_v1"
    Seq(("a", Seq(1f, 2f), Map("k" -> "1")), ("b", Seq(3f, 4f), Map("k" -> "2")))
      .toDF("id", "vector", "metadata").write.parquet(s"$v1/docs.parquet")
    def c(srcPath: String) = MigrationConfig.fromJson(
      s"""{"source": {"type": "parquet", "connection": {"path": "$srcPath"},
         |            "query": {"table_name": "docs"}},
         | "target": {"type": "parquet", "connection": {"path": "$tmp"},
         |            "load": {"collection": "wh_t"}}}""".stripMargin)
    assert(IncrementalMigrator.run(spark, c(v1)).success)
    // v2: record "a" CHANGES, record "c" is new
    val v2 = s"$tmp/src_v2"
    Seq(("a", Seq(9f, 9f), Map("k" -> "1")), ("b", Seq(3f, 4f), Map("k" -> "2")),
      ("c", Seq(5f, 6f), Map("k" -> "3")))
      .toDF("id", "vector", "metadata").write.parquet(s"$v2/docs.parquet")
    val r = IncrementalMigrator.run(spark, c(v2))
    assert(r.success && r.metrics("rows") == "1", r) // "c" only; "a" withheld
    // the withheld count rides the REPORT (counted in the same write
    // action via observe), not just stderr — automation can detect the
    // incomplete apply
    assert(r.withheldUpdates == 1, r)
    val target = spark.read.parquet(s"$tmp/wh_t.parquet")
    assert(target.count() == 3)
    assert(target.select("id").distinct().count() == 3,
      "a changed record was appended onto an insert-only sink — duplicate id")
    // the stale version of "a" is what the target still holds (documented)
    assert(target.filter(col("id") === "a")
      .select(element_at(col("vector"), 1)).head().getFloat(0) == 1f)
  }

  test("an incremental run executes its anti-join once: the write, no probe over the delta") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-onepass").toString
    def src(sub: String, rows: Seq[(String, Seq[Float], Map[String, String])]): String = {
      rows.toDF("id", "vector", "metadata").write.parquet(s"$tmp/$sub/docs.parquet")
      s"$tmp/$sub"
    }
    def c(srcPath: String) = MigrationConfig.fromJson(
      s"""{"source": {"type": "parquet", "connection": {"path": "$srcPath"},
         |            "query": {"table_name": "docs"}},
         | "target": {"type": "parquet", "connection": {"path": "$tmp"},
         |            "load": {"collection": "op_t", "parallelism": 2}}}""".stripMargin)
    val v1 = src("v1", Seq(("a", Seq(1f, 2f), Map("k" -> "1")), ("b", Seq(3f, 4f), Map("k" -> "2"))))
    assert(IncrementalMigrator.run(spark, c(v1)).success)
    val v2 = src("v2", Seq(("a", Seq(9f, 9f), Map("k" -> "1")), ("b", Seq(3f, 4f), Map("k" -> "2")),
      ("c", Seq(5f, 6f), Map("k" -> "3"))))
    val (r, antiJoins) = executionsDuring(hasLeftAnti)(IncrementalMigrator.run(spark, c(v2)))
    assert(r.success && r.metrics("rows") == "1" && r.withheldUpdates == 1, r)
    assert(antiJoins == 1, s"$antiJoins executions ran the (id, hash) anti-join")
  }

  test("a transform that rewrites the vector sizes the target by the transformed vectors") {
    import graft.connectors.vectorstore.VectorStore
    val c = MigrationConfig.fromJson(
      s"""{"source": {"type": "parquet", "connection": {"path": "${sf()}"},
         |            "query": {"table_name": "embeddings", "id_column": "vec_id",
         |                      "vector_column": "embedding"}},
         | "target": {"type": "qdrant", "connection": {},
         |            "load": {"collection": "dim_rewrite", "recreate": true}}}""".stripMargin)
    val r = new Migrator(spark).run(c, transform = Some(df =>
      df.withColumn(Canonical.VECTOR, slice(col(Canonical.VECTOR), 1, 8))))
    assert(r.success && r.written == 500, r)
    assert(r.metrics.get("avg_dim").contains("8.0"), r)
    assert(VectorStore.current.describe("dim_rewrite").map(_.dim).contains(8),
      VectorStore.current.describe("dim_rewrite"))
  }

  test("a null first vector: the dimension comes from later rows, probed on the extract") {
    import graft.connectors.vectorstore.VectorStore
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-nulldim").toString
    Seq[(String, Option[Seq[Float]], Map[String, String])](("1", None, Map("k" -> "1")),
      ("2", Some(Seq(1f, 2f, 3f)), Map("k" -> "2")), ("3", Some(Seq(4f, 5f, 6f)), Map("k" -> "3")))
      .toDF("id", "vector", "metadata").coalesce(1).write.parquet(s"$tmp/docs.parquet")
    val c = MigrationConfig.fromJson(
      s"""{"source": {"type": "parquet", "connection": {"path": "$tmp"},
         |            "query": {"table_name": "docs"}},
         | "target": {"type": "qdrant", "connection": {},
         |            "load": {"collection": "null_first", "recreate": true,
         |                     "parallelism": 2}}}""".stripMargin)
    val (r, fannedOut) = executionsDuring(_.exists(_.isInstanceOf[Repartition]))(
      new Migrator(spark).run(c))
    assert(r.success && r.metrics.get("null_vectors").contains("1"), r)
    assert(VectorStore.current.describe("null_first").map(_.dim).contains(3),
      VectorStore.current.describe("null_first"))
    // the fallback scanned the extract: only the write ran the fan-out
    assert(fannedOut == 1, s"$fannedOut executions ran the repartitioned plan")
  }

  test("validate counts a null-element vector signature as a mismatch, not ok") {
    import spark.implicits._
    val src = Seq(("x", Seq(1f, 2f))).toDF("id", "vector")
    // a corrupted target cell decodes to [1.0, null] — the signature folds
    // to null, and the old =!= comparison evaluated to NULL -> counted 0
    val tgt = Seq(("x", Seq[java.lang.Float](1f, null))).toDF("id", "vector")
    val rows = Validator.validate(src, tgt).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows("vector_mismatches") == 1L, rows.toString)
  }

  test("append-mode validate: ids_extra_in_target informational, shipped checks strict") {
    import spark.implicits._
    val src = Seq(("a", Seq(1f, 2f)), ("b", Seq(3f, 4f))).toDF("id", "vector")
    // target = the appended run's rows PLUS prior contents ("z"), and one
    // genuine defect: "b" landed with the wrong vector
    val tgt = Seq(("a", Seq(1f, 2f)), ("b", Seq(9f, 9f)), ("z", Seq(7f, 7f)))
      .toDF("id", "vector")
    def byCheck(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    // strict (recreate) mode: the prior row is a defect
    val strict = byCheck(Validator.validate(src, tgt))
    assert(strict("ids_extra_in_target") == ((1L, false)), strict.toString)
    // append mode: the SAME count reported, but informational — while the
    // vector mismatch on a shipped id still fails
    val append = byCheck(Validator.validate(src, tgt, appendMode = true))
    assert(append("ids_extra_in_target") == ((1L, true)), append.toString)
    assert(append("vector_mismatches") == ((1L, false)), append.toString)
    assert(append("ids_missing_in_target") == ((0L, true)), append.toString)
  }

  test("explicit JSON nulls in config fields mean absent, not zero/'null'") {
    val c = MigrationConfig.fromJson(
      s"""{"source": {"type": "parquet", "connection": {"path": "${sf()}"},
         |            "query": {"table_name": "embeddings", "limit": null,
         |                      "offset": null, "filter": null}},
         | "target": {"type": "memory", "connection": {},
         |            "load": {"collection": "x", "batch_size": null,
         |                     "dimension": null, "parallelism": null}}}""".stripMargin)
    val q = c.source.query.get
    assert(q.limit.isEmpty && q.offset.isEmpty && q.filter.isEmpty, q.toString)
    val l = c.target.load.get
    assert(l.batchSize == 100 && l.dimension.isEmpty && l.parallelism.isEmpty, l.toString)
    // array-valued params are a loud config error, not an emptied string
    val e = intercept[graft.config.ConfigException] {
      MigrationConfig.fromJson(
        """{"source": {"type": "memory", "connection": {"hosts": ["a", "b"]},
          |            "query": {"collection": "x"}},
          | "target": {"type": "memory", "connection": {},
          |            "load": {"collection": "y"}}}""".stripMargin)
    }
    assert(e.getMessage.contains("hosts"), e.getMessage)
  }

  test("transient target probe failure fails the incremental run, never full-copies") {
    // a Try(schemaInfo).isSuccess probe once read ANY probe failure (auth
    // expiry, timeout, rate limit) as "collection absent" and fell back to
    // the full-copy path — silently re-appending every pre-existing record
    val full = cfg(extraQuery = """, "limit": 100""", targetColl = "inc_probe")
    assert(new Migrator(spark).run(full).success)
    assert(MemoryStore.get("inc_probe").get._1.length == 100)
    val flaky = new graft.connectors.MemoryConnector {
      override def name: String = "flaky-memory"
      override def exists(spark: org.apache.spark.sql.SparkSession,
                          connection: Map[String, String],
                          collection: String): Boolean =
        throw new RuntimeException("simulated probe timeout")
    }
    graft.connectors.ConnectorRegistry.register(flaky)
    val incCfg = MigrationConfig.fromJson(
      s"""{"source": {"type": "parquet", "connection": {"path": "${sf()}"},
         |            "query": {"table_name": "embeddings", "id_column": "vec_id",
         |                      "vector_column": "embedding",
         |                      "metadata_columns": ["label"], "limit": 100}},
         | "target": {"type": "flaky-memory", "connection": {},
         |            "load": {"collection": "inc_probe"}}}""".stripMargin)
    val report = IncrementalMigrator.run(spark, incCfg)
    assert(!report.success, report)
    assert(report.error.exists(_.contains("existence probe failed")), report)
    // nothing was re-appended behind the failure
    assert(MemoryStore.get("inc_probe").get._1.length == 100)
  }

  test("connector exists() is definitive: absence = false, presence = true") {
    import graft.connectors._
    val pq = new ParquetConnector()
    assert(pq.exists(spark, Map("path" -> sf()), "embeddings"))
    assert(!pq.exists(spark, Map("path" -> sf()), "no_such_table"))
    MemoryStore.put("ex_probe", Seq.empty, Map.empty)
    assert(new MemoryConnector().exists(spark, Map.empty, "ex_probe"))
    assert(!new MemoryConnector().exists(spark, Map.empty, "ex_probe_missing"))
    vectorstore.VectorStore.createCollection("ex_vs",
      vectorstore.CollectionConfig(dim = 2), recreate = true)
    assert(ConnectorRegistry("qdrant").exists(spark, Map.empty, "ex_vs"))
    assert(!ConnectorRegistry("qdrant").exists(spark, Map.empty, "ex_vs_missing"))
  }

  test("memory -> parquet round trip preserves data") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-mig").toString
    val report1 = new Migrator(spark).run(cfg(targetColl = "rt"))
    assert(report1.success)
    val back = MigrationConfig.fromJson(
      s"""{"source": {"type": "memory", "connection": {}, "query": {"collection": "rt"}},
         | "target": {"type": "parquet", "connection": {"path": "$tmp"},
         |            "load": {"table_name": "roundtrip", "recreate": true}}}""".stripMargin)
    val report2 = new Migrator(spark).run(back)
    assert(report2.success && report2.written == 500)
    val df = spark.read.parquet(s"$tmp/roundtrip.parquet")
    assert(df.count() == 500)
    assert(df.columns.sorted.toSeq == Seq("id", "metadata", "vector"))
  }
}
