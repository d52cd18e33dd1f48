package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.streaming.StreamOps.Event

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int): Timestamp =
    new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime + min * 60000L)

  test("watermarked tumbling window aggregates a MemoryStream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = StreamOps.windowedStats(input.toDF(), windowLen = "1 hour")
      .writeStream.format("memory").queryName("win_out").outputMode("complete").start()
    try {
      input.addData(
        Event(1, ts(5), 1, "click", 1.0), Event(2, ts(20), 1, "click", 2.0),
        Event(3, ts(70), 2, "view", 4.0))
      query.processAllAvailable()
      val rows = spark.table("win_out")
        .select("event_type", "n", "sum_value").orderBy("event_type")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(rows == Seq(("click", 2L, 3.0), ("view", 1L, 4.0)))
    } finally query.stop()
  }

  test("stateful sessionization emits closed sessions") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = StreamOps.sessionize(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_out").outputMode("append").start()
    try {
      // session 1: two events 10 min apart; then an 80-min gap; the late
      // event both closes session 1 (exceeds gap) and advances the
      // watermark so the append-mode sink receives it
      input.addData(Event(1, ts(0), 10, "a", 1.0), Event(2, ts(10), 10, "a", 2.0))
      query.processAllAvailable()
      input.addData(Event(3, ts(90), 10, "a", 4.0))
      query.processAllAvailable()
      input.addData(Event(4, ts(240), 10, "a", 8.0)) // push watermark far ahead
      query.processAllAvailable()
      val rows = spark.table("sess_out")
        .select("user_id", "n_events", "session_value").orderBy("session_start_us")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(rows.nonEmpty)
      assert(rows.head == (10L, 2L, 3.0)) // first closed session
    } finally query.stop()
  }

  test("a late (within-watermark) event never regresses session state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = StreamOps.sessionize(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("late_sess").outputMode("append").start()
    try {
      // batch 1 establishes lastSeen = t10; batch 2 delivers a LATE t5
      // event (watermark still behind) — overwriting lastSeen with t5
      // used to make the t39 event split spuriously (34min from the
      // regressed t5, though only 29min from the true last event t10)
      input.addData(Event(1, ts(0), 10, "a", 1.0), Event(2, ts(10), 10, "a", 2.0))
      query.processAllAvailable()
      input.addData(Event(3, ts(5), 10, "a", 4.0)) // late, within watermark
      query.processAllAvailable()
      input.addData(Event(4, ts(39), 10, "a", 8.0)) // 29min after t10: SAME session
      query.processAllAvailable()
      input.addData(Event(5, ts(240), 10, "a", 16.0)) // closes it + advances watermark
      query.processAllAvailable()
      val rows = spark.table("late_sess")
        .select("n_events", "session_value", "duration_us").orderBy("session_start_us")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
      assert(rows.nonEmpty)
      // one session holding all four events, duration t0 -> t39, no split
      assert(rows.head == ((4L, 15.0, 39L * 60000000L)), rows.toString)
    } finally query.stop()
  }

  test("streaming dedup drops repeated keys within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = StreamOps.streamingDedup(input.toDF(), Seq("user_id", "event_type"))
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      input.addData(
        Event(1, ts(0), 1, "click", 1.0), Event(2, ts(1), 1, "click", 2.0), // dup key
        Event(3, ts(2), 1, "view", 3.0), Event(4, ts(3), 2, "click", 4.0))
      query.processAllAvailable()
      val ids = spark.table("dedup_out").select("event_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 3L, 4L)) // event 2's (user,type) already seen
    } finally query.stop()
  }

  test("streaming near-dedup collapses near-identical texts by SimHash fingerprint") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, String)]
    val query = StreamOps.streamingNearDedup(
        input.toDF().toDF("doc_id", "ts", "text"))
      .writeStream.format("memory").queryName("neardedup_out").outputMode("append").start()
    try {
      val base = "the quick brown fox jumps over the lazy dog again and again"
      input.addData(
        (1L, ts(0), base),
        (2L, ts(1), base), // byte-identical → same fingerprint
        (3L, ts(2), "completely different content about spark structured streaming state"))
      query.processAllAvailable()
      val ids = spark.table("neardedup_out").select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 3L), ids.toString)
    } finally query.stop()
  }

  test("streaming decontamination flags benchmark-contaminated docs in-flight") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val benchmark = Seq((1L, "the capital of france is paris and the capital of spain is madrid"))
      .toDF("doc_id", "text")
    val input = MemoryStream[(Long, Timestamp, String)]
    val query = StreamOps.streamingDecontaminate(
        input.toDF().toDF("doc_id", "ts", "text"), benchmark,
        threshold = 0.5, expectedShingles = 1000L)
      .writeStream.format("memory").queryName("decon_out").outputMode("append").start()
    try {
      input.addData(
        (1L, ts(0), "the capital of france is paris and the capital of spain is madrid"),
        (2L, ts(1), "spark structured streaming keeps per key state bounded by watermarks"),
        (3L, ts(2), "short"))                      // < shingle size: 0 shingles
      query.processAllAvailable()
      val rows = spark.table("decon_out")
        .select("doc_id", "contaminated", "n_shingles")
        .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getInt(2)))).toMap
      assert(rows(1L)._1 && rows(1L)._2 > 0)       // verbatim benchmark text flagged
      assert(!rows(2L)._1)                          // clean doc passes
      assert(!rows(3L)._1 && rows(3L)._2 == 0)      // shingle-less doc passes
    } finally query.stop()
  }

  test("streaming decontamination agrees with the exact batch containment") {
    val docs = graft.Tables(spark, sf(), "documents")
    val benchmark = docs.filter(col("doc_id") < 20)
    val stream = StreamOps.streamingDecontaminate(
        docs.filter(col("doc_id") >= 20 && col("doc_id") < 120), benchmark,
        expectedShingles = 100000L, fpp = 1e-6)
      .select("doc_id", "n_shingles", "n_shared")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1).toLong, r.getInt(2).toLong))).toMap
    val exact = graft.ops.Decontaminate.containment(
        train = benchmark, eval = docs.filter(col("doc_id") >= 20 && col("doc_id") < 120))
      .select("doc_id", "n_shingles", "n_shared")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(stream == exact) // at fpp 1e-6 on this corpus: no false positives
  }

  test("streaming decontamination plan is codegen'd: no boxed udf on the hot path") {
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    val docs = graft.Tables(spark, sf(), "documents").limit(50)
    val qe = StreamOps.streamingDecontaminate(docs, docs.limit(5)).queryExecution
    val udfs = qe.optimizedPlan.collect {
      case p => p.expressions.flatMap(_.collect { case u: ScalaUDF => u })
    }.flatten
    assert(udfs.isEmpty, s"boxed udf survived in the ingestion plan: $udfs")
    assert(qe.executedPlan.toString.contains("bloom_hit_count_bc"),
      qe.executedPlan.toString.take(2000))
  }

  test("streaming decontamination null-text rows keep the n_shared=0 contract") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val benchmark = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val out = StreamOps.streamingDecontaminate(
        Seq((1L, "alpha beta gamma delta"), (2L, null.asInstanceOf[String]))
          .toDF("doc_id", "text"), benchmark, expectedShingles = 100L)
      .select("doc_id", "n_shared").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out(1L) > 0 && out(2L) == 0, out.toString)
  }

  test("streaming semantic decontamination flags embedding-space leakage in-flight") {
    implicit val sqlCtx = spark.sqlContext
    val evalSet = Seq((100L, Seq(1.0f, 0.0f, 0.0f)), (101L, Seq(0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val input = MemoryStream[(Long, Seq[Float])]
    val query = StreamOps.streamingSemanticDecontaminate(
        input.toDF().toDF("vec_id", "embedding"), evalSet, threshold = 0.9)
      .writeStream.format("memory").queryName("semdecon_out").outputMode("append").start()
    try {
      input.addData(
        (1L, Seq(0.99f, 0.05f, 0.0f)),   // near-parallel to eval 100 → flagged
        (2L, Seq(0.0f, 0.0f, 1.0f)),     // orthogonal to both → clean
        (3L, Seq(0.0f, 2.0f, 0.0f)))     // scaled copy of eval 101 → cosine 1
      query.processAllAvailable()
      val rows = spark.table("semdecon_out")
        .select("vec_id", "contaminated", "nearest_eval_id")
        .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap
      assert(rows(1L) == ((true, 100L)))
      assert(!rows(2L)._1)
      assert(rows(3L) == ((true, 101L)))
    } finally query.stop()
  }

  test("streaming semantic decontamination reproduces the batch face bit for bit") {
    val emb = graft.Tables(spark, sf(), "embeddings")
    val train = emb.filter(col("vec_id") % 20 =!= 0)
    val evalSet = emb.filter(col("vec_id") % 20 === 0)
    val stream = StreamOps.streamingSemanticDecontaminate(train, evalSet, threshold = 0.5)
      .select("vec_id", "max_cosine", "nearest_eval_id", "contaminated")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    val batch = graft.ops.Decontaminate.semanticContainment(train, evalSet, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(stream == batch)
  }

  test("streaming quality filter is stateless and keeps only scorers above the bar") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, String)]
    val query = StreamOps.streamingQualityFilter(
        input.toDF().toDF("doc_id", "ts", "text"), minScore = 0.5)
      .writeStream.format("memory").queryName("qual_out").outputMode("append").start()
    try {
      input.addData(
        (1L, ts(0), "the quick brown fox jumps over the lazy dog and runs into the field"),
        (2L, ts(1), "!!! ??? ### $$$ %%%"))       // punctuation soup scores low
      query.processAllAvailable()
      val ids = spark.table("qual_out").select("doc_id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids == Seq(1L), ids.toString)
    } finally query.stop()
  }

  test("streaming learned-quality gate scores with a batch-trained model, statelessly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // fit offline on a labeled batch (the standard shape)...
    val labeled = ((1 to 30).map(i => (i.toLong, s"well researched factual writing topic$i", 1.0)) ++
      (31 to 60).map(i => (i.toLong, s"buy now free prize click spam$i", 0.0)))
      .toDF("doc_id", "text", "label")
    val model = graft.ops.QualityModel.fit(labeled, "label", dim = 64, iters = 20, lr = 1.0)
    // ...then gate the stream with it
    val input = MemoryStream[(Long, Timestamp, String)]
    val query = StreamOps.streamingModelQualityFilter(
        input.toDF().toDF("doc_id", "ts", "text"), model, minProb = 0.5)
      .writeStream.format("memory").queryName("mqual_out").outputMode("append").start()
    try {
      input.addData(
        (101L, ts(0), "well researched factual writing about a new topic"),
        (102L, ts(1), "buy now free prize click spam offer"))
      query.processAllAvailable()
      val rows = spark.table("mqual_out").select("doc_id", "quality_prob")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      assert(rows.keySet == Set(101L), rows.toString)
      assert(rows(101L) > 0.5)
    } finally query.stop()
  }

  test("incremental migration: file drops stream into a batch sink via foreachBatch") {
    import graft.model.Canonical
    val watch = java.nio.file.Files.createTempDirectory("graft-stream-in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-stream-ck").toString
    graft.connectors.MemoryStore.drop("inc_out")
    graft.connectors.MemoryStore.put("inc_out", Nil)

    // first drop BEFORE the stream starts (backfill), second while running
    val canon = Canonical.from(graft.Tables(spark, sf(), "embeddings").limit(40),
      idCol = "vec_id", vectorCol = Some("embedding"), metadataCols = Seq("label"))
    canon.limit(15).write.mode("overwrite").parquet(s"$watch/drop1.parquet")

    val writer = StreamOps.incrementalMigration(spark, s"$watch/*.parquet",
      (batch, _) => {
        val rows = batch.collect().toSeq
        val existing = graft.connectors.MemoryStore.get("inc_out").map(_._1).getOrElse(Nil)
        graft.connectors.MemoryStore.put("inc_out", existing ++ rows)
      })
    val q = writer.option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(graft.connectors.MemoryStore.get("inc_out").get._1.length == 15)
      canon.filter(col("id").cast("long") >= 15).limit(10)
        .write.mode("overwrite").parquet(s"$watch/drop2.parquet")
      q.processAllAvailable()
      assert(graft.connectors.MemoryStore.get("inc_out").get._1.length == 25)
    } finally q.stop()
  }

  test("incremental migration into a vector-store sink is exactly-once per id") {
    import graft.model.Canonical
    import graft.connectors.vectorstore.{CollectionConfig, VectorStore}
    val watch = java.nio.file.Files.createTempDirectory("graft-stream-vs").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-stream-vsck").toString
    VectorStore.drop("inc_vs")
    VectorStore.createCollection("inc_vs", CollectionConfig(dim = 4), recreate = true)

    import spark.implicits._
    def canon(ids: Range) = ids.map(i =>
        (i.toString, Seq.fill(4)(i.toFloat), Map("batch" -> "x")))
      .toDF(Canonical.ID, Canonical.VECTOR, Canonical.METADATA)

    // the batch writer IS the DSv2 vector-store sink — the reference's
    // declared future work (README.md:286) finished end to end
    canon(0 until 15).write.mode("overwrite").parquet(s"$watch/drop1.parquet")
    val writer = StreamOps.incrementalMigration(spark, s"$watch/*.parquet",
      (batch, _) => batch.write.format("graft-qdrant")
        .option("collection", "inc_vs").mode("append").save())
    val q = writer.option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(VectorStore.count("inc_vs") == 15)
      // second drop OVERLAPS the first (ids 10..14 re-delivered): the
      // id-keyed upsert absorbs redelivery — each id lands exactly once
      canon(10 until 20).write.mode("overwrite").parquet(s"$watch/drop2.parquet")
      q.processAllAvailable()
      assert(VectorStore.count("inc_vs") == 20)
      val ids = VectorStore.scroll("inc_vs", 0, 1000).map(_.id)
      assert(ids.length == ids.distinct.length)
      assert(ids.map(_.toInt).sorted == (0 until 20), ids.sorted.mkString(","))
    } finally q.stop()
  }

  test("streaming CDC apply: diff drops land inserts, updates AND deletes exactly once") {
    import graft.model.Canonical
    import graft.connectors.vectorstore.{CollectionConfig, VectorStore, VSRecord}
    val watch = java.nio.file.Files.createTempDirectory("graft-stream-cdc").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-stream-cdcck").toString
    VectorStore.drop("cdc_vs")
    VectorStore.createCollection("cdc_vs", CollectionConfig(dim = 2), recreate = true)
    VectorStore.upsert("cdc_vs", (0 until 10).map(i =>
      VSRecord(s"$i", Array(i.toFloat, 0f), Map("v" -> "old"))))

    import spark.implicits._
    def diffDrop(rows: Seq[(String, String)]) = rows.map { case (id, op) =>
        (id, Seq(99f, 99f), Map("v" -> "new"), op)
      }.toDF(Canonical.ID, Canonical.VECTOR, Canonical.METADATA, "op")

    diffDrop(Seq(("3", "update"), ("10", "insert"), ("7", "delete")))
      .write.mode("overwrite").parquet(s"$watch/d1.parquet")
    val q = StreamOps.streamingCdcApply(spark, s"$watch/*.parquet", "graft-qdrant", "cdc_vs")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      val byId = VectorStore.scroll("cdc_vs", 0, 100).map(r => r.id -> r).toMap
      assert(byId.size == 10) // 10 - 1 delete + 1 insert
      assert(!byId.contains("7"))
      assert(byId("3").metadata("v") == "new" && byId("10").metadata("v") == "new")
      assert(byId("4").metadata("v") == "old")
      // a second drop re-delivers the same changes plus one more delete:
      // idempotent legs converge, no duplicates, no resurrection
      diffDrop(Seq(("3", "update"), ("10", "insert"), ("7", "delete"), ("8", "delete")))
        .write.mode("overwrite").parquet(s"$watch/d2.parquet")
      q.processAllAvailable()
      val after = VectorStore.scroll("cdc_vs", 0, 100).map(_.id).sorted
      assert(after == Seq("0", "1", "10", "2", "3", "4", "5", "6", "9"))
    } finally q.stop()
  }

  test("stream-stream interval join pairs same-user events within the window") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val buys = MemoryStream[Event]
    val query = StreamOps.intervalJoin(clicks.toDF(), buys.toDF(), within = "10 minutes")
      .writeStream.format("memory").queryName("ij_out").outputMode("append").start()
    try {
      clicks.addData(Event(1, ts(0), 7, "click", 1.0), Event(2, ts(30), 7, "click", 1.0),
        Event(3, ts(0), 8, "click", 1.0))
      buys.addData(
        Event(101, ts(5), 7, "buy", 9.0),   // within 10 min of click 1 only
        Event(102, ts(50), 7, "buy", 9.0),  // within 10 min of neither
        Event(103, ts(5), 9, "buy", 9.0))   // different user
      query.processAllAvailable()
      val rows = spark.table("ij_out")
        .select("event_id", "matched_event_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows == Set((1L, 101L)))
    } finally query.stop()
  }

  test("streaming chunk+embed emits index-ready chunk records, statelessly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String)]
    val query = StreamOps.streamingChunkEmbed(
        input.toDF().toDF("doc_id", "text"), width = 4, stride = 2, dim = 8)
      .writeStream.format("memory").queryName("chunk_out").outputMode("append").start()
    try {
      input.addData(
        (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 4 chunks
        (2L, "one two"))                                // 1 chunk
      query.processAllAvailable()
      val got = spark.table("chunk_out")
        .select("doc_id", "chunk_idx", "n_tokens", "embedding")
        .as[(Long, Int, Int, Seq[Double])].collect()
      assert(got.count(_._1 == 1L) == 4 && got.count(_._1 == 2L) == 1)
      // every emitted chunk carries a unit-norm dim-8 embedding
      got.foreach { r =>
        assert(r._4.length == 8)
        assert(math.abs(r._4.map(x => x * x).sum - 1.0) < 1e-9)
      }
      // late-arriving doc chunks flow through with no state interaction
      input.addData((3L, "a b c d e f"))
      query.processAllAvailable()
      assert(spark.table("chunk_out").where("doc_id = 3").count() == 2)
    } finally query.stop()
  }

  test("streaming incremental dedup flags stream docs against the static corpus") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq(
      (100L, base),
      (101L, "totally unrelated corpus text about catalyst expression codegen here"))
      .toDF("doc_id", "text")
    val sigs = graft.ops.Dedup.signatureTable(corpus, numHashes = 16, portable = true)
    val input = MemoryStream[(Long, Timestamp, String)]
    val query = StreamOps.streamingIncrementalDedup(
        input.toDF().toDF("doc_id", "ts", "text"), sigs,
        numHashes = 16, numBands = 4, threshold = 0.5)
      .writeStream.format("memory").queryName("incdedup_out").outputMode("append").start()
    try {
      input.addData(
        (1L, ts(0), base),                                                  // dup of 100
        (2L, ts(1), "novel stream document with no corpus counterpart at all right now"),
        (3L, ts(2), base))                                                  // dup of 100
      query.processAllAvailable()
      val got = spark.table("incdedup_out")
        .select("doc_id", "corpus_id", "jaccard")
        .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
      assert(got == Seq((1L, 100L, 1.0), (3L, 100L, 1.0)), got.toString)
    } finally query.stop()
  }

  test("streaming incremental dedup agrees with the batch operator") {
    val docs = graft.Tables(spark, sf(), "documents")
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 =!= 0)
      .withColumn("ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
    val sigs = graft.ops.Dedup.signatureTable(corpus, numHashes = 16, portable = true)
    // the op runs identically on a batch frame (stream-static join and the
    // row-local stages are mode-agnostic; pair-dedup falls back to a plain
    // distinct in batch mode)
    val streamed = StreamOps.streamingIncrementalDedup(batch, sigs,
        numHashes = 16, numBands = 4, threshold = 0.3)
      .select("doc_id", "corpus_id", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = graft.ops.Dedup.incrementalNearDupPairs(sigs,
        docs.filter(col("doc_id") % 2 =!= 0),
        numHashes = 16, numBands = 4, threshold = 0.3, portable = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == exact && streamed.nonEmpty, s"${streamed.size} vs ${exact.size}")
  }

  test("indexed streaming dedup (persisted artifacts) equals the derive-on-the-fly face") {
    val docs = graft.Tables(spark, sf(), "documents")
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 =!= 0)
      .withColumn("ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
    // persist the index the way SigIndex/--build-index does
    val dir = java.nio.file.Files.createTempDirectory("stream_sig").toString
    graft.core.SigIndex.build(spark, corpus, dir,
      graft.core.SigIndex.Params(numHashes = 16, numBands = 4, portable = true))
    // the MANIFEST overload resolves structural params from the index
    // itself — a caller can't silently mismatch them (mismatched hashes
    // admit every duplicate with no error)
    val viaManifest = StreamOps.streamingIncrementalDedupIndexed(batch, dir,
        idCol = "doc_id", textCol = "text", tsCol = "ts", threshold = 0.3,
        watermark = "1 hour", broadcastBatch = true)
      .select("doc_id", "corpus_id", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val indexed = StreamOps.streamingIncrementalDedupIndexed(batch,
        spark.read.parquet(s"$dir/sigs"), spark.read.parquet(s"$dir/bands"),
        spark.read.parquet(s"$dir/widths"),
        numHashes = 16, numBands = 4, portable = true, threshold = 0.3)
      .select("doc_id", "corpus_id", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val derived = StreamOps.streamingIncrementalDedup(batch,
        graft.ops.Dedup.signatureTable(corpus, numHashes = 16, portable = true),
        numHashes = 16, numBands = 4, threshold = 0.3)
      .select("doc_id", "corpus_id", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(indexed == derived && indexed.nonEmpty, s"${indexed.size} vs ${derived.size}")
    assert(viaManifest == derived, s"${viaManifest.size} vs ${derived.size}")
  }

  test("broadcastBatch=false opts out of the microbatch broadcast, same results") {
    val docs = graft.Tables(spark, sf(), "documents")
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 =!= 0)
      .withColumn("ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
    val sigs = graft.ops.Dedup.signatureTable(corpus, numHashes = 16, portable = true)
    def run(bc: Boolean) = StreamOps.streamingIncrementalDedup(batch, sigs,
        numHashes = 16, numBands = 4, threshold = 0.3, broadcastBatch = bc)
    val on = run(true)
    val off = run(false)
    assert(on.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    // the opt-out (for unbounded catch-up triggers) must not change results
    def set(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "corpus_id", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(set(on) == set(off) && set(on).nonEmpty)
  }

  test("indexed streaming dedup microbatch plan never sort-merge-joins the corpus") {
    // the batch twin is plan-pinned in PlanSpec; this pins the REAL
    // microbatch plan (IncrementalExecution), where stream-static joins
    // could re-plan differently
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = graft.Tables(spark, sf(), "documents")
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val dir = java.nio.file.Files.createTempDirectory("stream_plan_sig").toString
    graft.core.SigIndex.build(spark, corpus, dir,
      graft.core.SigIndex.Params(numHashes = 16, numBands = 4, portable = true))
    val input = MemoryStream[(Long, Timestamp, String)]
    val query = StreamOps.streamingIncrementalDedupIndexed(
        input.toDF().toDF("doc_id", "ts", "text"),
        spark.read.parquet(s"$dir/sigs"), spark.read.parquet(s"$dir/bands"),
        spark.read.parquet(s"$dir/widths"),
        numHashes = 16, numBands = 4, portable = true, threshold = 0.3)
      .writeStream.format("memory").queryName("incdedup_plan")
      .outputMode("append").start()
    try {
      input.addData((1L, ts(0), "the quick brown fox jumps over the lazy dog today"))
      query.processAllAvailable()
      val exec = query
        .asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution
      assert(exec != null, "no microbatch executed")
      val p = exec.executedPlan.toString
      assert(!p.contains("SortMergeJoin"),
        "streaming corpus-side join fell back to sort-merge:\n" + p)
      assert(p.contains("BroadcastHashJoin"), p)
    } finally query.stop()
  }

  test("foreachBatch + atomic sink: each microbatch publishes all-or-nothing") {
    import graft.connectors.vectorstore._
    implicit val sqlCtx = spark.sqlContext
    VectorStore.drop("stream_atomic")
    VectorStore.createCollection("stream_atomic", CollectionConfig(dim = 2), recreate = true)
    val input = MemoryStream[(String, Seq[Float])]
    val query = input.toDF().toDF("id", "vector")
      .withColumn("metadata", map(lit("src"), lit("stream")))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // the exactly-once batch sink composes with Structured Streaming's
        // microbatches: a failed batch leaves the collection untouched and
        // the retry re-publishes the SAME shadow contents (id-keyed)
        batch.write.format("graft-qdrant").option("collection", "stream_atomic")
          .option("atomic", "true").mode("append").save()
      }
      .start()
    try {
      input.addData(("a", Seq(1f, 0f)), ("b", Seq(0f, 1f)))
      query.processAllAvailable()
      input.addData(("c", Seq(1f, 1f)))
      query.processAllAvailable()
      val ids = VectorStore.scroll("stream_atomic", 0, 10).map(_.id).sorted
      assert(ids == Seq("a", "b", "c"), ids.toString)
      assert(!VectorStore.listCollections().exists(_.startsWith("stream_atomic__staging_")))
    } finally { query.stop(); VectorStore.drop("stream_atomic") }
  }

  test("indexed streaming dedup still flags near-dups of docs missing from stale widths") {
    // SigIndex's crash window leaves bands/sigs appended but widths stale;
    // the streaming static side must treat widths-unknown buckets as small
    val corpus = Seq(
      (2L, "the quick brown fox jumps over the lazy dog again and again today"))
      .toDF("doc_id", "text")
    val stranded = Seq(
      (6L, "a stranded document appended during the crash window of the swap"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("stream_stale").toString
    graft.core.SigIndex.build(spark, corpus, dir,
      graft.core.SigIndex.Params(numHashes = 16, numBands = 4, portable = true))
    val sSigs = graft.ops.Dedup.signatureTable(stranded, numHashes = 16, portable = true)
    sSigs.write.mode("append").parquet(s"$dir/sigs")
    graft.ops.Dedup.lshBands(sSigs, numBands = 4, rowsPerBand = 4, portable = true)
      .write.mode("append").parquet(s"$dir/bands") // widths NOT re-swapped
    val batch = Seq(
      (1L, "a stranded document appended during the crash window of the swap"))
      .toDF("doc_id", "text")
      .withColumn("ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
    val got = StreamOps.streamingIncrementalDedupIndexed(batch,
        spark.read.parquet(s"$dir/sigs"), spark.read.parquet(s"$dir/bands"),
        spark.read.parquet(s"$dir/widths"),
        numHashes = 16, numBands = 4, portable = true, threshold = 0.5)
      .select("doc_id", "corpus_id", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 6L, 1.0)), got.toString)
  }

  test("raw-frames overload THROWS on structural params mismatching the index build") {
    // round 13's failure mode: a portable=true index probed with the
    // overload's portable=false default returned ZERO pairs silently.
    // The structural probe must turn every index-witnessable mismatch
    // into a loud call-time error instead.
    val corpus = Seq(
      (2L, "the quick brown fox jumps over the lazy dog again and again today"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("stream_mismatch").toString
    graft.core.SigIndex.build(spark, corpus, dir,
      graft.core.SigIndex.Params(numHashes = 16, numBands = 4, portable = true))
    val batch = Seq((1L, "the quick brown fox jumps over the lazy dog again and again today"))
      .toDF("doc_id", "text")
      .withColumn("ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
    def call(nh: Int, nb: Int, portable: Boolean, verify: Boolean = true) =
      StreamOps.streamingIncrementalDedupIndexed(batch,
        spark.read.parquet(s"$dir/sigs"), spark.read.parquet(s"$dir/bands"),
        spark.read.parquet(s"$dir/widths"),
        numHashes = nh, numBands = nb, portable = portable, threshold = 0.5,
        verifyStructure = verify)
    // the exact round-13 trap: right widths, wrong portable
    val e1 = intercept[IllegalArgumentException](call(16, 4, portable = false))
    assert(e1.getMessage.contains("structural mismatch"), e1.getMessage)
    // wrong signature width
    val e2 = intercept[IllegalArgumentException](call(64, 16, portable = true))
    assert(e2.getMessage.contains("numHashes=64"), e2.getMessage)
    // wrong banding at the right width
    val e3 = intercept[IllegalArgumentException](call(16, 8, portable = true))
    assert(e3.getMessage.contains("structural mismatch"), e3.getMessage)
    // matching params sail through and find the duplicate
    assert(call(16, 4, portable = true).collect().nonEmpty)
    // the documented opt-out really does opt out (and silently finds nothing)
    assert(call(16, 4, portable = false, verify = false).collect().isEmpty)
  }
}
