package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over an events-shaped stream
  * (`event_id, ts, user_id, event_type, value`).
  *
  * The reference is batch-only ("incremental migration" is listed future
  * work, `README.md:286`); these are the engine's streaming extensions:
  * watermarked tumbling windows and stateful gap sessionization via
  * `flatMapGroupsWithState` — the streaming twin of
  * [[graft.ops.Sessionize]].
  *
  * Scale notes: windowed aggregation state is bounded by the watermark;
  * sessionization state is one small struct per active user key, dropped on
  * timeout. Both shuffle once on their grouping key — same plan shape a
  * 1000-executor cluster runs.
  */
object StreamOps {

  /** Tumbling-window counts/sums with late-data handling. */
  def windowedStats(events: DataFrame, windowLen: String = "1 hour",
                    watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class SessionState(sessionStart: Long, lastSeen: Long, nEvents: Long, sumValue: Double)
  case class SessionOut(user_id: Long, session_start_us: Long, n_events: Long,
                        session_value: Double, duration_us: Long)

  /** Stateful gap sessionization: a session is emitted when the
    * event-time WATERMARK passes `gapMinutes` beyond its last event
    * (EventTimeTimeout). NOTE the structural consequence: a trailing open
    * session is only emitted once NEWER events advance the watermark past
    * its gap — a stream that simply stops leaves its last sessions in
    * state (flatMapGroupsWithState has no end-of-stream hook). Drain by
    * appending a late heartbeat event past the gap, or read the final
    * state via the batch twin [[graft.ops.Sessionize]]. */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes.toLong * 60L * 1000000L

    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(user, s.sessionStart, s.nEvents, s.sumValue,
              s.lastSeen - s.sessionStart))
          } else {
            // microsecond-exact (Timestamp.getTime truncates to ms; the
            // batch twin Sessionize compares unix_micros — boundary gaps
            // within the same ms must split identically)
            def micros(t: Timestamp): Long =
              math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
            val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
            var st = state.getOption
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            sorted.foreach { e =>
              val us = micros(e.ts)
              st match {
                case Some(s) if us - s.lastSeen <= gapUs =>
                  // a LATE (within-watermark) event can arrive with
                  // us < lastSeen or even us < sessionStart: extend the
                  // window with min/max instead of overwriting, or the
                  // regressed lastSeen splits later events spuriously and
                  // duration_us can go negative (the batch twin sorts
                  // globally and never regresses).
                  // BACKWARD merges are always batch-correct HERE because
                  // the watermark delay equals the gap (withWatermark
                  // above): Spark drops rows older than the watermark
                  // before this function, and wm = maxSeenTs - gap >=
                  // lastSeen - gap >= sessionStart - gap — so every
                  // surviving event is within `gap` of the live window's
                  // start, never across a silence the batch twin would
                  // split at. That equality is LOAD-BEARING: shrink the
                  // watermark delay below the gap and a far-before late
                  // event could merge across a split boundary.
                  st = Some(s.copy(
                    sessionStart = math.min(s.sessionStart, us),
                    lastSeen = math.max(s.lastSeen, us),
                    nEvents = s.nEvents + 1,
                    sumValue = s.sumValue + e.value))
                case Some(s) =>
                  out += SessionOut(user, s.sessionStart, s.nEvents, s.sumValue,
                    s.lastSeen - s.sessionStart)
                  st = Some(SessionState(us, us, 1L, e.value))
                case None =>
                  st = Some(SessionState(us, us, 1L, e.value))
              }
            }
            st.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastSeen / 1000L + gapMinutes.toLong * 60L * 1000L)
            }
            out.iterator
          }
      }
  }

  /** Streaming exact dedup: drop events whose dedup key was already seen
    * within the watermark horizon — the streaming twin of
    * [[graft.ops.Dedup.dedup]]. State is bounded by the watermark (keys
    * older than the horizon are evicted), so memory is proportional to the
    * key arrival rate × horizon, not the stream length. */
  def streamingDedup(events: DataFrame, keyCols: Seq[String],
                     watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Streaming NEAR-dedup: drop documents whose 64-bit SimHash fingerprint
    * was already seen within the watermark horizon — near-identical texts
    * (not just byte-identical ones) collapse in-flight, which is the
    * ingestion-side twin of [[graft.ops.Dedup.simHashDuplicatePairs]].
    * The fingerprint is one codegen'd expression per row, and the dedup
    * state holds only (fingerprint → expiry), so state is arrival rate ×
    * horizon regardless of document size. A stricter Hamming-radius match
    * needs the batch path (pairs need a self-join; streaming state lookups
    * are exact-key only — documented trade-off). */
  def streamingNearDedup(docs: DataFrame, textCol: String = "text",
                         tsCol: String = "ts", watermark: String = "1 hour",
                         portable: Boolean = false): DataFrame =
    docs
      .withColumn("simhash_fp",
        // portable = the 31-bit codepoint-hash fingerprint an external
        // engine can replay (the q_dedup_near_stream oracle re-votes it
        // in SQL); the 64-bit xxhash64 SimHash stays the default
        if (portable) graft.ops.Dedup.simHashPortable(col(textCol))
        else graft.ops.Dedup.simHash(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("simhash_fp")

  /** Watermarked stream-stream interval join: pair each left event with
    * the right-stream events of the SAME user whose timestamps fall within
    * ±`within` of it. The time bound plus both watermarks is what lets
    * Spark evict join state — without it a stream-stream join buffers
    * forever; with it, per-side state is (arrival rate × horizon), the
    * canonical bounded-state join recipe at any scale. */
  def intervalJoin(events: DataFrame, other: DataFrame,
                   watermark: String = "1 hour", within: String = "10 minutes"): DataFrame = {
    val l = events.withWatermark("ts", watermark).alias("l")
    val r = other.withWatermark("ts", watermark).alias("r")
    l.join(r,
        expr(s"""l.user_id = r.user_id AND
                 r.ts BETWEEN l.ts - INTERVAL $within AND l.ts + INTERVAL $within AND
                 l.event_id <> r.event_id"""))
      .select(col("l.event_id").as("event_id"), col("l.user_id").as("user_id"),
        col("l.ts").as("ts"), col("l.event_type").as("event_type"),
        col("r.event_id").as("matched_event_id"), col("r.event_type").as("matched_type"))
  }

  /** Ingestion-side decontamination: flag (for dropping) incoming
    * documents whose word-shingles are heavily contained in a STATIC
    * benchmark set — the production shape of the leakage check, applied
    * to the crawl stream before it ever lands. The benchmark folds into
    * a Bloom filter once at stream setup (one batch aggregate) and is
    * broadcast; each document then scores with ONE row-local codegen'd
    * probe ([[graft.functions.BloomHitCountExpr]] — the same compiled
    * kernel family as the batch face, no boxing boundary on the ingestion
    * hot path) over its shingle-hash array — no explode, no join, no
    * streaming aggregation, so this composes with any output mode and
    * holds zero state. Bloom
    * error is one-sided (never under-reports containment), the safe
    * direction for a filter that protects eval integrity. Works on batch
    * frames too (parity with [[graft.ops.Decontaminate]] spec-asserted).
    *
    * @return input columns + (n_shingles, n_shared, containment,
    *         contaminated) */
  def streamingDecontaminate(docs: DataFrame, benchmark: DataFrame,
                             textCol: String = "text", shingleSize: Int = 3,
                             threshold: Double = 0.5,
                             expectedShingles: Long = 1000000L,
                             fpp: Double = 0.001): DataFrame = {
    import graft.functions.HashExpressions
    // FULL-64-bit shingle hashes, matching the batch bloomContainment:
    // the mod-P (31-bit) space saturates at the billions-of-shingles
    // scale and chance collisions (not the Bloom fpp) would dominate
    val filter = benchmark
      .select(explode(HashExpressions.wordShingleHashes64(col(textCol), shingleSize)).as("sh"))
      .stat.bloomFilter("sh", expectedShingles, fpp)
    val bc = benchmark.sparkSession.sparkContext.broadcast(filter)
    docs
      .withColumn("__sh", HashExpressions.wordShingleHashes64(col(textCol), shingleSize))
      // coalesce: a NULL text yields a NULL array (null-intolerant kernel),
      // and size(null) is null — without the 0 the containment math goes
      // three-valued and a keep-gate filter(!contaminated) silently drops
      // every null-text row; the batch faces report 0 / 0.0 / false
      .withColumn("n_shingles", coalesce(size(col("__sh")), lit(0)))
      // coalesce pins the historical null-text contract (n_shared = 0,
      // matching the retired boxed udf) — the codegen'd kernel itself is
      // null-propagating like every UnaryExpression
      .withColumn("n_shared",
        coalesce(HashExpressions.bloomHitCount(col("__sh"), bc), lit(0)))
      .withColumn("containment", round(when(col("n_shingles") === 0, 0.0)
        .otherwise(col("n_shared").cast("double") / col("n_shingles")), 6))
      .withColumn("contaminated", col("containment") >= threshold)
      .drop("__sh")
  }

  /** Ingestion-side SEMANTIC decontamination — the streaming face of
    * [[graft.ops.Decontaminate.semanticContainment]]: score each incoming
    * training row against the full eval-set embedding table and flag rows
    * within cosine `threshold` of ANY benchmark item, while the crawl
    * lands. The eval set is collected once at plan time (benchmarks are
    * thousands of rows — the train side is the stream) and rides each task
    * as a codegen reference object inside the SAME fused argmax kernel as
    * the batch face ([[graft.functions.NearestEvalExpr]] via
    * [[graft.ops.Decontaminate.collectEvalSet]] — one compiled loop per
    * row, where the earlier `transform(evalLit, …)` lambda paid |eval|·dim
    * interpreted-HOF work per stream row). Entirely row-local: no join, no
    * streaming aggregation, zero state, any output mode.
    *
    * Exactness: float→double widening is value-exact and both faces share
    * one kernel + eval-set collection (ids widened to long on BOTH), so
    * streaming output equals the batch face bit for bit for any integral
    * id column (parity spec-asserted).
    *
    * @return input columns + (max_cosine, nearest_eval_id, contaminated) */
  def streamingSemanticDecontaminate(docs: DataFrame, evalSet: DataFrame,
                                     threshold: Double = 0.8,
                                     idCol: String = "vec_id",
                                     vecCol: String = "embedding"): DataFrame = {
    val (ids, vecs) = graft.ops.Decontaminate.collectEvalSet(evalSet, idCol, vecCol)
    docs
      .withColumn("__best",
        graft.functions.VectorExpressions.nearestEval(col(vecCol), ids, vecs))
      .withColumn("max_cosine", col("__best.max_cosine"))
      .withColumn("nearest_eval_id", col("__best.nearest_eval_id"))
      .withColumn("contaminated", col("max_cosine") >= threshold)
      .drop("__best")
  }

  /** Ingestion-side INCREMENTAL near-dedup: flag each incoming document
    * that near-duplicates the existing corpus, by banding its MinHash
    * signature against the corpus' persisted signature table
    * ([[graft.ops.Dedup.signatureTable]]) — the streaming face of
    * [[graft.ops.Dedup.incrementalNearDupPairs]], i.e. "dedup the crawl
    * against the 100 TB history while it lands".
    *
    * Plan shape: signature + banding are row-local maps over the stream;
    * the candidate step is a STREAM-STATIC equi-join on (band, band_hash)
    * — stateless by construction (no stream-stream buffering), with the
    * banded corpus materialized once at setup so microbatches don't
    * re-sign the corpus. Verification thresholds the signature match
    * fraction in the join row (E[match] = J — the estimate mode that at
    * ingest scale is the production default). The only state is the
    * watermarked pair-dedup that collapses multi-band hits of the same
    * (doc, corpus) pair.
    *
    * @return (idCol, tsCol, corpus_id, jaccard) — one row per flagged
    *         (document, corpus near-dup) pair; docs absent from the output
    *         are novel. */
  def streamingIncrementalDedup(docs: DataFrame, corpusSigs: DataFrame,
                                idCol: String = "doc_id", textCol: String = "text",
                                tsCol: String = "ts",
                                numHashes: Int = 16, numBands: Int = 4,
                                threshold: Double = 0.3, maxBucket: Int = 1000,
                                watermark: String = "1 hour",
                                portable: Boolean = true,
                                shingleSize: Int = 3,
                                broadcastBatch: Boolean = true): DataFrame = {
    import graft.ops.Dedup
    val rowsPerBand = numHashes / numBands
    // static side: banded + skew-guarded ONCE (materialized so microbatches
    // reuse it instead of re-banding the corpus every trigger)
    val corpusBands0 = Dedup.lshBands(corpusSigs, idCol, numBands, rowsPerBand, portable,
      carryCols = Seq("minhash_sig"))
    val smallBuckets = corpusBands0.groupBy("band", "band_hash")
      .agg(count(col(idCol)).as("__n")).filter(col("__n") <= maxBucket)
      .select("band", "band_hash")
    val staticSide = graft.ops.Materialize(
      corpusBands0.join(smallBuckets, Seq("band", "band_hash"))
        .select(col("band"), col("band_hash"), col(idCol).as("corpus_id"),
          col("minhash_sig").as("sig_c")))
    incrementalDedupAgainst(docs, staticSide, idCol, textCol, tsCol,
      numHashes, numBands, threshold, watermark, portable, shingleSize,
      broadcastBatch)
  }

  /** [[streamingIncrementalDedupIndexed]] resolving the STRUCTURAL hashing
    * params (numHashes/numBands/portable/shingleSize + maxBucket) from the
    * index's own MANIFEST — the safe entry point: guessed params that
    * mismatch the build silently admit EVERY duplicate (the stream's band
    * hashes never collide with the corpus's), which is why
    * [[graft.core.SigIndex.ingest]] also refuses caller-supplied
    * structural params. A manifest-less (pre-manifest) index must go
    * through the raw-frames overload with explicitly matching params. */
  def streamingIncrementalDedupIndexed(docs: DataFrame, indexDir: String,
                                       idCol: String, textCol: String,
                                       tsCol: String, threshold: Double,
                                       watermark: String,
                                       broadcastBatch: Boolean): DataFrame = {
    val spark = docs.sparkSession
    val p = graft.core.SigIndex.readManifest(spark, indexDir).getOrElse(
      throw new IllegalArgumentException(
        s"no params.json manifest under $indexDir — a pre-manifest index " +
          "must use the raw-frames overload with params matching its build"))
    // openFrames, not bare directory reads: a crash window (compaction
    // swap interrupted, widths/ absent from ingest's swap) must not fail
    // STREAM startup waiting for a batch ingest to happen to run — the
    // same index-open healing altitude ingest gets
    val (sigs, bands, widths) = graft.core.SigIndex.openFrames(spark, indexDir, idCol)
    streamingIncrementalDedupIndexed(docs, sigs, bands, widths,
      idCol = idCol, textCol = textCol, tsCol = tsCol,
      numHashes = p.numHashes, numBands = p.numBands, threshold = threshold,
      maxBucket = p.maxBucket, watermark = watermark, portable = p.portable,
      shingleSize = p.shingleSize, broadcastBatch = broadcastBatch,
      // params come from the index's own manifest — no mismatch possible
      verifyStructure = false)
  }

  /** Manifest-resolving face with the usual defaults. */
  def streamingIncrementalDedupIndexed(docs: DataFrame, indexDir: String): DataFrame =
    streamingIncrementalDedupIndexed(docs, indexDir, idCol = "doc_id",
      textCol = "text", tsCol = "ts", threshold = 0.3, watermark = "1 hour",
      broadcastBatch = true)

  /** [[streamingIncrementalDedup]] over the PERSISTED index artifacts
    * ([[graft.core.SigIndex]] / [[graft.ops.Dedup.bandedSignatureTable]] +
    * [[graft.ops.Dedup.bucketWidths]]): the static side is assembled from
    * the stored banded face and width table — no corpus re-banding and no
    * corpus aggregation at stream start; the one-time setup cost is the
    * id-keyed join attaching signatures to surviving banded rows. The
    * streaming CLI twin of `--ingest`, for crawls that land as streams.
    *
    * STRUCTURAL params (numHashes/numBands/portable/shingleSize) MUST
    * match the index build exactly — a mismatch would otherwise silently
    * admit every duplicate (band hashes that never collide), so this
    * overload probes the index at plan-build time and THROWS on any
    * mismatch the index itself can witness
    * ([[graft.ops.Dedup.requireIndexCompatible]]: signature width +
    * recomputed-vs-persisted band keys; `shingleSize` alone is not
    * index-witnessable — signatures don't retain text). Prefer the
    * `indexDir` overload, which reads every param from the index
    * manifest; the defaults here mirror [[graft.core.SigIndex.Params]]
    * so a default-built index and a default-called stream agree.
    * `verifyStructure = false` skips the probe (two setup-time driver
    * actions) for callers with an authoritative out-of-band source of the
    * build params — opting back into the silent-zero failure mode. */
  def streamingIncrementalDedupIndexed(docs: DataFrame, corpusSigs: DataFrame,
                                       corpusBands: DataFrame, corpusWidths: DataFrame,
                                       idCol: String = "doc_id", textCol: String = "text",
                                       tsCol: String = "ts",
                                       numHashes: Int = 64, numBands: Int = 16,
                                       threshold: Double = 0.3, maxBucket: Int = 1000,
                                       watermark: String = "1 hour",
                                       portable: Boolean = false,
                                       shingleSize: Int = 3,
                                       broadcastBatch: Boolean = true,
                                       verifyStructure: Boolean = true): DataFrame = {
    if (verifyStructure)
      graft.ops.Dedup.requireIndexCompatible(corpusSigs, corpusBands, idCol,
        numHashes, numBands, portable)
    // widths can be STALE (SigIndex appends bands before swapping widths;
    // a crash in that window leaves band rows with no widths row), so the
    // skew guard EXCLUDES known-big buckets via anti-join instead of
    // selecting known-small ones: unknown buckets default to "check it"
    // (coalesce(bucket_n, 0) <= maxBucket semantics). Known-big buckets
    // are few by construction — broadcastable at any corpus size.
    val bigBuckets = corpusWidths.filter(col("bucket_n") > maxBucket)
      .select("band", "band_hash")
    val staticSide = graft.ops.Materialize(
      corpusBands.join(broadcast(bigBuckets), Seq("band", "band_hash"), "left_anti")
        .join(corpusSigs.select(col(idCol), col("minhash_sig")), Seq(idCol))
        .select(col("band"), col("band_hash"), col(idCol).as("corpus_id"),
          col("minhash_sig").as("sig_c")))
    incrementalDedupAgainst(docs, staticSide, idCol, textCol, tsCol,
      numHashes, numBands, threshold, watermark, portable, shingleSize,
      broadcastBatch)
  }

  /** Shared core: sign + band the stream, stream-static bucket join
    * against the prepared `(band, band_hash, corpus_id, sig_c)` side,
    * verify by signature match fraction, collapse multi-band hits. */
  private def incrementalDedupAgainst(docs: DataFrame, staticSide: DataFrame,
                                      idCol: String, textCol: String, tsCol: String,
                                      numHashes: Int, numBands: Int,
                                      threshold: Double, watermark: String,
                                      portable: Boolean,
                                      shingleSize: Int,
                                      broadcastBatch: Boolean = true): DataFrame = {
    import graft.ops.Dedup
    import graft.functions.HashExpressions
    val rowsPerBand = numHashes / numBands
    // shingleSize is STRUCTURAL: it must equal the corpus signatures'
    // (SigIndex manifest) or band hashes never collide — see SigIndex
    val sh =
      if (portable) HashExpressions.portableShingleHashes(col(textCol), shingleSize)
      else HashExpressions.wordShingleHashes(col(textCol), shingleSize)
    val (as, bs) = Dedup.minhashParams(numHashes)
    val signed = docs
      .withColumn("__sh", sh)
      .filter(size(col("__sh")) > 0)
      .withColumn("minhash_sig", HashExpressions.minHashSignature(col("__sh"), as, bs))
      .select(col(idCol), col(tsCol), col("minhash_sig"))
    val streamBands = Dedup.lshBands(signed, idCol, numBands, rowsPerBand, portable,
      carryCols = Seq(tsCol, "minhash_sig"))
    // broadcast the MICROBATCH side: without the hint each trigger plans a
    // SortMergeJoin that re-shuffles and re-sorts the corpus-sized static
    // side (caught by the StreamingSpec plan pin) — the 100 TB invariant is
    // that only trigger-proportional data ever crosses an exchange. The
    // hint assumes triggers are BOUNDED (set maxOffsetsPerTrigger/
    // maxFilesPerTrigger); an unbounded catch-up batch would blow Spark's
    // broadcast limit, so `broadcastBatch = false` restores the shuffle
    // plan for that regime. Batch bulk ingest belongs on the
    // Dedup.incrementalNearDupPairs* faces, which prune the corpus by
    // broadcast instead.
    (if (broadcastBatch) broadcast(streamBands) else streamBands)
      .join(staticSide, Seq("band", "band_hash"))
      .filter(col(idCol) =!= col("corpus_id"))
      .withColumn("jaccard", round(HashExpressions
        .signatureMatchFraction(col("minhash_sig"), col("sig_c")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col(idCol), col(tsCol), col("corpus_id"), col("jaccard"))
      .transform { flagged =>
        // collapse multi-band hits of one (doc, corpus) pair: watermarked
        // state on a stream; a plain distinct on a batch frame (parity
        // runs — dropDuplicatesWithinWatermark is streaming-only)
        if (flagged.isStreaming)
          flagged.withWatermark(tsCol, watermark)
            .dropDuplicatesWithinWatermark(idCol, "corpus_id")
        else flagged.dropDuplicates(idCol, "corpus_id")
      }
  }

  /** Ingestion-side quality gate: keep documents scoring at least
    * `minScore` under the closed-form heuristic quality score — a pure
    * row-local expression ([[graft.functions.TextFunctions.qualityScore]]),
    * so it is stateless and streaming-safe in any output mode. The
    * corpus-relative variants (quantile cut, LM perplexity) need batch
    * aggregates; this is the in-flight first line. */
  def streamingQualityFilter(docs: DataFrame, minScore: Double,
                             textCol: String = "text"): DataFrame =
    docs
      .withColumn("quality",
        round(graft.functions.TextFunctions.qualityScore(col(textCol)), 6))
      .filter(col("quality") >= minScore)

  /** In-flight LEARNED quality gate: score each incoming doc with a
    * trained [[graft.ops.QualityModel.LogisticModel]] (fit offline on a
    * labeled batch sample — the standard shape) and keep rows above
    * `minProb`. The model rides along as a codegen reference object and
    * the score is one row-local compiled loop — no join, no aggregation,
    * zero state, valid in any output mode. */
  def streamingModelQualityFilter(docs: DataFrame,
                                  model: graft.ops.QualityModel.LogisticModel,
                                  minProb: Double, textCol: String = "text"): DataFrame =
    docs
      .withColumn("quality_prob", graft.ops.QualityModel.probability(col(textCol), model))
      .filter(col("quality_prob") >= minProb)

  /** In-flight chunk + embed: split each arriving document into
    * overlapping token windows and stamp the hashing-trick embedding —
    * [[graft.ops.Chunking.chunkByTokens]] is one explode + map, so the
    * whole step is stateless (no watermark, any output mode): the
    * streaming half of the chunk-embed-load pipeline, feeding
    * [[incrementalMigration]]-style sinks with index-ready chunk records
    * as documents arrive. */
  def streamingChunkEmbed(docs: DataFrame, width: Int = 64, stride: Int = 48,
                          dim: Int = 64, idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame =
    graft.ops.Chunking.chunkByTokens(docs, width, stride, idCol, textCol)
      .withColumn("embedding",
        graft.functions.TextFunctions.hashedTokenEmbedding(col("chunk_text"), dim))

  /** File-based streaming migration: watch a directory of parquet drops and
    * continuously upsert into a sink via `foreachBatch` reusing the batch
    * connector — the "incremental migration" the reference left as future
    * work (`README.md:286`). Returns the prepared writer (caller starts it). */
  def incrementalMigration(spark: org.apache.spark.sql.SparkSession, watchDir: String,
                           writeBatch: (DataFrame, Long) => Unit) = {
    val stream = spark.readStream
      .schema(graft.model.Canonical.schema)
      .parquet(watchDir)
    stream.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[Row], id: Long) => writeBatch(batch.toDF(), id) }
  }

  /** Streaming CDC: watch a directory of diff drops — canonical records
    * plus an `op` column ('insert'|'update'|'delete', the tagged output of
    * [[graft.ops.SnapshotDiff.diff]] rendered to the canonical shape) —
    * and continuously apply each microbatch to a vector-store collection
    * via [[graft.ops.SnapshotDiff.applyTo]] (DSv2 append for upserts,
    * executor-side transport delete batches). Both legs are id-keyed and
    * idempotent, so foreachBatch's at-least-once replay after a failure
    * converges to exactly-once collection STATE — same argument as the
    * upsert-only incremental sink, now covering removals too. */
  def streamingCdcApply(spark: org.apache.spark.sql.SparkSession, watchDir: String,
                        fmt: String, collection: String,
                        maxFilesPerTrigger: Option[Int] = None) = {
    import org.apache.spark.sql.types._
    val schema = StructType(graft.model.Canonical.schema.fields :+
      StructField("op", StringType, nullable = true))
    // maxFilesPerTrigger bounds each microbatch (and lets the oracle gate
    // force a MULTI-batch replay); correctness does not depend on the
    // split — both legs are id-keyed and ops arrive disjoint per id
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val stream = reader.parquet(watchDir)
    stream.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val df = batch.toDF()
        // null-safe: a row with op NULL (e.g. a drop missing the op
        // column) is an UPSERT, not silently discarded by three-valued
        // `op != 'delete'`
        graft.ops.SnapshotDiff.applyTo(
          df.filter(!(col("op") <=> "delete")).drop("op"),
          df.filter(col("op") <=> "delete").select(graft.model.Canonical.ID),
          fmt, collection)
      }
  }
  private type Row = org.apache.spark.sql.Row
}
