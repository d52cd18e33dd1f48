package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-stress probe: replicates the sf0.1 fixtures ~10× in memory
  * (shifted ids — profiling input only, never used for correctness
  * queries) and times the heavy operators, to answer the question the
  * bench at sf0.1 can't: does the cost grow linearly, and where does the
  * next bottleneck appear? Run: `sbt "runMain graft.ScaleProbe [factor]"`.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.flatMap(_.toIntOption).getOrElse(10)
    // optional 2nd arg: comma-separated substrings; only run probes whose
    // label contains one of them
    val only = args.drop(1).headOption.map(_.split(',').toSeq)
    val spark = GraftSession.local("graft-scale-probe")
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.1"

    def amplify(df: DataFrame, idCol: String): DataFrame = {
      val n = df.count()
      (0 until factor).map { i =>
        df.withColumn(idCol, col(idCol) + lit(i * n))
      }.reduce(_ unionByName _)
    }

    val docs = amplify(Tables(spark, dir, "documents"), "doc_id")
    val emb = amplify(Tables(spark, dir, "embeddings"), "vec_id")
    val events = amplify(Tables(spark, dir, "events"), "event_id")

    def time(label: String)(f: => Long): Unit =
      if (only.forall(_.exists(label.contains))) {
        val t0 = System.nanoTime()
        val n = f
        println(f"[scale-probe] $label%-26s ${(System.nanoTime() - t0) / 1e9}%7.2fs rows=$n")
      }

    // the corpus-size banner scans every amplified table — skip it under a
    // label filter (a factor-500 pgwire run would otherwise pay a 500M-row
    // events count it never uses)
    if (only.isEmpty)
      println(s"[scale-probe] factor=$factor docs=${docs.count()} emb=${emb.count()} events=${events.count()}")
    else println(s"[scale-probe] factor=$factor (filtered: ${only.get.mkString(",")})")
    time("minhash pairs")(ops.Dedup.minHashDuplicatePairs(docs, threshold = 0.3).count())
    time("minhash pairs (estimate)")(
      ops.Dedup.minHashDuplicatePairs(docs, threshold = 0.3, verifyExact = false).count())
    time("minhash signatures (k-hash)")(
      ops.Dedup.withMinHashSignature(docs).select("minhash_sig")
        .filter(size(col("minhash_sig")) > 0).count())
    time("minhash signatures (OPH)")(
      ops.Dedup.withOnePermSignature(docs).select("minhash_sig")
        .filter(size(col("minhash_sig")) > 0).count())
    time("minhash pairs (OPH+est)")(
      ops.Dedup.minHashDuplicatePairs(docs, threshold = 0.3, verifyExact = false,
        onePerm = true).count())
    time("staged dedup pipeline")(ops.Dedup.fuzzyDedupPipeline(docs, threshold = 0.3).count())
    // Connected-components pass in ISOLATION (r20 pointer-jumping rework):
    // a synthetic chain+clique edge mix scaled by `factor` — wall-clock
    // must track EDGES (linear), with the round count flat-to-log. Chains
    // of length 64 exercise the jump (pure propagation would need >
    // maxIter rounds); 5-cliques are the common near-dup shape.
    time("connected components")({
      val units = 200L * factor
      val chain = spark.range(units).selectExpr(
        "explode(sequence(0, 62)) AS j", "id AS u")
        .selectExpr("u * 100 + j AS id_a", "u * 100 + j + 1 AS id_b")
      val clique = spark.range(units).selectExpr(
        "explode(flatten(transform(sequence(0, 3), i -> " +
          "transform(sequence(i + 1, 4), k -> struct(i, k))))) AS p", "id AS u")
        .selectExpr("10000000000L + u * 100 + p.i AS id_a",
          "10000000000L + u * 100 + p.k AS id_b")
      ops.Dedup.connectedComponents(chain.unionByName(clique)).count()
    })
    time("simhash fingerprints")(
      docs.select(ops.Dedup.simHash(col("text")).as("fp")).filter(col("fp") =!= 0).count())
    time("exact dedup")(ops.Dedup.exactDuplicates(docs).count())
    time("text stats")(ops.TextAnalysis.documentStats(docs).count())
    time("ann brute topk")(
      ops.Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), k = 3).count())
    time("ann lsh topk")(
      ops.Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5), k = 3, bits = 8).count())
    time("cosine pairs (lsh)")(
      ops.Similarity.lshCosinePairs(emb, threshold = 0.4, bits = 8).count())
    time("sessionize")(ops.Sessionize.sessions(events).count())
    // leakage-safe split: component pass over the PAIR graph + one id
    // join — the law should track the pair count, not the corpus square
    time("leakage-safe split") {
      val pairs = ops.Dedup.minHashDuplicatePairs(docs, threshold = 0.3)
      ops.Sampling.leakageSafeSplit(docs, pairs, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).count()
    }
    // margin mining, SCALE composition: IVF supplies both neighbor-list
    // passes (cell-bucketed, no cross join), the margin math touches only
    // the k·|src| lists — output-bound. nCells scales as sqrt(n) with a
    // fixed probe FRACTION (the standard IVF-flat law): fixed cells made
    // per-cell population — and the whole row — go quadratic on the
    // first ramp (13.5 s -> 169 s at 3x, measured), exactly the
    // fixed-blocking trap the q_dedup_cosine board documents.
    // n derived OUTSIDE the timed block: a corpus count inside it would
    // fold its own scaling into the very law this row measures
    val halfEmb = emb.count() / 2
    time("margin mining (ivf kNN)") {
      val src = emb.filter(col("vec_id") % 2 === 0)
      val tgt = emb.filter(col("vec_id") % 2 === 1)
      val n = halfEmb
      val cells = math.max(16, math.sqrt(n.toDouble).toInt)
      val probe = math.max(4, cells / 8)
      ops.Similarity.marginFromNeighbors(
        ops.Similarity.ivfTopK(tgt, src, k = 4, nCells = cells, nProbe = probe),
        ops.Similarity.ivfTopK(src, tgt, k = 4, nCells = cells, nProbe = probe), k = 4).count()
    }
    time("centroid vec_sum")(
      emb.groupBy("label").agg(functions.VectorAggFunctions.vecSum(col("embedding"))).count())
    time("sequence packing")(
      ops.Packing.concatSplitPack(docs, tokenBudget = 2048, numShards = 64).count())
    time("source mixing")(
      ops.Sampling.mixToTarget(docs, "source",
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2), "doc_id").count())
    time("int8 quantize (HOF)")(
      emb.select(col("vec_id"), col("embedding"),
          functions.VectorFunctions.int8Scale(col("embedding")).as("__sc"))
        .select(functions.VectorFunctions.int8MaxAbsError(col("embedding"), col("__sc"))
          .as("err"))
        .filter(col("err") >= 0).count())
    time("int8 quantize (kernel)")(
      emb.select(functions.VectorExpressions.int8Quantize(col("embedding")).as("q"))
        .filter(col("q.max_err") >= 0).count())
    time("kmeans (k=16, 3 iters)")(
      ops.Clustering.kmeans(emb, k = 16, iters = 3).count())
    time("kmeans|| init (k=64)")(
      ops.Clustering.initCentersParallel(emb, k = 64, rounds = 3).count())
    time("pq encode (m=8, ksub=16)") {
      val cb = ops.Quantization.pqTrain(emb, m = 8, ksub = 16, iters = 2)
      emb.select(ops.Quantization.pqEncode(col("embedding"), cb).as("pq"))
        .filter(col("pq.recon_err") >= 0).count()
    }
    time("pq adc topk (reRank=50)")(
      ops.Quantization.pqTopK(emb, emb.filter(col("vec_id") < 5), k = 3,
        m = 8, ksub = 16, iters = 2, reRank = 50).count())
    time("semantic dedup (staged)")(
      ops.Dedup.semanticDedupPipeline(emb, threshold = 0.5, nClusters = 16, iters = 2).count())
    time("decontaminate")(
      ops.Decontaminate.containment(
        train = docs.filter(col("doc_id") % 20 =!= 0),
        eval = docs.filter(col("doc_id") % 20 === 0)).count())
    time("decontaminate (bloom)")(
      ops.Decontaminate.bloomContainment(
        train = docs.filter(col("doc_id") % 20 =!= 0),
        eval = docs.filter(col("doc_id") % 20 === 0),
        expectedShingles = 10000000L).count())
    time("duplicate spans")(
      ops.TextAnalysis.duplicateSpans(docs, width = 16, stride = 8).count())
    time("minhash pairs (portable)")(
      ops.Dedup.minHashDuplicatePairs(docs, numHashes = 16, numBands = 4,
        threshold = 0.3, portable = true).count())
    time("ann hamming topk")(
      ops.Similarity.hammingTopK(emb, emb.filter(col("vec_id") < 5), k = 3).count())
    time("span rewrite")(
      ops.TextAnalysis.removeDuplicateSpans(docs, width = 16)
        .filter(col("n_dropped") >= 0).count())
    time("bm25 search")(
      ops.TextSearch.bm25Search(docs,
        Seq("spark", "vector", "merge", "window"), k = 100).count())
    time("unigram perplexity")(
      ops.TextAnalysis.unigramPerplexity(docs).filter(col("ppl") >= 0).count())
    time("hybrid rrf topk") {
      val qv = Array.tabulate(64)(i => ((i % 7) + 1).toDouble)
      ops.TextSearch.hybridTopK(docs, emb,
        Seq("spark", "vector", "merge", "window"), qv, k = 100, nCand = 200).count()
    }
    // wire-face IO law (round 17): a THROWAWAY PostgreSQL (PgTestServer)
    // takes the amplified embeddings through the v3 wire client —
    // per-partition COPY loads in, partitioned range reads out. Skipped
    // silently (label absent from output) where no server can run.
    graft.connectors.pgwire.PgTestServer.start().foreach { pg =>
      try {
        val conn = Map("host" -> "127.0.0.1", "port" -> pg.port.toString,
          "protocol" -> "wire", "database" -> "postgres", "user" -> "postgres")
        val canon = emb.select(col("vec_id").cast("string").as("id"),
          col("embedding").as("vector"),
          map(lit("label"), col("label").cast("string")).as("metadata"))
        val pgv = graft.connectors.ConnectorRegistry("pgvector")
        val hi = factor.toLong * 2000L * 10L // comfortably past the shifted ids
        val binConn = conn + ("data_format" -> "binary")
        def load(re: Boolean) = graft.config.LoadSpec(
          collection = "probe_wire", recreate = re)
        // the write laws side by side, text and binary framing. DIRECT =
        // recreate loads COPY straight into the target (no second
        // server-side write); STAGED = recreate=false onto the now-full
        // table — the honest upsert regime, every id's delete leg matches
        time("pgwire write COPY direct (8 conns)")(
          pgv.write(canon.repartition(8), conn, load(true)).written)
        time("pgwire write COPY staged (8 conns)")(
          pgv.write(canon.repartition(8), conn, load(false)).written)
        time("pgwire write COPY-BIN direct (8 conns)")(
          pgv.write(canon.repartition(8), binConn, load(true)).written)
        time("pgwire write COPY-BIN staged (8 conns)")(
          pgv.write(canon.repartition(8), binConn, load(false)).written)
        time("pgwire ranged read (8 conns)")(
          pgv.read(spark, conn ++ Map("partitions" -> "8",
              "lower_bound" -> "0", "upper_bound" -> hi.toString),
            graft.config.QuerySpec(collection = "probe_wire", idColumn = "id",
              vectorColumn = Some("vector"))).count())
        // 10 ms RTT regime: a latency proxy adds 5 ms each way — the
        // wide-area shape, where a load's cost is its round trips. COPY
        // pays a handful per partition whatever its size.
        val proxy = new graft.connectors.pgwire.LatencyProxy(pg.port, delayMs = 5)
        try {
          val lconn = conn + ("port" -> proxy.port.toString)
          val lbin = binConn + ("port" -> proxy.port.toString)
          time("pgwire 10msRTT COPY staged (8)")(
            pgv.write(canon.repartition(8), lconn, load(false)).written)
          time("pgwire 10msRTT COPY-BIN direct (8)")(
            pgv.write(canon.repartition(8), lbin, load(true)).written)
        } finally proxy.close()
      } finally pg.stop()
    }
    time("pca fit+whiten (d=64)") {
      val m = ops.Pca.fit(emb, k = -1)
      ops.Pca.transform(emb, m, whiten = true).filter(size(col("pca")) > 0).count()
    }
    time("prefix jaccard join (t=0.8)")(
      ops.SetSimilarityJoin.prefixJaccardPairs(docs, threshold = 0.8).count())
    time("prefix jaccard join (t=0.5)")(
      ops.SetSimilarityJoin.prefixJaccardPairs(docs, threshold = 0.5).count())
    time("zorder write (2 cols)")(
      ops.Layout.zorder(events.select("event_id", "user_id", "value"),
        Seq("event_id", "user_id"), numPartitions = 32).count())
    time("quality lr (fit 5 iters + score)") {
      val labeled = docs.withColumn("label", (col("lang") === "en").cast("double"))
      val m = ops.QualityModel.fit(labeled, "label", dim = 256, iters = 5)
      ops.QualityModel.score(docs, m).filter(col("quality_prob") >= 0).count()
    }
    time("bpe train (50 merges)") {
      ops.Bpe.train(docs, numMerges = 50).merges.length.toLong
    }
    time("bpe encode (50 merges)") {
      val m = ops.Bpe.train(docs, numMerges = 50)
      ops.Bpe.encode(docs, m).agg(sum("n_subwords")).head().getLong(0)
    }
    val orders = amplify(Tables(spark, dir, "orders"), "o_orderkey")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    time("snapshot diff (cdc)") {
      val newSnap = orders.filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("o_totalprice",
          col("o_totalprice") + when(col("o_orderkey") % 89 === 0, 1.5).otherwise(0.0))
        .unionByName(orders.filter(col("o_orderkey") % 93 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 1000000000L))
      ops.SnapshotDiff.diff(orders, newSnap, "o_orderkey").count()
    }
    time("edit distance join (fastss)") {
      // regenerate names from the SHIFTED ids so the amplified corpus has
      // distinct strings (not factor-cliques of exact duplicates). Digit
      // names are the gram-prefix killer (see EditDistanceJoin scaladoc);
      // the deletion-neighborhood join is the path for this shape.
      val names = amplify(Tables(spark, dir, "customer"), "c_custkey")
        .select(col("c_custkey"),
          format_string("Customer#%09d", col("c_custkey")).as("c_name"))
      ops.EditDistanceJoin.deletionNeighborhoodPairs(names, "c_name", "c_custkey").count()
    }
    time("edit distance join (grams)") {
      // natural-language vocabulary: the corpus where gram prefixes ARE
      // selective — the typo-clustering use case
      val toks = docs.select(explode(split(trim(lower(col("text"))), "\\s+")).as("t"))
        .filter(length(col("t")).between(4, 20)).distinct()
        .withColumn("tid", xxhash64(col("t")))
      ops.EditDistanceJoin.editDistancePairs(toks, "t", "tid", maxDistance = 1).count()
    }
    time("chunk + hashed embed (d=64)")(
      ops.Chunking.chunkByTokens(docs, width = 64, stride = 48)
        .select(functions.TextFunctions.hashedTokenEmbedding(col("chunk_text"), 64).as("v"))
        .filter(size(col("v")) > 0).count())
    time("cohort retention")(
      ops.Cohorts.retention(events).count())
    time("heavy hitters (k=100)") {
      // token stream: millions of rows, bounded sketch state per buffer
      val toks = docs.select(explode(split(trim(lower(col("text"))), "\\s+")).as("item"))
      toks.agg(functions.SketchAggFunctions.spaceSavingTopK(col("item"), 100).as("hh"))
        .select(size(col("hh")).cast("long").as("n")).head().getLong(0)
    }
    time("exact token counts (twin)") {
      val toks = docs.select(explode(split(trim(lower(col("text"))), "\\s+")).as("item"))
      toks.groupBy("item").count().orderBy(col("count").desc).limit(100).count()
    }
    time("temperature mix (T=2)")(
      ops.Sampling.temperatureMix(docs, "source", 2.0, "doc_id").count())
    time("token budget mix")(
      ops.Sampling.mixToTokenBudget(
        docs.withColumn("n_tokens",
          when(col("text").isNull || length(trim(col("text"))) === 0, 0L)
            .otherwise(size(split(trim(lower(col("text"))), "\\s+")).cast("long"))),
        "source", Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2),
        totalTokens = 1000000L, tokensCol = "n_tokens", idCol = "doc_id").count())
    time("diversified topk")(
      ops.Similarity.diversifiedTopK(emb, emb.filter(col("vec_id") < 5), k = 10,
        groupCol = "label", maxPerGroup = 2).count())
    time("mmr topk (nCand=200)")(
      ops.Similarity.mmrTopK(emb, emb.filter(col("vec_id") < 5), k = 10,
        nCand = 200).count())
    time("dsir weights (fit 64 buckets + score corpus)")(
      ops.Dsir.importanceWeights(docs,
        docs.filter(col("lang") === "en"), docs, dim = 64).count())
    time("mmr topk (ivfpq shortlist, nCand=200)") {
      // the scale path: ANN tier feeds the greedy instead of brute force
      val tier = ops.Quantization.ivfPqTopK(emb, emb.filter(col("vec_id") < 5),
        k = 200, nCells = 16, nProbe = 4, reRank = 200)
      ops.Similarity.mmrTopK(emb, emb.filter(col("vec_id") < 5), k = 10,
        nCand = 200, shortlist = Some(tier)).count()
    }
    time("cdc apply (collection)") {
      import graft.connectors.vectorstore.VectorStore
      graft.model.Canonical.from(emb, "vec_id", Some("embedding"), Seq("label"))
        .write.format("graft-qdrant").option("collection", "probe_cdc")
        .option("recreate", "true").mode("overwrite").save()
      val upserts = graft.model.Canonical.from(
        emb.filter(col("vec_id") % 13 === 0), "vec_id", Some("embedding"), Seq("label"))
      val dels = emb.filter(col("vec_id") % 17 === 0)
        .select(col("vec_id").cast("string").as("id"))
      ops.SnapshotDiff.applyTo(upserts, dels, "graft-qdrant", "probe_cdc")
      val n = VectorStore.count("probe_cdc").toLong
      VectorStore.drop("probe_cdc")
      n
    }
    time("resample ffill (1h grid)")(
      ops.Resample.forwardFill(events, bucketMicros = 3600L * 1000000L).count())
    time("session transcripts")(
      ops.Sessionize.transcripts(events).count())
    time("incremental dedup (batch vs corpus sigs)") {
      // the ingest shape: corpus signatures persisted once (timed apart so
      // the probe splits index-build from per-batch cost), then the odd-id
      // "day's batch" banded against them — batch text is the only text
      // scanned
      val corpusSigs = ops.Materialize(
        ops.Dedup.signatureTable(docs.filter(col("doc_id") % 2 === 0)))
      ops.Dedup.incrementalNearDupPairs(corpusSigs,
        docs.filter(col("doc_id") % 2 =!= 0), threshold = 0.3).count()
    }
    // Corpus-growth probe for the INDEXED ingest: fixed batch, corpus 1x
    // then factor x, index artifacts persisted (untimed — they are built
    // once per corpus lifetime, not per ingest). The question: does
    // per-ingest cost stay ~flat as history grows? (Output pairs DO grow
    // with factor — every batch dup matches each replica — so read time
    // against rows.)
    if (only.forall(_.exists(s => "sig-index ingest (corpus)".contains(s)))) {
      val base = Tables(spark, dir, "documents")
      val batch = base.filter(col("doc_id") % 2 =!= 0)
      val tmp = java.nio.file.Files.createTempDirectory("probe_sig").toString
      def buildIdx(corpus: DataFrame, tag: String): String = {
        val d = s"$tmp/$tag"
        core.SigIndex.build(spark, corpus, d, core.SigIndex.Params())
        d
      }
      val idx1 = buildIdx(base.filter(col("doc_id") % 2 === 0), "c1")
      val idxN = buildIdx(docs.filter(col("doc_id") % 2 === 0), s"c$factor")
      def ingest(d: String): Long =
        ops.Dedup.incrementalNearDupPairsIndexed(
          spark.read.parquet(s"$d/sigs"), spark.read.parquet(s"$d/bands"),
          spark.read.parquet(s"$d/widths"), batch, threshold = 0.3).count()
      time("sig-index ingest (corpus 1x)")(ingest(idx1))
      time(s"sig-index ingest (corpus ${factor}x)")(ingest(idxN))
    }
    // real-codec throughput: encode+decode per row, embarrassingly
    // parallel map work — the scaling claim for the multimodal family
    time("image decode + ahash")(
      ops.Multimodal.extractImageFeatures(ops.Multimodal.imageTable(docs))
        .filter(col("ahash_bits").isNotNull).count())
    time("wav decode")(
      ops.Multimodal.extractAudioFeatures(ops.Multimodal.audioTable(docs))
        .filter(col("sq_sum").isNotNull).count())
    // Clip-length probe for the WAV kernel: the 64–127-sample synthetic
    // clips are dominated by javax.sound PER-CLIP setup, so tiny-clip
    // clips/s drifts with JVM/host state (round 13 measured 88k/s vs the
    // round-8 190k/s record on UNCHANGED code). This prints throughput
    // with clip length on the x-axis: if setup amortizes as claimed,
    // Msamples/s must RISE toward a decode-bound plateau as clips grow
    // toward realistic (0.5 s+) lengths, while clips/s falls slower than
    // length grows. Fixed 50k clips per row so the fleet of lengths is
    // comparable; generation+sha+decode per row, the same work shape as
    // "wav decode".
    if (only.forall(_.exists(s => "wav clip-length".contains(s)))) {
      // untimed warmup: the first decode job otherwise pays JVM/codegen
      // setup and distorts the shortest-clip row
      ops.Multimodal.extractAudioFeatures(
        ops.Multimodal.audioTable(spark.range(5000L).toDF("doc_id"),
          nSamples = 64)).count()
      for (len <- Seq(64, 512, 4096, 32768)) {
        val clips = 50000L
        val ids = spark.range(clips).toDF("doc_id")
        val t0 = System.nanoTime()
        val n = ops.Multimodal.extractAudioFeatures(
            ops.Multimodal.audioTable(ids, nSamples = len))
          .filter(col("sq_sum").isNotNull).count()
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"[scale-probe] wav clip-length $len%6d samples " +
          f"${secs}%7.2fs clips=$n kclips/s=${n / secs / 1e3}%8.1f " +
          f"Msamples/s=${n.toDouble * len / secs / 1e6}%8.2f")
      }
    }
    time("mp4 parse")(
      ops.Multimodal.extractVideoMeta(ops.Multimodal.videoTable(docs))
        .filter(col("duration_ms").isNotNull).count())
    time("hard negatives (5 queries, nCand=200)") {
      // positive = the query's first replica (cosine 1.0), so the margin
      // excludes only the replica cluster and real negatives survive
      val nOrig = emb.count() / factor
      ops.Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 5),
        emb.filter(col("vec_id") < 5).select(col("vec_id").as("query_id"),
          (col("vec_id") + nOrig).as("pos_id")),
        n = 20, marginMicros = 10000, nCand = 200).count()
    }
    time("chunk+embed+pool (doc vectors)")(
      ops.Chunking.meanPoolEmbeddings(
        ops.Chunking.chunkByTokens(docs, width = 64, stride = 48)
          .select(col("doc_id"), graft.functions.TextFunctions
            .hashedTokenEmbedding(col("chunk_text"), 16).as("embedding"))).count())
    time("markup extraction")(
      ops.TextAnalysis.extractText(
        docs.select(col("doc_id"),
          concat(lit("<html><body><p>"), col("text"),
            lit("</p><script>x()</script></body></html>")).as("html")))
        .filter(col("n_tokens") > 0).count())
    // URL canonicalization: compiled single-pass kernel vs the 12-regexp
    // column chain — the crawl pipeline's first hot path
    if (only.forall(_.exists(s => "url canonicalize".contains(s)))) {
      val urls = spark.range(200000L * factor).selectExpr(
        """concat('HTTP://Host', id % 1000, '.Example.COM:80/p/', id,
           |'?utm_source=x&b=', id % 7, '&a=1#s') AS u""".stripMargin.replace("\n", " "))
      time("url canonicalize (kernel)")(
        urls.select(ops.Urls.canonicalizeUrl(col("u")).as("c"))
          .filter(col("c").isNotNull).count())
      time("url canonicalize (chain)")(
        urls.select(ops.Urls.canonicalizeUrlColumns(col("u")).as("c"))
          .filter(col("c").isNotNull).count())
    }
    // staged row-level deltas: a MERGE-scale UPDATE with the spill path
    // active — rows stream through scratch files, never the driver; the
    // number proves the touched-set size does not bound driver memory
    if (only.forall(_.exists(s => "staged delta update".contains(s)))) {
      import graft.connectors.vectorstore._
      val stageDir = java.nio.file.Files.createTempDirectory("probe_stage").toString
      spark.conf.set("spark.sql.catalog.vsprobe", classOf[VSCatalog].getName)
      spark.conf.set("spark.sql.catalog.vsprobe.delta_stage_dir", stageDir)
      // the scan plans ~total/page_size tasks (200 at factor 100), so the
      // PER-TASK threshold must sit below touched/tasks for the spill to
      // actually fire — the require below proves it did
      spark.conf.set("spark.sql.catalog.vsprobe.delta_stage_threshold", "100")
      VectorStore.drop("probe_delta")
      VectorStore.createCollection("probe_delta", CollectionConfig(dim = 8), recreate = true)
      val n = 2000 * factor
      (0 until n).grouped(10000).foreach(g => VectorStore.upsert("probe_delta",
        g.map(i => VSRecord(s"$i", Array.fill(8)(i.toFloat), Map("m" -> s"${i % 2}")))))
      val spills0 = DeltaStaging.spillCount.get()
      time(s"staged delta update (${n / 2} rows)") {
        spark.sql("UPDATE vsprobe.probe_delta SET metadata = map('m', 'hit') " +
          "WHERE element_at(metadata, 'm') = '1'")
        val hit = VectorStore.scroll("probe_delta", 0, n + 1)
          .count(_.metadata("m") == "hit").toLong
        VectorStore.drop("probe_delta")
        hit
      }
      // the number is only a SPILL-path datapoint if tasks actually
      // spilled (per-task threshold vs shuffle-partition row share)
      require(DeltaStaging.spillCount.get() > spills0,
        "staged-delta probe did not exercise the spill path — raise the factor")
    }
    // cursor-paged wire extraction: ONE sequential walk vs N sliced
    // concurrent walks against a real loopback server — the speedup claim
    // for VSCursorSlicePartition. .rdd defeats the count(*) pushdown so
    // every record actually crosses the wire and decodes.
    if (only.forall(_.exists(s => "wire cursor walk".contains(s)))) {
      import graft.connectors.vectorstore._
      val store = new InMemoryStore
      val server = new QdrantWireServer(store)
      try {
        // seed through the WIRE CLIENT: the upsert mirrors numeric ids
        // into the __gid payload field the id slices range-filter — the
        // same state a real migration leaves behind
        val t = new QdrantWireTransport(server.url)
        t.createCollection("probe_cursor", CollectionConfig(dim = 8), recreate = true)
        val n = 2000 * factor
        (0 until n).grouped(1000).foreach(g => t.upsert("probe_cursor",
          g.map(i => VSRecord(s"$i", Array.fill(8)(i.toFloat), Map("m" -> s"v$i")))))
        def scan(par: Int): Long =
          spark.read.format("graft-qdrant").option("url", server.url)
            .option("collection", "probe_cursor").option("page_size", "500")
            .option("cursor_parallelism", par.toString).load()
            .rdd.count()
        time("wire cursor walk x1")(scan(1))
        time("wire cursor walk x8")(scan(8))
        // the realistic regime: a real backend charges network + service
        // time per page; the walk is latency-bound and slicing approaches
        // N x. (The zero-latency loopback above is codec-bound — it
        // UNDERSTATES the parallel win.)
        server.injectLatencyMs = 10
        time("wire cursor walk x1 (10ms rtt)")(scan(1))
        time("wire cursor walk x8 (10ms rtt)")(scan(8))
        server.injectLatencyMs = 0
      } finally server.stop()
    }
    // atomic publish cost by transport: Qdrant rides the alias swap (a
    // handful of verbs regardless of size), Pinecone has no rename/alias
    // on its wire so the recreate publish is the documented copy-then-drop
    // fallback — a full re-read + re-write of the shadow (2x write
    // volume, latency-bound like any walk). The numbers quantify what the
    // fallback WARNING costs an operator who stays on it.
    if (only.forall(_.exists(s => "atomic publish".contains(s)))) {
      import graft.connectors.vectorstore._
      val n = 2000 * factor
      def recsOf(r: Range) = r.map(i =>
        VSRecord(s"$i", Array.fill(8)(i.toFloat), Map("m" -> s"v$i")))
      val qs = new QdrantWireServer(new InMemoryStore)
      try {
        val t = new QdrantWireTransport(qs.url)
        t.createCollection("pub", CollectionConfig(dim = 8), recreate = true)
        t.upsert("pub", recsOf(0 until 1))
        def seed(tag: String): String = {
          val shadow = s"pub__staging_$tag"
          t.createCollection(shadow, CollectionConfig(dim = 8), recreate = true)
          (0 until n).grouped(1000).foreach(g => t.upsert(shadow, recsOf(g.head to g.last)))
          shadow
        }
        val s1 = seed("a")
        time(s"atomic publish qdrant-alias ($n rows)") { t.rename(s1, "pub"); t.count("pub").toLong }
        val s2 = seed("b")
        qs.injectLatencyMs = 10
        time(s"atomic publish qdrant-alias ($n rows, 10ms)") { t.rename(s2, "pub"); t.count("pub").toLong }
        qs.injectLatencyMs = 0
      } finally qs.stop()
      val ps = new PineconeWireServer(new InMemoryStore)
      try {
        val t = new PineconeWireTransport(ps.url)
        def seed(tag: String): String = {
          val shadow = s"pix::live__staging_$tag"
          t.createCollection(shadow, CollectionConfig(dim = 8), recreate = true)
          (0 until n).grouped(1000).foreach(g => t.upsert(shadow, recsOf(g.head to g.last)))
          shadow
        }
        val s1 = seed("a")
        time(s"atomic publish pinecone-flip ($n rows)") {
          t.rename(s1, "pix::live"); t.count("pix::live").toLong
        }
        val s2 = seed("b")
        ps.injectLatencyMs = 10
        time(s"atomic publish pinecone-flip ($n rows, 10ms)") {
          t.rename(s2, "pix::live"); t.count("pix::live").toLong
        }
        ps.injectLatencyMs = 0
      } finally ps.stop()
    }
    // the Pinecone twin: x1 walks the token-paged /vectors/list (+fetch);
    // xN rides N concurrent /query interval walks over the __gid mirror —
    // fewer, fatter pages (queryCap 1000 vs listCap 100) AND parallelism,
    // so the win over x1 compounds both effects
    if (only.forall(_.exists(s => "pinecone cursor walk".contains(s)))) {
      import graft.connectors.vectorstore._
      val server = new PineconeWireServer(new InMemoryStore)
      try {
        val t = new PineconeWireTransport(server.url)
        t.createCollection("probe_pc::ns", CollectionConfig(dim = 8), recreate = true)
        val n = 2000 * factor
        (0 until n).grouped(1000).foreach(g => t.upsert("probe_pc::ns",
          g.map(i => VSRecord(s"$i", Array.fill(8)(i.toFloat), Map("m" -> s"v$i")))))
        def scan(par: Int): Long =
          spark.read.format("graft-pinecone").option("url", server.url)
            .option("collection", "probe_pc").option("namespace", "ns")
            .option("page_size", "500")
            .option("cursor_parallelism", par.toString).load()
            .rdd.count()
        time("pinecone cursor walk x1")(scan(1))
        time("pinecone cursor walk x8")(scan(8))
        server.injectLatencyMs = 10
        time("pinecone cursor walk x1 (10ms rtt)")(scan(1))
        time("pinecone cursor walk x8 (10ms rtt)")(scan(8))
        server.injectLatencyMs = 0
      } finally server.stop()
    }
    // WebDataset shard pack + unpack: one tar per shard built in one
    // task, read back member-wise — both sides are embarrassingly
    // parallel over shards, so the law should be linear in corpus bytes.
    time("webdataset pack+read") {
      val dir = "target/tmp/wds_probe" // fixed + fully replaced: no /tmp leak
      val samples = docs.select(col("doc_id").cast("string").as("key"),
        map(lit("txt"), encode(col("text"), "UTF-8")).as("files"))
      ops.WebDataset.writeShards(samples, dir, numShards = 32, overwrite = true)
      ops.WebDataset.readShards(spark, s"$dir/*.tar").count()
    }

    // Banded aHash Hamming join at probe scale: synthetic 64-bit hashes
    // (deterministic per id), 1% planted near-dups at Hamming ≤ 3 — the
    // candidate volume is collision-bound, the output pair-bound; both
    // should stay linear in n (the maxBucket guard owns the boilerplate
    // pathology separately).
    time("ahash near-dup pairs") {
      val n = 20000L * factor
      val hashes = spark.range(n).select(
        col("id").as("media_id"),
        when(col("id") % 100 === 99, // twin of the previous id, 1 bit off
          expr("xxhash64(cast(id - 1 as string))").bitwiseXOR(lit(1L)))
          .otherwise(expr("xxhash64(cast(id as string))")).as("ahash"))
      ops.Multimodal.aHashNearDupPairs(hashes, maxHamming = 3).count()
    }

    // ---- minhash sf1 profile (opt-in: `"minhash profile"`) -----------
    // Task: q_dedup_minhash is the bench board's worst scaler (8.1x at
    // 10x rows in the round-11 sf1 ramp). Break the pipeline into its
    // stages over the SAME de-correlated BenchGen ramp the bench uses —
    // NOT this probe's amplify() clones, which plant duplicate cliques —
    // so the growth decomposes into: signature scan, band shuffle,
    // candidate generation, verify output. The BASELINE.md "minhash at
    // sf1" section records the measured split and the resulting decision.
    if (only.exists(_.exists(s => "minhash profile".contains(s)))) {
      val ramp = Bench.ensureSf1(spark, dir)._1.getOrElse(
        sys.error("minhash profile needs the sf1 ramp"))
      Seq("sf0.1" -> dir, "sf1  " -> ramp).foreach { case (tag, d) =>
        val dd = Tables(spark, d, "documents")
        dd.count() // touch the files so read-side caching is comparable
        time(s"minhash profile [$tag] signatures")(
          ops.Dedup.withMinHashSignature(dd).select("minhash_sig")
            .filter(size(col("minhash_sig")) > 0).count())
        // band rows + the guard's bucket histogram (shuffle volume view)
        val bands = ops.Dedup.lshBands(
          ops.Dedup.withMinHashSignature(dd), "doc_id", 16, 4, portable = false)
        time(s"minhash profile [$tag] band rows")(bands.count())
        time(s"minhash profile [$tag] cand pairs")({
          val small = bands.groupBy("band", "band_hash")
            .agg(count(col("doc_id")).as("__n")).filter(col("__n") <= 1000)
            .select("band", "band_hash")
          val bounded = bands.join(small, Seq("band", "band_hash"))
          bounded.select(col("band"), col("band_hash"), col("doc_id").as("id_a"))
            .join(bounded.select(col("band"), col("band_hash"), col("doc_id").as("id_b")),
              Seq("band", "band_hash"))
            .filter(col("id_a") < col("id_b")).select("id_a", "id_b").distinct().count()
        })
        time(s"minhash profile [$tag] verified")(
          ops.Dedup.minHashDuplicatePairs(dd, threshold = 0.3).count())
        time(s"minhash profile [$tag] estimate")(
          ops.Dedup.minHashDuplicatePairs(dd, threshold = 0.3, verifyExact = false).count())
        time(s"minhash profile [$tag] OPH est")(
          ops.Dedup.minHashDuplicatePairs(dd, threshold = 0.3, verifyExact = false,
            onePerm = true).count())
      }
    }
    // vector-store search FALLBACK at growing collection size: the local
    // transport declines native search, so the filtered top-k runs the
    // scroll+score path — pages stream through the k-bounded heap
    // (VSScoring.topKStreaming, O(k) executor memory). The probe's law of
    // interest is wall-time vs rows (linear = the heap never re-sorts) and
    // that the filtered variant tracks the unfiltered one (filters
    // evaluate inside the page walk, before selection).
    if (only.exists(_.exists(s => "vs search".contains(s)))) {
      import graft.model.Canonical
      val canon = Canonical.from(emb, idCol = "vec_id",
        vectorCol = Some("embedding"), metadataCols = Seq("label"))
      canon.write.format("graft-qdrant").option("collection", "probe_srch")
        .option("recreate", "true").option("page_size", "2000")
        .mode("overwrite").save()
      val qv = canon.filter(col(Canonical.ID) === "0")
        .select(col(Canonical.VECTOR)).head().getSeq[Float](0).toSeq
      def topk(filtered: Boolean) = {
        val base = spark.read.format("graft-qdrant")
          .option("collection", "probe_srch").load()
        val src = if (filtered)
          base.filter(element_at(col(Canonical.METADATA), "label").cast("double") >= 5)
        else base
        src.withColumn("score", graft.functions.VectorExpressions
            .cosine(col(Canonical.VECTOR), typedLit(qv)))
          .orderBy(col("score").desc, col(Canonical.ID).asc).limit(10)
          .count()
      }
      time("vs search fallback (full)")(topk(filtered = false))
      time("vs search fallback (filt)")(topk(filtered = true))
    }
    spark.stop()
    sys.exit(0) // don't let stray library threads pin the forked JVM open
  }
}
