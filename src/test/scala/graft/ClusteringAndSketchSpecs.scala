package graft

import org.apache.spark.sql.functions._
import graft.ops.Clustering

/** The fused nearest-center kernel must be BIT-IDENTICAL to the
  * crossJoin+min(struct) plan it replaced — same l2 accumulation order,
  * same lowest-id tie-break — and must actually compile under codegen. */
class FusedAssignSpec extends SparkSpec {
  import spark.implicits._

  test("assign == assignViaShuffle bit-for-bit on real embeddings") {
    val e = Tables(spark, sf(), "embeddings")
    val centers = Clustering.initCenters(e, 8)
    val fused = Clustering.assign(e, centers)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    val shuffled = Clustering.assignViaShuffle(e, centers)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(fused.length == shuffled.length && fused.length > 0)
    fused.zip(shuffled).foreach { case (f, s) => assert(f == s) }
  }

  test("ties break to the lowest center id, like min(struct)") {
    // two centers at the SAME point: every vector is equidistant to both
    val emb = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val centers = Seq((7L, Seq(0.5, 0.5)), (3L, Seq(0.5, 0.5)))
      .toDF("center_id", "center")
    val got = Clustering.assign(emb, centers)
      .select("cluster_id").as[Long].collect()
    assert(got.forall(_ == 3L))
  }

  test("NearestCenterExpr generated code compiles (no interpreted fallback)") {
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val e = Tables(spark, sf(), "embeddings")
      val rows = Clustering.assign(e, Clustering.initCenters(e, 4))
        .limit(5).collect()
      assert(rows.nonEmpty)
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", prevFallback)
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("assign plan is a pure map: no join, no exchange") {
    val e = Tables(spark, sf(), "embeddings")
    val plan = Clustering.assign(e, Clustering.initCenters(e, 8))
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Join"), s"unexpected join in:\n$plan")
    assert(!plan.contains("Exchange"), s"unexpected exchange in:\n$plan")
  }
}

/** One-permutation MinHash: one universal hash per shingle binned into k
  * ranges with rotation densification — must keep the per-component
  * collision property (P[match] ≈ J) that LSH banding and the
  * match-fraction estimator rely on, and must recover the exact same
  * verified pair set as the k-hash audit kernel on the planted fixture. */
class OnePermMinHashSpec extends SparkSpec {
  import graft.ops.Dedup
  import org.apache.spark.sql.functions._

  private def docs = Tables(spark, sf(), "documents")

  test("identical texts get identical signatures; empty text all-MaxValue") {
    import spark.implicits._
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog end"),
      (2L, "the quick brown fox jumps over the lazy dog end"),
      (3L, "")).toDF("doc_id", "text")
    val sigs = Dedup.withOnePermSignature(df).select("doc_id", "minhash_sig")
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L).length == 64)
    assert(sigs(3L).forall(_ == Long.MaxValue))
  }

  test("densification fills every bin deterministically from sparse input") {
    import spark.implicits._
    // 2 tokens → 0 3-gram shingles... use a 5-token doc: 3 shingles, so
    // ≤3 of 64 bins are filled natively; the rest must densify, values
    // offset by multiples of P so they can never alias a real hash
    val df = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val sig = Dedup.withOnePermSignature(df).select("minhash_sig")
      .as[Seq[Long]].head()
    val P = 2147483647L
    assert(sig.forall(_ != Long.MaxValue))
    val native = sig.filter(_ < P)
    assert(native.nonEmpty && native.size <= 3)
    // every densified value decomposes as (borrow distance)·P + a native value
    sig.filter(_ >= P).foreach { v => assert(native.contains(v % P), s"bad densified $v") }
  }

  test("kernel guards: mismatched sig lengths throw; raw hashes don't crash OPH") {
    import spark.implicits._
    // structural mismatch (different numHashes) must be LOUD, not a
    // silently biased min-length score
    val pair = Seq((Seq(1L, 2L, 3L, 4L), Seq(1L, 2L))).toDF("a", "b")
    val e = intercept[Exception] {
      pair.select(graft.functions.HashExpressions
        .signatureMatchFraction(col("a"), col("b"))).collect()
    }
    assert(String.valueOf(e.getMessage).contains("lengths differ") ||
      Option(e.getCause).exists(c =>
        String.valueOf(c.getMessage).contains("lengths differ")), e.toString)
    // out-of-contract inputs (raw xxhash64: negative longs) are normalized
    // into [0, P) instead of driving a negative bin index (AIOOBE)
    val raw = Seq((1L, Seq(-5L, Long.MinValue + 7, 1234567890123L)))
      .toDF("doc_id", "hs")
    val sig = raw.select(graft.functions.HashExpressions
      .onePermMinHash(col("hs"), 16, 1103515245L, 12345L).as("s"))
      .as[Seq[Long]].head()
    assert(sig.length == 16)
    // shingle size must be positive (reachable from user JSON config)
    assertThrows[IllegalArgumentException] {
      graft.functions.HashExpressions.wordShingleHashes(col("hs").cast("string"), 0)
    }
    // >63 hyperplanes would alias bucket bits via Java shift masking
    assertThrows[IllegalArgumentException] {
      graft.functions.VectorExpressions.nearestCenter(col("hs"), Array.empty)
    }
    assertThrows[IllegalArgumentException] {
      org.apache.spark.sql.GraftColumnBridge.column(
        graft.functions.HyperplaneBucketExpr(
          org.apache.spark.sql.GraftColumnBridge.expression(col("hs")),
          Array.fill(64)(Array(1.0, 0.0))))
    }
  }

  test("signature match fraction estimates Jaccard (planted fixture)") {
    // planted near-dups (exact J >= 0.8): the OPH match fraction must
    // land near J on average — the property banding depends on
    val planted = docs.filter(col("doc_id") < 200)
    val sigs = Dedup.withOnePermSignature(planted).select(col("doc_id"), col("minhash_sig"))
    val exact = Dedup.minHashDuplicatePairs(planted, threshold = 0.8) // exact-verified J
    val est = exact
      .join(sigs.select(col("doc_id").as("id_a"), col("minhash_sig").as("sig_a")), "id_a")
      .join(sigs.select(col("doc_id").as("id_b"), col("minhash_sig").as("sig_b")), "id_b")
      .select(col("jaccard"),
        graft.functions.HashExpressions.signatureMatchFraction(col("sig_a"), col("sig_b")).as("est"))
      .collect()
    assert(est.nonEmpty)
    val meanAbsErr = est.map(r => math.abs(r.getDouble(0) - r.getDouble(1))).sum / est.length
    assert(meanAbsErr < 0.15, s"mean |J - est| = $meanAbsErr")
  }

  test("OPH pipeline reproduces the k-hash verified pair set (planted fixture)") {
    val planted = docs.filter(col("doc_id") < 200)
    def pairSet(onePerm: Boolean) =
      Dedup.minHashDuplicatePairs(planted, threshold = 0.8, onePerm = onePerm)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val khash = pairSet(onePerm = false)
    val oph = pairSet(onePerm = true)
    assert(khash.nonEmpty)
    assert(oph == khash, s"OPH ${oph.size} pairs vs k-hash ${khash.size}")
  }

  test("OnePermMinHashExpr generated code compiles (no interpreted fallback)") {
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val sigs = Dedup.withOnePermSignature(docs)
        .select("minhash_sig").limit(5).collect()
      assert(sigs.nonEmpty && sigs.forall(_.getSeq[Long](0).length == 64))
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", prevFallback)
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }
}

/** Product quantization: codebook training composes the distributed
  * k-means; encode/ADC are fused kernels over driver-collected codebooks.
  * The oracle gates (q_vec_pq, q_ann_pq) pin the iters=1 math; these specs
  * pin the properties the gates can't see: reconstruction improves with
  * codebook size, decode inverts encode, ADC search recalls the exact
  * neighbors, and the kernels actually compile. */
class PqSpec extends SparkSpec {
  import graft.ops.{Quantization, Similarity}
  import org.apache.spark.sql.functions._

  private def emb = Tables(spark, sf(), "embeddings")

  test("decode(encode(v)) = concat of the selected codewords, dims preserved") {
    import spark.implicits._
    val cb = Quantization.pqTrain(emb, m = 4, ksub = 8, iters = 2)
    val row = emb.select(
        Quantization.pqEncode(col("embedding"), cb).getField("codes").as("codes"))
      .select(col("codes"), Quantization.pqDecode(col("codes"), cb).as("recon"))
      .as[(Seq[Int], Seq[Double])].head()
    assert(row._1.length == 4 && row._1.forall(c => c >= 0 && c < 8))
    assert(row._2.length == 64)
    // recon subvector s must BE codeword codes(s)
    (0 until 4).foreach { s =>
      assert(row._2.slice(s * 16, (s + 1) * 16) == cb(s)(row._1(s)).toSeq)
    }
  }

  test("reconstruction error shrinks as the codebook grows") {
    def meanErr(ksub: Int, iters: Int): Double = {
      val cb = Quantization.pqTrain(emb, m = 8, ksub = ksub, iters = iters)
      emb.select(Quantization.pqEncode(col("embedding"), cb)
          .getField("recon_err").as("e"))
        .agg(avg("e")).head().getDouble(0)
    }
    val coarse = meanErr(2, 1)
    val fine = meanErr(16, 3)
    assert(fine < coarse, s"ksub=16×3iters err $fine !< ksub=2×1iter err $coarse")
  }

  private def exactTop5(queries: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id").orderBy(col("d").asc, col("cand_id").asc)
    emb.select(col("vec_id").as("cand_id"), col("embedding").as("cv"))
      .crossJoin(broadcast(queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("d", graft.functions.VectorExpressions.l2(col("qv"), col("cv")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select("query_id", "cand_id")
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
  }

  private def meanRecall(got: Map[Long, Set[Long]], truth: Map[Long, Set[Long]]): Double =
    truth.keys.toSeq.map(q => (got(q) & truth(q)).size.toDouble / truth(q).size).sum / truth.size

  test("ADC top-k recalls the exact l2 neighbors (m=16, ksub=16)") {
    // the embeddings are near-uniform on the unit sphere (pairwise l2
    // concentrates at sqrt(2) ± 0.09), the hardest regime for any
    // quantizer: raw ADC ranking still has to beat the 5/499 = 1% random
    // baseline by a wide margin
    val queries = emb.filter(col("vec_id") < 10)
    val truth = exactTop5(queries)
    val adc = Quantization.pqTopK(emb, queries, k = 5, m = 16, ksub = 16, iters = 2)
      .select("query_id", "cand_id")
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(adc.keySet == truth.keySet)
    val recall = meanRecall(adc, truth)
    assert(recall >= 0.25, s"mean ADC recall@5 = $recall") // measured 0.34
  }

  test("ADC shortlist + exact re-rank restores recall (reRank = 50)") {
    val queries = emb.filter(col("vec_id") < 10)
    val truth = exactTop5(queries)
    val rr = Quantization.pqTopK(emb, queries, k = 5, m = 16, ksub = 16, iters = 2,
        reRank = 50)
      .select("query_id", "cand_id")
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recall = meanRecall(rr, truth)
    assert(recall >= 0.8, s"mean re-ranked recall@5 = $recall") // measured 0.92
  }

  test("NearestResidualExpr agrees with assign + explicit subtraction") {
    import graft.ops.Clustering
    val centers = Clustering.initCenters(emb, 8)
    val rows = centers.orderBy("center_id")
      .select(col("center_id").cast("long"), transform(col("center"), _.cast("double")))
      .collect()
    val ids = rows.map(_.getLong(0))
    val cs = rows.map(_.getSeq[Double](1).toArray)
    val fused = emb.select(col("vec_id"),
        graft.functions.VectorExpressions.nearestResidual(col("embedding"), cs).as("nr"))
      .select(col("vec_id"), col("nr.idx").as("cell"), col("nr.residual").as("res"))
      .collect().map(r => r.getLong(0) -> (ids(r.getInt(1)), r.getSeq[Double](2))).toMap
    val assigned = Clustering.assign(emb, centers)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = emb.select(col("vec_id"), transform(col("embedding"), _.cast("double")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(fused.size == assigned.size)
    fused.foreach { case (id, (cell, res)) =>
      assert(cell == assigned(id), s"cell mismatch for $id")
      val center = cs(ids.indexOf(cell))
      val expected = vecs(id).zipWithIndex.map { case (x, i) => x - center(i) }
      assert(res == expected, s"residual mismatch for $id")
    }
  }

  test("assign handles STRING ids (canonical records) — regression") {
    import spark.implicits._
    import graft.ops.Clustering
    val df = Seq(("a", Seq(0.0f, 0.0f)), ("b", Seq(1.0f, 1.0f)), ("zz", Seq(0.9f, 0.9f)))
      .toDF("id", "vec")
    val centers = Seq(("a", Seq(0.0, 0.0)), ("b", Seq(1.0, 1.0)))
      .toDF("center_id", "center")
    val got = Clustering.assign(df, centers, "vec", "id")
      .select("id", "cluster_id").as[(String, String)].collect().toMap
    assert(got == Map("a" -> "a", "b" -> "b", "zz" -> "b"), got.toString)
  }

  test("IVF-PQ with re-rank recalls the exact neighbors; selective probe prunes") {
    val queries = emb.filter(col("vec_id") < 10)
    val truth = exactTop5(queries)
    val rr = Quantization.ivfPqTopK(emb, queries, k = 5, nCells = 8, nProbe = 4,
        m = 16, ksub = 16, quantizerIters = 2, pqIters = 2, reRank = 50)
      .select("query_id", "cand_id")
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // selective probe (4 of 8 cells) bounds attainable recall: a true
    // neighbor in an unprobed cell is invisible — the IVF trade. Still
    // must far exceed the ~nProbe/nCells * shortlist-random baseline.
    val recall = meanRecall(rr, truth)
    assert(recall >= 0.5, s"mean IVF-PQ re-ranked recall@5 = $recall")
  }

  test("PQ kernels compile under strict codegen") {
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val rows = Quantization.pqTopK(emb, emb.filter(col("vec_id") < 3), k = 3,
        m = 8, ksub = 8, iters = 1).collect()
      assert(rows.length == 9)
      val ivfpq = Quantization.ivfPqTopK(emb, emb.filter(col("vec_id") < 3), k = 3,
        nCells = 4, nProbe = 4, m = 8, ksub = 8).collect()
      assert(ivfpq.length == 9)
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", prevFallback)
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }
}

/** k-means|| oversampling init: O(rounds) distributed passes instead of
  * farthest-point's k−1, deterministic end to end (hash coins + greedy
  * weighted reduction). */
class KMeansParallelSpec extends SparkSpec {
  import graft.ops.Clustering
  import org.apache.spark.sql.functions._

  private def emb = Tables(spark, sf(), "embeddings")

  test("returns exactly k distinct centers, deterministically") {
    val k = 64
    def ids() = Clustering.initCentersParallel(emb, k, rounds = 3)
      .select("center_id").collect().map(_.getLong(0)).sorted.toSeq
    val a = ids()
    assert(a.length == k && a.distinct.length == k)
    assert(a == ids(), "two runs disagreed")
  }

  test("seeds at least match lowest-id init quality at k=64") {
    val k = 64
    def inertiaOf(init: org.apache.spark.sql.DataFrame): Double = {
      val centers = Clustering.fitCentersFrom(emb, init, iters = 2)
      Clustering.inertia(Clustering.assign(emb, centers))
    }
    val parallel = inertiaOf(Clustering.initCentersParallel(emb, k, rounds = 3))
    val lowestId = inertiaOf(Clustering.initCenters(emb, k))
    assert(parallel <= lowestId * 1.02,
      s"k-means|| inertia $parallel vs lowest-id $lowestId")
  }

  test("under-sampled tiny input is filled from lowest ids") {
    import spark.implicits._
    val tiny = (0L until 6L).map(i => (i, Seq.fill(4)(i.toFloat))).toDF("vec_id", "embedding")
    val centers = Clustering.initCentersParallel(tiny, k = 5, rounds = 1, oversample = 1)
    assert(centers.count() == 5)
    assert(centers.select("center_id").collect().map(_.getLong(0)).distinct.length == 5)
    // the fill is DETERMINISTIC: repeated runs pick the same seed set (an
    // unordered limit after the anti-join used to pick arbitrary rows)
    def ids() = Clustering.initCentersParallel(tiny, k = 5, rounds = 1, oversample = 1)
      .select("center_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids() == ids())
  }

  test("string ids are refused loudly (the driver reduction keys on long ids)") {
    import spark.implicits._
    val strIds = (0 until 6).map(i => (s"v$i", Seq.fill(4)(i.toFloat))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Clustering.initCentersParallel(strIds, k = 3, rounds = 1)
    }
    assert(e.getMessage.contains("integral"), e.getMessage)
    // fractional ids are refused too: the long truncation in the collect
    // used to miss the fill anti-join and fabricate duplicate centers
    val dblIds = (0 until 6).map(i => (i.toDouble + 0.5, Seq.fill(4)(i.toFloat)))
      .toDF("vec_id", "embedding")
    val e2 = intercept[IllegalArgumentException] {
      Clustering.initCentersParallel(dblIds, k = 3, rounds = 1)
    }
    assert(e2.getMessage.contains("integral"), e2.getMessage)
  }

  test("fitCentersFrom is one scan per round: no corpus self-join") {
    val init = Clustering.initCenters(emb, 8)
    // build one round's un-materialized plan the same way the loop does
    val (idArr, cs) = Clustering.collectCenters(init)
    val round = emb.select(col("embedding"),
        element_at(idArr,
          graft.functions.VectorExpressions.nearestCenter(col("embedding"), cs)
            .getField("idx") + 1).as("cluster_id"))
      .groupBy(col("cluster_id"))
      .agg(graft.functions.VectorAggFunctions.vecCentroid(col("embedding")).as("center"))
    val joins = round.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.isEmpty, s"Lloyd's round plans a join: $joins")
    // and the public path still converges: inertia non-increasing
    val c2 = Clustering.fitCentersFrom(emb, init, iters = 2)
    val c3 = Clustering.fitCentersFrom(emb, init, iters = 3)
    assert(Clustering.inertia(Clustering.assign(emb, c3)) <=
      Clustering.inertia(Clustering.assign(emb, c2)) + 1e-9)
  }
}

/** The pipeline ops surfaced as loadable CLI transforms
  * (`--transform graft.examples.X`), the reference's product face. */
class PipelineTransformsSpec extends SparkSpec {
  import graft.model.Canonical
  import org.apache.spark.sql.functions._
  import java.nio.file.Files
  import graft.connectors.MemoryStore

  test("QuantizeVectors dequantizes in place and stamps scale metadata") {
    import spark.implicits._
    val df = Seq(
      ("a", Seq(1.0f, -0.5f, 0.25f), Map("k" -> "1")),
      ("b", null.asInstanceOf[Seq[Float]], Map("k" -> "2")))
      .toDF(Canonical.ID, Canonical.VECTOR, Canonical.METADATA)
    val out = new graft.examples.QuantizeVectors()(df)
      .select(Canonical.ID, Canonical.VECTOR, Canonical.METADATA)
      .as[(String, Seq[Float], Map[String, String])].collect().map(r => r._1 -> r).toMap
    val (_, va, ma) = out("a")
    assert(ma.contains("q_scale") && ma.contains("q_max_err") && ma("k") == "1")
    // reconstruction error bounded by scale/2 per component
    val scale = ma("q_scale").toDouble
    Seq(1.0f, -0.5f, 0.25f).zip(va).foreach { case (x, r) =>
      assert(math.abs(x - r) <= scale / 2 + 1e-6, s"$x vs $r")
    }
    val (_, vb, mb) = out("b")
    assert(vb == null && mb("k") == "2") // no vector → untouched
  }

  test("AssignSplit stamps a deterministic ~90/5/5 split into metadata") {
    val canon = Canonical.from(Tables(spark, sf(), "embeddings"),
      idCol = "vec_id", vectorCol = Some("embedding"), metadataCols = Seq("label"))
    def splits() = new graft.examples.AssignSplit()(canon)
      .select(element_at(col(Canonical.METADATA), "split").as("s"))
      .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val counts = splits()
    assert(counts.keySet == Set("train", "val", "test"), counts.toString)
    assert(counts("train") > 400 && counts("val") < 60 && counts("test") < 60, counts.toString)
    assert(splits() == counts, "split moved between runs")
  }

  test("BalanceSources equalizes a skewed source mix, keeps the smallest whole") {
    import spark.implicits._
    val rows = (0 until 30).map(i => (s"a$i", Seq(1.0f), Map("source" -> "big"))) ++
      (0 until 10).map(i => (s"b$i", Seq(1.0f), Map("source" -> "small"))) ++
      Seq(("x", Seq(1.0f), Map.empty[String, String])) // no source → dropped
    val df = rows.toDF(Canonical.ID, Canonical.VECTOR, Canonical.METADATA)
    def counts() = new graft.examples.BalanceSources()(df)
      .select(element_at(col(Canonical.METADATA), "source").as("s"))
      .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val c = counts()
    assert(c("small") == 10, c.toString)       // binding stratum kept whole
    assert(c("big") < 30 && c("big") > 2, c.toString) // downsampled toward 10
    assert(!c.contains(null), c.toString)
    assert(counts() == c, "balance moved between runs")
  }

  test("PcaWhiten rewrites vectors to unit-variance axes, skips null vectors") {
    import spark.implicits._
    val rows = (1 to 200).map { i =>
      val t = (i % 40 - 20) * 0.5
      (s"v$i", Seq((t + (i % 3) * 0.01).toFloat, (2 * t).toFloat, (i % 5 * 0.1).toFloat),
        Map("k" -> "1"))
    } :+ (("novec", null.asInstanceOf[Seq[Float]], Map("k" -> "2")))
    val df = rows.toDF(Canonical.ID, Canonical.VECTOR, Canonical.METADATA)
    val out = new graft.examples.PcaWhiten()(df)
      .select(Canonical.ID, Canonical.VECTOR)
      .as[(String, Seq[Float])].collect().map(r => r._1 -> r._2).toMap
    assert(out("novec") == null)                  // untouched
    assert(out("v1").length == 3)                 // dimension preserved
    // every axis of the whitened cloud has ~unit variance
    val vecs = out.filter(_._1 != "novec").values.toArray
    val n = vecs.length
    for (c <- 0 until 3) {
      val xs = vecs.map(_(c).toDouble)
      val mean = xs.sum / n
      val v = xs.map(x => (x - mean) * (x - mean)).sum / n
      assert(math.abs(v - 1.0) < 0.01, s"axis $c variance $v")
    }
  }

  test("--transform loads the pipeline transforms end to end") {
    for ((cls, check) <- Seq(
      "graft.examples.QuantizeVectors" ->
        ((m: Map[String, String]) => m.contains("q_scale")),
      "graft.examples.AssignSplit" ->
        ((m: Map[String, String]) => Set("train", "val", "test").contains(m("split"))),
      "graft.examples.PcaWhiten" ->
        ((m: Map[String, String]) => true),
      "graft.examples.ClusterBySimilarity" ->
        ((m: Map[String, String]) => true))) {
      MemoryStore.drop("cli_pt")
      val cfg = Files.createTempFile("graft", ".json")
      Files.writeString(cfg,
        s"""{"source": {"type": "parquet", "connection": {"path": "${sf()}"},
           |            "query": {"table_name": "embeddings", "id_column": "vec_id",
           |                      "vector_column": "embedding", "limit": 12}},
           | "target": {"type": "memory", "connection": {},
           |            "load": {"collection": "cli_pt", "recreate": true}}}""".stripMargin)
      assert(graft.cli.Main.run(Array("--config", cfg.toString, "--transform", cls)) == 0)
      val stored = MemoryStore.get("cli_pt").get._1
      assert(stored.length == 12, cls)
      assert(stored.forall(r => check(r.getAs[Map[String, String]](Canonical.METADATA))), cls)
    }
  }
}
