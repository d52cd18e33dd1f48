package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Similarity}
import graft.connectors.vectorstore._
import graft.model.Canonical

/** The flagship hash kernels must actually COMPILE under codegen — a Janino
  * failure normally demotes the whole subtree to interpreted eval silently
  * (which is exactly what a wrong class reference in the generated source
  * did in round 2). CODEGEN_ONLY + fallback=false turn that silent demotion
  * into a test failure. */
class CodegenStrictSpec extends SparkSpec {

  private def strict[A](body: => A): A = {
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback", "true")
    val prevWsFallback = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try body
    finally {
      spark.conf.set("spark.sql.codegen.fallback", prevFallback)
      spark.conf.set("spark.sql.codegen.wholeStage", prevWsFallback)
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("MinHashSignatureExpr generated code compiles (no interpreted fallback)") {
    strict {
      val sigs = Dedup.withMinHashSignature(Tables(spark, sf(), "documents"))
        .select("minhash_sig").limit(5).collect()
      assert(sigs.nonEmpty && sigs.forall(_.getSeq[Long](0).length == 64))
    }
  }

  test("SimHash64Expr generated code compiles") {
    strict {
      val fps = Tables(spark, sf(), "documents")
        .select(Dedup.simHash(col("text")).as("fp")).limit(5).collect()
      assert(fps.nonEmpty)
    }
  }

  test("full minhash pair pipeline runs codegen-strict end to end") {
    strict {
      // count() forces every stage: shingle, sign, band, join, verify
      assert(Dedup.minHashDuplicatePairs(
        Tables(spark, sf(), "documents"), threshold = 0.5).count() >= 0)
    }
  }

  test("estimate-mode pair pipeline runs codegen-strict end to end") {
    strict {
      assert(Dedup.minHashDuplicatePairs(
        Tables(spark, sf(), "documents"), threshold = 0.5, verifyExact = false).count() >= 0)
    }
  }

  test("Int8QuantizeExpr generated code compiles") {
    strict {
      val rows = Tables(spark, sf(), "embeddings")
        .select(graft.functions.VectorExpressions.int8Quantize(col("embedding")).as("q"))
        .select(col("q.scale"), col("q.codes"), col("q.max_err")).limit(5).collect()
      assert(rows.nonEmpty && rows.forall(_.getSeq[Int](1).nonEmpty))
    }
  }

  test("BloomMightContainExpr generated code compiles (bloom decontamination path)") {
    strict {
      val docs = Tables(spark, sf(), "documents")
      val out = graft.ops.Decontaminate.bloomContainment(
        docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20),
        expectedShingles = 100000L, fpp = 1e-8).collect()
      assert(out.nonEmpty)
    }
  }

  test("BloomHitCountExpr generated code compiles (n-gram collision gate)") {
    strict {
      import spark.implicits._
      val evalDir = java.nio.file.Files.createTempDirectory("cg_bloomhits")
        .resolve("eval").toString
      Seq("the quick brown fox jumps over the lazy dog every day")
        .toDF("text").write.parquet(evalDir)
      val docs = Seq(
        ("1", Seq(1.0f), Map("text" -> "the quick brown fox jumps over the lazy dog every day")),
        ("2", Seq(1.0f), Map("text" -> "nothing shared with any benchmark item at all today")))
        .toDF(Canonical.ID, Canonical.VECTOR, Canonical.METADATA)
      val out = graft.ops.Transforms.decontaminate(evalDir)(docs)
        .select(Canonical.ID).collect().map(_.getString(0)).toSeq
      assert(out == Seq("2"), out.toString)
    }
  }

  test("NearestEvalExpr generated code compiles (semantic decontamination argmax)") {
    strict {
      val emb = Tables(spark, sf(), "embeddings")
      val out = graft.ops.Decontaminate.semanticContainment(
        emb.filter(col("vec_id") % 20 =!= 0), emb.filter(col("vec_id") % 20 === 0),
        threshold = 0.5).collect()
      assert(out.nonEmpty)
    }
  }
}

/** Round-2 verdict item 3: `dim = 64` was hardcoded in the LSH paths — any
  * other embedding width got wrong-length hyperplanes and silently-garbage
  * buckets. Dim is now derived from the data (or passed explicitly). */
class DynamicDimSpec extends SparkSpec {
  import spark.implicits._

  // 8-dim corpus: ids 0..9 pseudo-random, ids 100..109 exact twins of them.
  // Twins have cosine 1.0 and identical hyperplane signs — LSH MUST pair
  // them regardless of bucket layout; non-twin cosines stay well below 1.
  private lazy val emb = {
    val rnd = new scala.util.Random(11)
    val base = (0 until 10).map(i => i.toLong -> Array.fill(8)(rnd.nextFloat()))
    (base ++ base.map { case (i, v) => (i + 100) -> v })
      .map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
  }

  test("lshCosinePairs finds all planted twins at dim=8") {
    val got = Similarity.lshCosinePairs(emb, threshold = 0.9999, bits = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val want = (0 until 10).map(i => (i.toLong, i + 100L)).toSet
    assert(got == want)
  }

  test("lshTopK ranks the twin first with score 1.0 at dim=8") {
    val top = Similarity.lshTopK(emb, emb.filter(col("vec_id") < 3), k = 1, bits = 4)
      .select("query_id", "cand_id", "score")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(top.map(t => (t._1, t._2)).toSeq == Seq((0L, 100L), (1L, 101L), (2L, 102L)))
    assert(top.forall(_._3 == 1.0))
  }

  test("explicit dim parameter overrides inference") {
    val got = Similarity.lshCosinePairs(emb, threshold = 0.9999, bits = 4, dim = 8)
      .count()
    assert(got == 10)
  }
}

/** Intra-doc repetition metrics and PII redaction — the Gopher/C4-style
  * filter family plus scrubbing, on planted inputs with known answers. */
class TextPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("repetitionStats flags a document that repeats one phrase") {
    val docs = Seq(
      (1L, "buy now " * 20),                        // one bigram repeated
      (2L, "the quick brown fox jumps over dogs"),  // no repetition
      (3L, "")                                      // empty
    ).toDF("doc_id", "text")
    val r = graft.ops.TextAnalysis.repetitionStats(docs)
      .orderBy("doc_id")
      .select("doc_id", "n_bigrams", "dup_bigram_ratio", "top_bigram_frac")
      .collect()
    // "buy now "*20 -> 40 tokens -> 39 bigrams, only 2 distinct
    assert(r(0).getInt(1) == 39)
    assert(r(0).getDouble(2) > 0.9)
    assert(r(0).getDouble(3) > 0.5) // "now buy" 19/39, "buy now" 20/39
    assert(r(1).getDouble(2) == 0.0 && r(1).getDouble(3) < 0.2)
    assert(r(2).getInt(1) == 0 && r(2).getDouble(3) == 0.0)
  }

  test("repetitionStats evaluates each n-gram array ONCE, below the explode " +
    "(a per-doc column above the Generate re-runs per bigram: O(len²))") {
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    import graft.functions.WordNgramsExpr
    // the gate's own input: a file scan (a local Seq would be folded away)
    val plan = graft.ops.TextAnalysis.repetitionStats(Tables(spark, sf(), "documents"))
      .queryExecution.optimizedPlan
    def ngrams(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      e.collect { case w: WordNgramsExpr => w.n }
    val aboveGenerate = plan.collect {
      case p if !p.isInstanceOf[Generate] && p.exists(_.isInstanceOf[Generate]) => p
    }
    assert(aboveGenerate.nonEmpty, s"no Generate in the plan:\n$plan")
    aboveGenerate.foreach(p => assert(p.expressions.flatMap(ngrams).isEmpty,
      s"word_ngrams evaluated above the Generate in ${p.nodeName}:\n$plan"))
    val evals = plan.collect { case p => p.expressions.flatMap(ngrams) }.flatten.sorted
    assert(evals == Seq(2, 5), s"expected one word_ngrams per n, got $evals:\n$plan")
  }

  test("repetitionStats matches a plain-Scala reference on edge-case and long documents") {
    def round6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // the kernel's tokenizer: SQL trim (spaces only, so "\t\n" survives
    // as two empty tokens), split on \s+ keeping trailing empties, lower
    def grams(text: String, n: Int): Seq[String] = {
      val t = Option(text).getOrElse("").dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      val toks = if (t.isEmpty) Seq.empty else t.split("\\s+", -1).toSeq.map(_.toLowerCase)
      if (toks.length < n) Seq.empty else toks.sliding(n).map(_.mkString(" ")).toSeq
    }
    def dup(g: Seq[String]) = if (g.isEmpty) 0.0 else 1.0 - g.distinct.size.toDouble / g.size
    def reference(text: String): (Int, Double, Double, Double) = {
      val g2 = grams(text, 2)
      val top = if (g2.isEmpty) 0.0
        else g2.groupBy(identity).values.map(_.size).max.toDouble / g2.size
      (g2.size, round6(dup(g2)), round6(dup(grams(text, 5))), round6(top))
    }
    // a ~300-char fixture-sized document, and one 64x that length with
    // mixed case and uneven whitespace (repeats and near-repeats)
    val rnd = new scala.util.Random(7)
    val vocab = Seq("the", "Data", "model", "of", "a", "TEXT", "run", "and", "corpus", "to")
    def words(k: Int) = Seq.fill(k)(vocab(rnd.nextInt(vocab.size)))
    val fixture = words(60).mkString(" ")
    val long = Seq.fill(64)(words(60).mkString(" \t ")).mkString("\n")
    assert(fixture.length >= 200 && long.length >= 64 * fixture.length)
    val texts = Seq[String](null, "", "   ", "  \t\n ", "one", "Buy now buy NOW", fixture, long)
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.repetitionStats(docs).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(got.size == texts.size)
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) == reference(t), s"doc $i (${Option(t).map(_.length)} chars)")
    }
    assert(got(3L)._1 == 1)    // "\t\n": two empty tokens, one bigram
    assert(got(7L)._1 > 3000) // the long document really is long
  }

  test("redactPii replaces emails, IPs, and phone runs with typed tags") {
    val docs = Seq(
      (1L, "mail alice.smith+x@corp.example.com or call +1 555-123 4567 at 192.168.0.12"),
      (2L, "no pii here")
    ).toDF("doc_id", "text")
    val r = graft.ops.TextAnalysis.redactPii(docs).orderBy("doc_id").collect()
    assert(r(0).getString(1) == "mail <EMAIL> or call <PHONE> at <IP>")
    assert(r(0).getBoolean(2))
    assert(r(1).getString(1) == "no pii here" && !r(1).getBoolean(2))
  }
}

/** Round-2 verdict item 6: the vector-store transport is an explicit trait;
  * the DSv2 scan/write path must route every store call through whatever
  * transport is registered — proven here with a call-counting wrapper. */
class TransportSeamSpec extends SparkSpec {
  import spark.implicits._

  private class CountingTransport(inner: VectorStoreTransport) extends VectorStoreTransport {
    val calls = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    private def tick(k: String): Unit = calls.merge(k, 1L, (a, b) => a + b)
    override def createCollection(n: String, c: CollectionConfig, r: Boolean): Unit = {
      tick("createCollection"); inner.createCollection(n, c, r)
    }
    override def exists(n: String): Boolean = { tick("exists"); inner.exists(n) }
    override def describe(n: String): Option[CollectionConfig] = { tick("describe"); inner.describe(n) }
    override def scroll(n: String, f: Int, p: Int): Seq[VSRecord] = { tick("scroll"); inner.scroll(n, f, p) }
    override def count(n: String): Int = { tick("count"); inner.count(n) }
    override def upsert(n: String, rs: Seq[VSRecord]): Int = { tick("upsert"); inner.upsert(n, rs) }
    override def delete(n: String, ids: Seq[String]): Int = { tick("delete"); inner.delete(n, ids) }
    override def drop(n: String): Unit = { tick("drop"); inner.drop(n) }
  }

  test("DSv2 write and scan route through the registered transport") {
    val mock = new CountingTransport(InMemoryTransport)
    val prev = VectorStore.use(mock)
    try {
      (0 until 300).map(i => (i.toString, Seq.fill(4)(i.toFloat), Map("k" -> s"v$i")))
        .toDF(Canonical.ID, Canonical.VECTOR, Canonical.METADATA)
        .write.format("graft-qdrant").option("collection", "seam")
        .option("recreate", "true").option("batch_size", "64").mode("overwrite").save()
      val n = spark.read.format("graft-qdrant").option("collection", "seam")
        .option("page_size", "100").load().count()
      assert(n == 300)
      assert(mock.calls.getOrDefault("createCollection", 0L) >= 1L)
      assert(mock.calls.getOrDefault("upsert", 0L) >= 5L) // 300 rows / batch 64
      assert(mock.calls.getOrDefault("scroll", 0L) >= 3L) // 300 rows / page 100
      assert(mock.calls.getOrDefault("count", 0L) >= 1L)  // partition planning
    } finally VectorStore.use(prev)
  }
}

/** Round-2 verdict item 7: the LSH bucket-size skew guard is a partial
  * aggregate + equi-join, not a Window — window state over the full band
  * table is exactly what we can't afford at 100 TB. */
class BucketGuardPlanSpec extends SparkSpec {
  import spark.implicits._

  test("minHashDuplicatePairs plan contains no Window node") {
    val plan = Dedup.minHashDuplicatePairs(Tables(spark, sf(), "documents"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"unexpected Window in plan:\n$plan")
  }

  test("the signature scan runs ONCE: all banded-relation consumers reuse one shuffle stage") {
    // collect() executes THIS QueryExecution (count() would clone it), so
    // the AQE final plan is inspectable afterwards. The guard aggregate,
    // both self-join sides, and the verify broadcast must resolve to one
    // signature scan + ReusedExchange (isnotnull/count(id) alignment).
    val df = Dedup.minHashDuplicatePairs(Tables(spark, sf(), "documents"))
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val sigScans = finalPlan.split("\n").count(_.contains("minhash_signature"))
    assert(sigScans == 1,
      s"expected exactly 1 minhash_signature projection in the final plan, got $sigScans")
    assert(finalPlan.contains("ReusedExchange"), "expected AQE stage reuse in the final plan")
  }

  test("the shingle kernel runs once per signing branch (no shingle-count filter to push down)") {
    // a Filter on the shingle count above the signing projection is pushed
    // below it with the kernel inlined — two kernel passes per document
    val docs = Tables(spark, sf(), "documents")
    def n(plan: String, re: String) = re.r.findAllMatchIn(plan).length
    val table = Dedup.signatureTable(docs, portable = true).queryExecution.optimizedPlan.toString
    assert(n(table, "portable_shingle_hashes\\(") == 1, table)
    // exact portable pairs: each signing branch wraps the kernel in its
    // signature; the only other use is the verify's shingle table (`sh_a`,
    // `sh_b`)
    val pairs = Dedup.minHashDuplicatePairs(docs, portable = true)
      .queryExecution.optimizedPlan.toString
    val signing = n(pairs, "minhash_signature\\(portable_shingle_hashes\\(")
    val verify = n(pairs, "portable_shingle_hashes\\([^()]*\\) AS sh_[ab]#")
    assert(signing >= 1 && verify >= 1, pairs)
    assert(n(pairs, "portable_shingle_hashes\\(") == signing + verify, pairs)
  }

  test("guard still caps oversized buckets and keeps duplicate pairs") {
    // 40 exact copies of one text: every band bucket holds all 40 ids.
    // maxBucket=10 must drop those buckets -> no pairs; maxBucket=1000 keeps
    // them -> all 780 pairs at jaccard 1.0.
    val docs = (0 until 40).map(i => (i.toLong, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val capped = Dedup.minHashDuplicatePairs(docs, threshold = 0.9, maxBucket = 10).count()
    val kept = Dedup.minHashDuplicatePairs(docs, threshold = 0.9, maxBucket = 1000).count()
    assert(capped == 0)
    assert(kept == 40L * 39 / 2)
  }
}

/** `VectorExpressions.roundHalfUp6` must be bit-identical to the SQL
  * surface's `round(x, 6)` — the fused decontamination argmax
  * (NearestEvalExpr) bakes the rounding into its kernel, and the DuckDB
  * oracle adjudicates through Spark's round. Pin it on adversarial
  * half-way values AND on real cosine outputs. */
class RoundParitySpec extends SparkSpec {
  import spark.implicits._

  test("roundHalfUp6 equals Spark round(x, 6) on half-way and random values") {
    val adversarial = Seq(
      0.1234565, 0.12345649999, 0.1234575, -0.1234565, -0.1234575,
      0.9999995, -0.9999995, 1.0000005, 0.0000005, -0.0000005,
      0.5e-6, 1.5e-6, -1.5e-6, 0.0, 1.0, -1.0, 0.3333333333333333,
      0.6666666666666666, 0.49999949999999997, 2.220446049250313e-16)
    val rnd = new scala.util.Random(42)
    val vals = adversarial ++ Seq.fill(2000)(rnd.nextDouble() * 2 - 1)
    val viaSpark = vals.toDF("x").select(round(col("x"), 6)).as[Double].collect()
    val viaKernel = vals.map(graft.functions.VectorExpressions.roundHalfUp6)
    vals.indices.foreach { i =>
      assert(java.lang.Double.doubleToLongBits(viaSpark(i)) ==
        java.lang.Double.doubleToLongBits(viaKernel(i)),
        s"mismatch at ${vals(i)}: spark=${viaSpark(i)} kernel=${viaKernel(i)}")
    }
  }

  test("NaN embeddings fail CLOSED: flagged contaminated, lowest eval id, both faces") {
    import spark.implicits._
    val evalSet = Seq((5L, Seq(1.0f, 0.0f)), (3L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val train = Seq(
      (1L, Seq(Float.NaN, 0.5f)),       // corrupt -> must flag
      (2L, Seq(1.0f, 0.0f)))            // clean twin of eval 5
      .toDF("vec_id", "embedding")
    def check(out: org.apache.spark.sql.DataFrame): Unit = {
      val rows = out.collect().map(r =>
        r.getLong(0) -> ((r.getDouble(1), r.getLong(2), r.getBoolean(3)))).toMap
      val (c1, id1, flag1) = rows(1L)
      assert(c1.isNaN && flag1, s"corrupt row passed: $c1 flagged=$flag1")
      assert(id1 == 3L, s"NaN tie must keep the LOWEST eval id, got $id1")
      val (c2, id2, flag2) = rows(2L)
      assert(c2 == 1.0 && id2 == 5L && flag2)
    }
    check(graft.ops.Decontaminate.semanticContainment(train, evalSet, threshold = 0.9))
    check(graft.streaming.StreamOps.streamingSemanticDecontaminate(
        train, evalSet, threshold = 0.9)
      .select("vec_id", "max_cosine", "nearest_eval_id", "contaminated"))
  }

  test("an oversized eval set fails with the fix, not a driver OOM mid-collect") {
    // 500k+ "eval" rows is the signature of swapped arguments (the TRAIN
    // side handed to the collect) - the guard names that and the LSH face
    val big = spark.range(graft.ops.Decontaminate.MaxEvalRows + 5L)
      .selectExpr("id as vec_id", "array(cast(id as float)) as embedding")
    val tiny = spark.range(3).selectExpr("id as vec_id",
      "array(cast(id as float)) as embedding")
    val e = intercept[IllegalArgumentException] {
      graft.ops.Decontaminate.semanticContainment(tiny, big, threshold = 0.5)
    }
    assert(e.getMessage.contains("semanticContainmentLsh"), e.getMessage)
  }

  test("null eval rows are ignored, not an NPE at plan time") {
    import spark.implicits._
    val evalSet = Seq(
      (5L, Seq(1.0f, 0.0f)),
      (9L, null.asInstanceOf[Seq[Float]])) // crawl debris in the eval table
      .toDF("vec_id", "embedding")
    val train = Seq((2L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = graft.ops.Decontaminate.semanticContainment(train, evalSet, threshold = 0.9)
      .collect()
    assert(out.length == 1 && out.head.getLong(2) == 5L && out.head.getBoolean(3))
  }

  test("fused argmax equals the crossJoin/groupBy formulation on real embeddings") {
    val emb = Tables(spark, sf(), "embeddings")
    val train = emb.filter(col("vec_id") % 20 =!= 0)
    val evalSet = emb.filter(col("vec_id") % 20 === 0)
    val fused = graft.ops.Decontaminate.semanticContainment(train, evalSet, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2), r.getBoolean(3)))).toMap
    // the retired plan shape, replayed inline as the independent oracle
    val e = broadcast(evalSet.select(col("vec_id").cast("long").as("__eid"),
      col("embedding").as("__ev")))
    val old = train.select(col("vec_id"), col("embedding").as("__tv")).crossJoin(e)
      .withColumn("__c", round(
        graft.functions.VectorFunctions.cosineSimilarity(col("__tv"), col("__ev")), 6))
      .groupBy("vec_id")
      .agg(max(struct(col("__c").as("c"), (-col("__eid")).as("negid"))).as("best"))
      .select(col("vec_id"), col("best.c"), (-col("best.negid")), col("best.c") >= 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(fused == old)
  }
}
