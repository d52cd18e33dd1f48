package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.{TextFunctions, VectorFunctions}

class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("vector functions agree with hand-computed values") {
    val df = Seq((Seq(3f, 4f), Seq(4f, 3f))).toDF("a", "b")
    val r = df.select(
      VectorFunctions.dotProduct(col("a"), col("b")).as("dot"),
      VectorFunctions.l2Norm(col("a")).as("na"),
      VectorFunctions.cosineSimilarity(col("a"), col("b")).as("cos"),
      VectorFunctions.l2Distance(col("a"), col("b")).as("dist")).head()
    assert(r.getDouble(0) == 24.0)
    assert(r.getDouble(1) == 5.0)
    assert(math.abs(r.getDouble(2) - 0.96) < 1e-12)
    assert(math.abs(r.getDouble(3) - math.sqrt(2.0)) < 1e-12)
  }

  test("zero vectors: cosine 0, normalize identity") {
    val df = Seq((Seq(0f, 0f), Seq(1f, 1f))).toDF("a", "b")
    assert(df.select(VectorFunctions.cosineSimilarity(col("a"), col("b"))).head().getDouble(0) == 0.0)
    assert(df.select(VectorFunctions.normalize(col("a"))).head()
      .getSeq[Double](0) == Seq(0.0, 0.0))
  }

  test("text functions: tokens, shingles, jaccard") {
    val df = Seq(Tuple1("the quick  brown fox")).toDF("t")
    assert(df.select(TextFunctions.tokenCount(col("t"))).head().getInt(0) == 4)
    val sh = df.select(TextFunctions.wordShingles(col("t"), 2)).head().getSeq[String](0)
    assert(sh == Seq("the quick", "quick brown", "brown fox"))
    val j = Seq(("a b c d", "b c d e")).toDF("x", "y")
      .select(TextFunctions.jaccard(
        TextFunctions.wordShingles(col("x"), 2), TextFunctions.wordShingles(col("y"), 2)))
      .head().getDouble(0)
    assert(math.abs(j - 2.0 / 4.0) < 1e-12) // {b c, c d} of {a b, b c, c d, d e}
  }

  test("langId picks the marker-dominant language, und when none") {
    val df = Seq("the cat and the dog is here", "der hund und die katze ist da",
      "xyzzy plugh").toDF("t")
    val out = df.select(TextFunctions.langId(col("t"))).as[String].collect().toSeq
    assert(out == Seq("en", "de", "und"))
  }

  test("simhash: identical text -> distance 0, heavy overlap -> small distance") {
    val df = Seq(
      ("a", "spark is a fast engine for large data"),
      ("b", "spark is a fast engine for large data"),
      ("c", "spark is a fast engine for big data"),
      ("d", "completely different words entirely unrelated")).toDF("id", "text")
    val fp = df.select(col("id"), Dedup.simHash(col("text")).as("f")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fp("a") == fp("b"))
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(fp("a"), fp("c")) < ham(fp("a"), fp("d")))
  }

  test("minhash LSH finds a planted near-duplicate") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val near = base.replace("mu", "nu") // 1 token differs
    val docs = (Seq(("0", base), ("1", near)) ++
      (2 until 30).map(i => (i.toString, s"unrelated text number $i with words w$i x$i y$i z$i v$i u$i t$i s$i"))).
      toDF("doc_id", "text")
    val pairs = Dedup.minHashDuplicatePairs(docs, threshold = 0.4)
      .select("id_a", "id_b").as[(String, String)].collect().toSet
    assert(pairs.contains(("0", "1")), s"expected planted pair, got $pairs")
  }

  test("sorted-merge Jaccard equals the built-in set formulation on random inputs") {
    val rnd = new scala.util.Random(7)
    // random sorted-distinct long arrays of varied sizes, incl. empties
    val rows = (0 until 200).map { i =>
      def arr() = rnd.shuffle((0L until 40L).toList).take(rnd.nextInt(12)).sorted.toArray
      (i.toLong, arr(), arr())
    }
    val df = rows.toDF("id", "a", "b")
    val out = df.select(
      graft.functions.HashExpressions.sortedJaccard(col("a"), col("b")).as("merge"),
      graft.functions.TextFunctions.jaccard(col("a"), col("b")).as("builtin"))
      .as[(Double, Double)].collect()
    assert(out.length == 200)
    out.foreach { case (m, b) => assert(m == b, s"$m != $b") }
  }

  test("estimate-mode verify finds the planted pair and tracks exact Jaccard") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val near = base.replace("mu", "nu")
    // ids 30..32 have no 3-word shingle: both kernels sign them to the
    // same all-sentinel signature, which must never make them a pair
    val docs = (Seq(("0", base), ("1", near)) ++
      (2 until 30).map(i => (i.toString, s"unrelated text number $i with words w$i x$i y$i z$i v$i u$i t$i s$i")) ++
      Seq(("30", "hello world"), ("31", "ok"), ("32", ""))).
      toDF("doc_id", "text")
    for (onePerm <- Seq(false, true)) {
      val est = Dedup.minHashDuplicatePairs(docs, threshold = 0.4, verifyExact = false,
        onePerm = onePerm)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
      assert(est.contains(("0", "1")), s"onePerm=$onePerm: expected planted pair, got ${est.keySet}")
      // the planted pair's exact hashed-shingle Jaccard is 9/11 (only the
      // final 3-shingle differs); the k=64 signature estimate must land
      // near it (binomial sd ≈ 0.05)
      assert(math.abs(est(("0", "1")) - 9.0 / 11.0) < 0.2, est(("0", "1")).toString)
      // no unrelated or shingle-less doc pairs survive the threshold
      assert(est.keySet.forall { case (a, b) => (a, b) == (("0", "1")) },
        s"onePerm=$onePerm: ${est.keySet}")
    }
    val kept = Dedup.fuzzyDedupPipeline(docs, verifyExact = false)
      .select("doc_id").as[String].collect().toSet
    assert(Set("30", "31", "32").subsetOf(kept), kept.toString)
  }

  test("quantile quality cut keeps at least the requested fraction, stable under repartition") {
    val docs = graft.Tables(spark, sf(), "documents")
    val kept = TextAnalysis.qualityFilterByQuantile(docs, keepTop = 0.8)
    val n = docs.count().toDouble
    val frac = kept.count() / n
    // >= because score ties at the cutoff all pass the >= filter
    assert(frac >= 0.8 - 1e-9 && frac < 0.95, frac.toString)
    val a = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val b = TextAnalysis.qualityFilterByQuantile(docs.repartition(7), keepTop = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b)
  }

  test("vocabulary counts term and document frequencies with a deterministic cut") {
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "apple")).toDF("doc_id", "text")
    val v = TextAnalysis.vocabulary(docs, topK = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // apple tf=3 df=2; banana tf=2 df=2; cherry cut at topK=2
    assert(v == Seq(("apple", 3L, 2L), ("banana", 2L, 2L)), v.toString)
  }

  // each connectedComponents case runs on both paths: the driver finish
  // (default bound) and the distributed loop (bound 0)
  private val ccBounds = Seq(1L << 20, 0L)

  test("connectedComponents merges chains and keeps islands separate") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (22L, 23L))
      .toDF("id_a", "id_b")
    for (bound <- ccBounds) {
      val comps = Dedup.connectedComponents(pairs, driverMaxEdges = bound).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(Seq(1L, 2L, 3L).forall(comps(_) == 1L), s"bound $bound")
      assert(Seq(10L, 11L).forall(comps(_) == 10L), s"bound $bound")
      assert(Seq(20L, 21L, 22L, 23L).forall(comps(_) == 20L), s"bound $bound")
    }
  }

  test("connectedComponents converges on a 64-node chain within maxIter=20 " +
    "(pointer jumping: pure propagation would need 63 rounds)") {
    val pairs = (1L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    for (bound <- ccBounds) {
      val comps = Dedup.connectedComponents(pairs, driverMaxEdges = bound).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(comps.size == 64 && (1L to 64L).forall(comps(_) == 1L), s"bound $bound: $comps")
    }
  }

  test("connectedComponents: a loop out of rounds throws, naming them and the last change count") {
    val pairs = (1L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[Dedup.ComponentsNotConvergedException](
      Dedup.connectedComponents(pairs, maxIter = 2, driverMaxEdges = 0L))
    assert(e.rounds == 2 && e.lastChanged > 0, e.getMessage)
    assert(e.getMessage.contains("2 rounds") && e.getMessage.contains(s"${e.lastChanged} labels"),
      e.getMessage)
    // the driver finish needs no rounds
    assert(Dedup.connectedComponents(pairs, maxIter = 2).count() == 64)
  }

  test("connectedComponents: the driver finish returns the loop's rows and schema " +
    "on null ids, self-loops, duplicate and reversed edges, a chain and no edges") {
    val nullable = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (2L, 1L), (2L, 1L), (3L, 3L), (4L, null), (null, null), (null, 5L),
      (7L, 6L), (6L, 8L)).toDF("id_a", "id_b")
    val chain = (1L until 64L).map(i => (65L - i, 64L - i)).toDF("id_a", "id_b")
    val none = Seq.empty[(String, String)].toDF("id_a", "id_b")
    for (pairs <- Seq(nullable, chain, none)) {
      val Seq(driver, loop) = ccBounds.map(b => Dedup.connectedComponents(pairs, driverMaxEdges = b))
      assert(driver.schema == loop.schema)
      assert(driver.collect().toSet == loop.collect().toSet, pairs.schema.simpleString)
    }
    val labels = Dedup.connectedComponents(nullable).collect()
      .map(r => Option(r.get(0)) -> Option(r.get(1))).toMap
    assert(labels == Map(Some(1L) -> Some(1L), Some(2L) -> Some(1L), Some(3L) -> Some(3L),
      Some(4L) -> Some(4L), Some(5L) -> Some(5L), Some(6L) -> Some(6L), Some(7L) -> Some(6L),
      Some(8L) -> Some(6L), None -> None), labels.toString)
    // Spark orders strings by UTF-8 bytes: "｡" (U+FF61) < "😀" (U+1F600),
    // the reverse of Java's UTF-16 compareTo
    val strings = Seq(("😀", "｡")).toDF("id_a", "id_b")
    for (bound <- ccBounds)
      assert(Dedup.connectedComponents(strings, driverMaxEdges = bound).as[(String, String)]
        .collect().toSet == Set("😀" -> "｡", "｡" -> "｡"), s"bound $bound")
  }

  test("keepCanonical over a small pair list runs two executions in connectedComponents " +
    "(materialize + collect, no label rounds)") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val docs = (1L to 6L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val (kept, n) = executionsDuring(_ => true)(Dedup.keepCanonical(docs, pairs))
    assert(n == 2, s"$n executions")
    assert(kept.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 4L, 5L))
  }

  test("keepCanonical keeps one doc per cluster plus all unpaired docs") {
    val docs = (1L to 6L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = Dedup.keepCanonical(docs, pairs).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 4L, 5L, 6L)) // 2,3 collapse into 1
  }

  test("exact dedup groups identical normalized text") {
    val docs = Seq(("1", "Hello World"), ("2", "  hello world "), ("3", "other"))
      .toDF("doc_id", "text")
    val out = Dedup.exactDuplicates(docs, idCol = "doc_id").collect()
    assert(out.length == 2)
    assert(out.find(_.getLong(1) == 2L).get.getString(0) == "1") // keeps lowest id
  }

  test("bruteForceTopK returns exact nearest neighbors with deterministic ties") {
    val vecs = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0f, 1f)), (4L, Seq(0.8f, 0.2f)))
      .toDF("vec_id", "embedding")
    val res = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 1), k = 2)
      .select("cand_id").as[Long].collect().toSeq
    assert(res == Seq(2L, 4L))
  }

  test("mmrTopK suppresses a duplicate that pure relevance would rank second") {
    // cand 2 duplicates cand 1 (the best match); MMR must skip it for the
    // diverse cand 3, while plain top-k takes the duplicate
    val cands = Seq(
      (1L, Seq(1f, 0f, 0f)), (2L, Seq(1f, 0f, 0f)),
      (3L, Seq(0.7f, 0.7f, 0f)), (4L, Seq(0.6f, 0.75f, 0f)))
      .toDF("vec_id", "embedding")
    val q = Seq((10L, Seq(0.95f, 0.1f, 0f))).toDF("vec_id", "embedding")
    val plain = Similarity.bruteForceTopK(cands, q, k = 2)
      .select("cand_id").as[Long].collect().toSeq
    assert(plain == Seq(1L, 2L))
    // cand 4 wins step 2: sim(4,1)=0.625 < sim(2,1)=1.0 and its lower
    // relevance is more than repaid by the smaller redundancy penalty
    val mmr = Similarity.mmrTopK(cands, q, k = 2, lambda = 0.5, nCand = 4)
      .orderBy("rk").select("cand_id").as[Long].collect().toSeq
    assert(mmr == Seq(1L, 4L))
  }

  test("mmrTopK matches an independent greedy reference on the fixture") {
    val emb = graft.Tables(spark, sf("sf0.001"), "embeddings")
    val out = Similarity.mmrTopK(emb, emb.filter(col("vec_id") < 3), k = 5,
      lambda = 0.7, nCand = 20)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    // reference: same shortlist, naive O(k·n²) greedy in plain Scala over
    // the same integer score grid (λ in thousandths, 1e-6 rel/pen grid)
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      if (na == 0 || nb == 0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    def grid6(x: Double): Long =
      BigDecimal(x * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    for (qid <- 0L until 3L) {
      val rel = vecs.keys.filter(_ != qid).map { c =>
        c -> grid6(BigDecimal(cos(vecs(qid), vecs(c)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toSeq.sortBy(c => (-c._2, c._1)).take(20)
      val sel = scala.collection.mutable.ArrayBuffer.empty[Long]
      while (sel.length < 5) {
        val pick = rel.filterNot(c => sel.contains(c._1)).maxBy { case (cid, r6) =>
          val pen = if (sel.isEmpty) 0L
            else grid6(sel.map(s => cos(vecs(cid), vecs(s))).max)
          (700 * r6 - 300 * pen, r6, -cid): (Long, Long, Long)
        }
        sel += pick._1
      }
      sel.zipWithIndex.foreach { case (cid, i) =>
        assert(out((qid, i + 1)) == cid, s"query $qid rank ${i + 1}")
      }
    }
  }

  test("mmrTopK with an explicit shortlist equals the default brute-force path") {
    val emb = graft.Tables(spark, sf("sf0.001"), "embeddings")
    val q = emb.filter(col("vec_id") < 3)
    val dflt = Similarity.mmrTopK(emb, q, k = 5, nCand = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val short = Similarity.bruteForceTopK(emb, q, k = 20)
    val explicit = Similarity.mmrTopK(emb, q, k = 5, nCand = 20,
      shortlist = Some(short))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(explicit == dflt)
  }

  test("mmrTopK over an IVF-PQ shortlist: the ANN tier plugs into the greedy") {
    val emb = graft.Tables(spark, sf("sf0.001"), "embeddings")
    val q = emb.filter(col("vec_id") < 2)
    val tier = graft.ops.Quantization.ivfPqTopK(emb, q, k = 30,
      nCells = 8, nProbe = 8, m = 4, ksub = 8, reRank = 30)
    val out = Similarity.mmrTopK(emb, q, k = 5, nCand = 30,
      shortlist = Some(tier)).collect()
    assert(out.length == 10) // 2 queries x k=5
    // ranks are 1..5 per query and picks are distinct
    val byQ = out.groupBy(_.getLong(0))
    byQ.values.foreach { rows =>
      assert(rows.map(_.getInt(3)).sorted.toSeq == Seq(1, 2, 3, 4, 5))
      assert(rows.map(_.getLong(1)).distinct.length == 5)
    }
  }

  test("diversifiedTopK with a tier shortlist still enforces the group cap") {
    val emb = graft.Tables(spark, sf("sf0.001"), "embeddings")
    val q = emb.filter(col("vec_id") < 2)
    val tier = Similarity.bruteForceTopK(emb, q, k = 40)
    val out = Similarity.diversifiedTopK(emb, q, k = 10, groupCol = "label",
      maxPerGroup = 2, shortlist = Some(tier))
      .collect().map(r => (r.getLong(0), String.valueOf(r.get(2))))
    out.groupBy(identity).foreach { case ((qid, grp), hits) =>
      assert(hits.length <= 2, s"group cap violated for query $qid group $grp")
    }
  }

  test("diversifiedTopK caps per-group results and reranks the remainder") {
    val cands = Seq(
      (1L, Seq(1f, 0f), "a"), (2L, Seq(0.99f, 0.05f), "a"), (3L, Seq(0.98f, 0.1f), "a"),
      (4L, Seq(0.5f, 0.8f), "b"), (5L, Seq(0.4f, 0.9f), "b"))
      .toDF("vec_id", "embedding", "grp")
    val q = Seq((10L, Seq(1f, 0f), "q")).toDF("vec_id", "embedding", "grp")
    val out = Similarity.diversifiedTopK(cands, q, k = 3, groupCol = "grp",
      maxPerGroup = 2).orderBy("rk").select("cand_id").as[Long].collect().toSeq
    assert(out == Seq(1L, 2L, 4L)) // third 'a' displaced by best 'b'
  }

  test("fuzzyDedupPipeline collapses exact copies AND near-dups to one doc each") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      ("1", base), ("2", base), ("3", base), // exact triplicate
      ("4", base.replace("kappa", "lambda")), // near-dup of the group
      ("5", "entirely different text with its own unique words here now"),
      ("6", "another unrelated document talking about other things too"))
      .toDF("doc_id", "text")
    val kept = Dedup.fuzzyDedupPipeline(docs, threshold = 0.4)
      .select("doc_id").as[String].collect().sorted.toSeq
    assert(kept == Seq("1", "5", "6"), kept.toString) // 2,3 exact; 4 fuzzy
  }

  /** `rows` as a parquet fixture, and a plan predicate that holds a scan of it. */
  private def parquetDocs(rows: Seq[(Option[Long], String)]) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-fuzzy-docs").toString
    rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(dir)
    val reads = (p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) => p.exists {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r.relation match {
        case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          fs.location.rootPaths.exists(_.toUri.getPath.stripSuffix("/") == dir)
        case _ => false
      }
      case _ => false
    }
    (spark.read.parquet(dir), reads)
  }

  private val fuzzyFixture = {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    Seq(Some(1L) -> base, Some(2L) -> base, Some(3L) -> base.replace("kappa", "lambda"),
      Some(4L) -> "entirely different text with its own unique words here now",
      Some(5L) -> "another unrelated document talking about other things too")
  }

  test("fuzzyDedupPipeline's result reads its checkpoint, not the caller's docs") {
    val (docs, readsDocs) = parquetDocs(fuzzyFixture)
    val out = Dedup.fuzzyDedupPipeline(docs, threshold = 0.4)
    // the rep-id-only checkpoint re-read the fixture here: 1 execution
    val (_, n) = executionsDuring(readsDocs)(
      out.write.format("noop").mode("overwrite").save())
    assert(n == 0, s"$n executions re-read the fixture")
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 4L, 5L))
  }

  test("fuzzyDedupPipeline keeps the rows of its join-then-dedup formulation " +
    "(null ids, null text, a shared id)") {
    val base = "one two three four five six seven eight nine ten"
    val (docs, _) = parquetDocs(fuzzyFixture ++ Seq(
      None -> base, None -> "a null id with text of its own for the group by",
      Some(10L) -> null, Some(11L) -> null,
      Some(12L) -> base, Some(12L) -> "the same id on a second row, different text",
      Some(13L) -> base.replace("ten", "eleven")))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (Option(r.get(0)), Option(r.getString(1)))).toSeq
        .sortBy(_.toString)
    val reps = Dedup.exactDuplicates(docs).select(col("keep_id").as("doc_id"))
    val repDocs = docs.join(reps, "doc_id")
    val want = rows(Dedup.keepCanonical(repDocs,
      Dedup.minHashDuplicatePairs(repDocs, threshold = 0.4)))
    assert(rows(Dedup.fuzzyDedupPipeline(docs, threshold = 0.4)) == want)
    assert(want.exists(_._1.contains(12L)) && want.exists(_._2.isEmpty), want)
  }

  test("milvus parser precedence: AND binds tighter than OR") {
    val d = new graft.connectors.vectorstore.MilvusExprDialect()
    val docs = Seq(("1", "a", "1"), ("2", "b", "9"), ("3", "a", "9"))
      .toDF("id", "cat", "n")
      .select(col("id"),
        map(lit("cat"), col("cat"), lit("n"), col("n")).as("metadata"))
    // cat=="b" || (cat=="a" && n>5)  -> ids 2,3 (not 1)
    assert(docs.filter(d.parse("cat == \"b\" || cat == \"a\" && n > 5")).count() == 2)
  }

  test("funnel: stage k only counts after stage k-1; depth reflects it") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val ev = Seq(
      // user 1: full funnel in order
      (1L, ts(0), 1L, "signup", 0.0), (2L, ts(5), 1L, "click", 0.0), (3L, ts(9), 1L, "purchase", 0.0),
      // user 2: purchase BEFORE signup doesn't count; depth 1
      (4L, ts(0), 2L, "purchase", 0.0), (5L, ts(5), 2L, "signup", 0.0),
      // user 3: click before signup ignored, later click counts; depth 2
      (6L, ts(0), 3L, "click", 0.0), (7L, ts(2), 3L, "signup", 0.0), (8L, ts(4), 3L, "click", 0.0),
      // user 4: never signed up
      (9L, ts(1), 4L, "click", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Funnel.funnel(ev, Seq("signup", "click", "purchase"))
      .select("user_id", "funnel_depth").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(1L -> 3, 2L -> 1, 3L -> 2, 4L -> 0))
  }

  test("sessionize splits on the gap and aggregates per session") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val ev = Seq(
      (1L, ts(0), 10L, "a", 1.0), (2L, ts(10), 10L, "a", 2.0),
      (3L, ts(90), 10L, "a", 4.0), // 80-min gap -> new session
      (4L, ts(5), 20L, "b", 8.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Sessionize.sessions(ev).orderBy("user_id", "session_id")
      .select("user_id", "session_id", "n_events", "session_value").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq ==
      Seq((10L, 1L, 2L, 3.0), (10L, 2L, 1L, 4.0), (20L, 1L, 1L, 8.0)))
  }
}
