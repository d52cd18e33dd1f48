package graft

import org.apache.spark.sql.functions._
import graft.functions.{BinaryVectors, HashExpressions}
import graft.ops.{Decontaminate, Dedup, Similarity, TextAnalysis}

/** Fully-portable MinHash pipeline, duplicate-span detection, binary
  * (sign-bit) Hamming retrieval, transport retries, Bloom
  * decontamination. */

/** Portable shingle hashes + the end-to-end portable LSH pipeline. */
class PortableMinHashSpec extends SparkSpec {
  import spark.implicits._

  // codepoint fold: "ab cd" -> ((((97*131+98)*131+32)*131+99)*131+100) mod P
  private def fold(s: String): Long =
    s.foldLeft(0L)((h, c) => (h * 131L + c.toLong) % 2147483647L)

  test("portableShingleHashes: exact values, distinct, sorted") {
    val rows = Seq("A b c d", "x y", "a b c a b c a b c").toDF("text")
      .select(HashExpressions.portableShingleHashes(col("text"), 3).as("sh"))
      .collect().map(_.getSeq[Long](0))
    // "a b c d" -> shingles {"a b c", "b c d"}, lowercased, sorted
    assert(rows(0) == Seq(fold("a b c"), fold("b c d")).sorted)
    assert(rows(1) == Seq.empty) // fewer tokens than the shingle size
    // repeated shingles collapse to the distinct set
    assert(rows(2) == Seq(fold("a b c"), fold("b c a"), fold("c a b")).sorted)
  }

  test("portableShingleHashes inline window fold == PortableStringFold.fold " +
    "of the joined shingle (property, random unicode)") {
    // ADVICE r19: the expression inlines the per-codepoint fold for speed;
    // this property pins it to the ONE spec'd implementation so the two
    // copies cannot silently diverge. Mixed-plane tokens (ASCII, Latin-1,
    // CJK, supplementary/surrogate-pair emoji) exercise codePointAt.
    val rnd = new scala.util.Random(7)
    val alphabets = Seq("abz09", "äöüß", "下雨天", "😀🙏")
    def token(): String = {
      val a = alphabets(rnd.nextInt(alphabets.length))
      val cps = a.codePoints().toArray
      (1 to (1 + rnd.nextInt(5))).map(_ =>
        new String(Character.toChars(cps(rnd.nextInt(cps.length))))).mkString
    }
    val texts = (1 to 40).map(_ => (1 to (1 + rnd.nextInt(8))).map(_ => token()).mkString(" "))
    val got = texts.toDF("text")
      .select(HashExpressions.portableShingleHashes(col("text"), 3).as("sh"))
      .collect().map(_.getSeq[Long](0))
    texts.zip(got).foreach { case (t, g) =>
      val toks = t.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
      val want =
        if (toks.length < 3) Seq.empty
        else toks.sliding(3).map(w =>
          graft.functions.PortableStringFold.fold(w.mkString(" "))).toSeq.distinct.sorted
      assert(g == want, s"text '$t'")
    }
  }

  test("portable pipeline: reported pairs are true pairs with exact jaccard") {
    val docs = Tables(spark, sf(), "documents").filter(col("doc_id") < 200)
    val got = Dedup.minHashDuplicatePairs(docs, numHashes = 16, numBands = 4,
      threshold = 0.3, portable = true)
      .as[(Long, Long, Double)].collect().toSet
    // exhaustive ground truth over the same portable shingle sets
    val sh = docs.select(col("doc_id"),
      HashExpressions.portableShingleHashes(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val all = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        round(HashExpressions.sortedJaccard(col("a.sh"), col("b.sh")), 6).as("j"))
      .filter(col("j") >= 0.3)
      .as[(Long, Long, Double)].collect().toSet
    assert(got.nonEmpty)
    // LSH can only miss (banding), never invent or mis-score
    assert(got.subsetOf(all))
    val allByPair = all.map(t => (t._1, t._2) -> t._3).toMap
    got.foreach { case (a, b, j) => assert(allByPair((a, b)) == j) }
  }

  test("portable + onePerm is rejected") {
    val docs = Tables(spark, sf(), "documents")
    intercept[IllegalArgumentException] {
      Dedup.minHashDuplicatePairs(docs, portable = true, onePerm = true)
    }
  }
}

/** Strided rolling-window fingerprints and cross-document span detection. */
class DuplicateSpansSpec extends SparkSpec {
  import spark.implicits._

  private def fold(xs: Seq[Long]): Long =
    xs.foldLeft(0L)((h, x) => (h * 131L + x) % 2147483647L)
  private def tok(s: String): Long =
    s.foldLeft(0L)((h, c) => (h * 131L + c.toLong) % 2147483647L)

  test("rollingWindowHashes: exact strided folds") {
    val out = Seq("a b c d e").toDF("text")
      .select(HashExpressions.rollingWindowHashes(
        HashExpressions.portableTokenHashes(col("text")), 3, 2).as("wh"))
      .collect()(0).getSeq[Long](0)
    val h = "abcde".map(c => tok(c.toString))
    // windows at offsets 0 and 2 (offset 4 has only 1 token left)
    assert(out == Seq(fold(h.slice(0, 3)), fold(h.slice(2, 5))))
  }

  test("rollingWindowHashes: shorter than width -> empty") {
    val out = Seq("a b").toDF("text")
      .select(HashExpressions.rollingWindowHashes(
        HashExpressions.portableTokenHashes(col("text")), 3, 1).as("wh"))
      .collect()(0).getSeq[Long](0)
    assert(out.isEmpty)
  }

  test("duplicateSpans flags the shared run and only it") {
    val shared = (1 to 8).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, s"$shared alpha beta gamma delta epsilon zeta eta theta"),
      (2L, s"$shared iota kappa lambda mu nu xi omicron pi"),
      (3L, "rho sigma tau upsilon phi chi psi omega one two three four"),
      (4L, "tiny")).toDF("doc_id", "text")
    val got = TextAnalysis.duplicateSpans(docs, width = 8, stride = 8)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // docs 1 and 2: first window is the shared 8-token run -> duplicated
    assert(got(1L)._3 >= 1 && got(2L)._3 >= 1)
    assert(got(3L)._3 == 0) // unique content
    assert(got(4L)._2 == 0 && got(4L)._4 == 0.0) // shorter than width
  }

  test("removeDuplicateSpans: canonical kept, duplicate cut, case preserved") {
    val span = (1 to 16).map(i => s"Tok$i").mkString(" ")       // doc 1's casing
    val spanLower = span.toLowerCase                            // doc 2 differs in case only
    val docs = Seq(
      (1L, s"$span alpha beta"),
      (2L, s"$spanLower gamma delta"),
      (3L, (100 to 115).map(i => s"uniq$i").mkString(" ") + " tail"),
      (4L, "short text")).toDF("doc_id", "text")
    val got = TextAnalysis.removeDuplicateSpans(docs, width = 16)
      .as[(Long, String, Int)].collect().map(r => r._1 -> r).toMap
    // doc 1 is the canonical occurrence: untouched, byte-identical
    assert(got(1L)._2 == s"$span alpha beta" && got(1L)._3 == 0)
    // doc 2's window matched (lowercased) and was cut; tail survives
    assert(got(2L)._2 == "gamma delta" && got(2L)._3 == 1)
    // unique and short docs pass through
    assert(got(3L)._3 == 0 && got(3L)._2.endsWith("tail"))
    assert(got(4L)._2 == "short text" && got(4L)._3 == 0)
  }

  test("removeDuplicateSpans: the rebuild neither scans the dropped list per token nor " +
    "splits the text per window (O(len²) on repetitive text); a doc repeated 40x keeps one copy") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayContains, LambdaFunction, StringSplit}
    val span = (1 to 16).map(i => s"w$i").mkString(" ")
    // a file scan, so the optimizer cannot fold the plan into a local relation
    val path = java.nio.file.Files.createTempDirectory("spans").resolve("d").toString
    Seq((1L, Seq.fill(40)(span).mkString(" ") + " end")).toDF("doc_id", "text")
      .write.parquet(path)
    val df = TextAnalysis.removeDuplicateSpans(spark.read.parquet(path), width = 16)
    val lambdas = df.queryExecution.optimizedPlan.flatMap(_.expressions)
      .flatMap(_.collect { case l: LambdaFunction => l })
    assert(lambdas.nonEmpty)
    assert(!lambdas.exists(_.exists(e => e.isInstanceOf[ArrayContains] || e.isInstanceOf[StringSplit])),
      s"a lambda scans the dropped list or re-splits the text:\n${df.queryExecution.optimizedPlan}")
    val r = df.as[(Long, String, Int)].collect().head
    assert(r._2 == s"$span end" && r._3 == 39, r)
  }

  test("removeDuplicateSpans: fingerprint pass runs ONCE (drop-list branches share the exchange)") {
    val df = TextAnalysis.removeDuplicateSpans(Tables(spark, sf(), "documents"), width = 16)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val scans = finalPlan.split("\n").count(_.contains("rolling_window_hashes"))
    assert(scans == 1,
      s"expected exactly 1 rolling_window_hashes projection in the final plan, got $scans")
    assert(finalPlan.contains("ReusedExchange"), "expected AQE stage reuse in the final plan")
  }

  test("corpus is scanned ONCE: count-agg and join-back share one exchange") {
    val df = TextAnalysis.duplicateSpans(Tables(spark, sf(), "documents"),
      width = 16, stride = 8)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val scans = finalPlan.split("\n").count(_.contains("rolling_window_hashes"))
    assert(scans == 1,
      s"expected exactly 1 rolling_window_hashes projection in the final plan, got $scans")
    assert(finalPlan.contains("ReusedExchange"), "expected AQE stage reuse in the final plan")
  }

  test("span kernels compile under strict codegen") {
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val rows = Tables(spark, sf(), "documents")
        .select(HashExpressions.rollingWindowHashes(
          HashExpressions.portableTokenHashes(lower(col("text"))), 16, 8).as("wh"))
        .limit(5).collect()
      assert(rows.nonEmpty)
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", prevFallback)
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }
}

/** Sign-bit words, Hamming kernels, and binary top-k retrieval. */
class BinaryAnnSpec extends SparkSpec {
  import spark.implicits._

  test("signBitsWords: hand case + bit-parity with packBits bytes") {
    val hand = Seq(Seq(1.0f, -1.0f, 2.0f)).toDF("v")
      .select(BinaryVectors.signBitsWords(col("v")).as("w"))
      .collect()(0).getSeq[Long](0)
    assert(hand == Seq(5L)) // bits 0 and 2 set
    val rows = Tables(spark, sf(), "embeddings")
      .select(BinaryVectors.pack(col("embedding")).as("bytes"),
        BinaryVectors.signBitsWords(col("embedding")).as("words"),
        size(col("embedding")).as("d"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val bytes = r.getAs[Array[Byte]]("bytes")
      val words = r.getSeq[Long](1)
      val d = r.getInt(2)
      (0 until d).foreach { i =>
        val byteBit = (bytes(i >> 3) >> (i & 7)) & 1
        val wordBit = ((words(i >> 5) >> (i & 31)) & 1L).toInt
        assert(byteBit == wordBit, s"bit $i")
      }
    }
  }

  test("wordsHamming == binaryHamming on real embedding pairs") {
    val e = Tables(spark, sf(), "embeddings")
      .select(col("vec_id"), BinaryVectors.pack(col("embedding")).as("bytes"),
        BinaryVectors.signBitsWords(col("embedding")).as("words"))
    val pairs = e.as("a").join(e.as("b"), col("b.vec_id") === col("a.vec_id") + 1)
      .select(
        BinaryVectors.hamming(col("a.bytes"), col("b.bytes")).as("hb"),
        BinaryVectors.wordsHamming(col("a.words"), col("b.words")).as("hw"))
      .as[(Int, Int)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (hb, hw) => assert(hb == hw) }
  }

  test("hammingTopK matches a driver-side exhaustive rank") {
    val e = Tables(spark, sf(), "embeddings")
    val got = Similarity.hammingTopK(e, e.filter(col("vec_id") < 3), k = 3)
      .as[(Long, Long, Int, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(t => (t._2, t._3)).toSeq).toMap
    val vecs = e.select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .collect().map { case (id, v) =>
        id -> v.zipWithIndex.filter(_._1 > 0).map(_._2).toSet
      }.toMap
    def ham(a: Set[Int], b: Set[Int]) = (a.diff(b).size + b.diff(a).size)
    (0L until 3L).foreach { q =>
      val expected = vecs.toSeq.filter(_._1 != q)
        .map { case (id, bits) => (id, ham(vecs(q), bits)) }
        .sortBy { case (id, h) => (h, id) }.take(3)
      assert(got(q) == expected)
    }
  }

  test("binaryNearDupPairs: subset of exhaustive Hamming pairs, exact distances") {
    val e = Tables(spark, sf(), "embeddings")
    val got = Dedup.binaryNearDupPairs(e, maxHamming = 24, prefixBits = 8)
      .as[(Long, Long, Int)].collect().toSet
    val vecs = e.select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .collect().map { case (id, v) =>
        id -> v.zipWithIndex.filter(_._1 > 0).map(_._2).toSet
      }
    val exhaustive = (for {
      (ia, ba) <- vecs; (ib, bb) <- vecs if ia < ib
      h = ba.diff(bb).size + bb.diff(ba).size if h <= 24
    } yield (ia, ib, h)).toSet
    assert(got.nonEmpty)
    assert(got.subsetOf(exhaustive)) // blocking can miss, never invent
    // identical sign patterns agree on every prefix -> always found
    val zeroDist = exhaustive.filter(_._3 == 0)
    assert(zeroDist.subsetOf(got))
  }

  test("binary kernels compile under strict codegen") {
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val e = Tables(spark, sf(), "embeddings")
      val rows = e.select(BinaryVectors.wordsHamming(
          BinaryVectors.signBitsWords(col("embedding")),
          BinaryVectors.signBitsWords(reverse(col("embedding")))).as("h"))
        .limit(5).collect()
      assert(rows.nonEmpty)
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", prevFallback)
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }
}

/** Two-stage binary retrieval: Hamming shortlist, exact-cosine re-rank. */
class HammingReRankSpec extends SparkSpec {
  import spark.implicits._

  test("exhaustive shortlist == brute-force top-k exactly") {
    val e = Tables(spark, sf(), "embeddings")
    val q = e.filter(col("vec_id") < 5)
    val n = e.count().toInt
    val got = Similarity.hammingTopKReRank(e, q, k = 3, shortlist = n)
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    val brute = Similarity.bruteForceTopK(e, q, k = 3)
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    assert(got.nonEmpty && got.sameElements(brute))
  }

  test("selective shortlist keeps useful recall on real embeddings") {
    val e = Tables(spark, sf(), "embeddings")
    val q = e.filter(col("vec_id") < 20)
    val got = Similarity.hammingTopKReRank(e, q, k = 3, shortlist = 50)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(e, q, k = 3)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val recall = got.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall $recall") // 50/499 shortlist on near-random vectors
  }
}

/** Retry decorator over the transport seam. */
class RetryingTransportSpec extends SparkSpec {
  import graft.connectors.vectorstore._

  /** Fails each distinct operation `failures` times, then delegates. */
  private class FlakyTransport(inner: VectorStoreTransport, failures: Int)
    extends VectorStoreTransport {
    val attempts = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    private def flake[A](k: String)(f: => A): A = {
      val n = attempts.merge(k, 1L, (a, b) => a + b)
      if (n <= failures) throw new RuntimeException(s"transient $k #$n")
      f
    }
    override def createCollection(n: String, c: CollectionConfig, r: Boolean): Unit =
      flake("createCollection")(inner.createCollection(n, c, r))
    override def exists(n: String): Boolean = flake("exists")(inner.exists(n))
    override def describe(n: String): Option[CollectionConfig] =
      flake("describe")(inner.describe(n))
    override def scroll(n: String, f: Int, p: Int): Seq[VSRecord] =
      flake("scroll")(inner.scroll(n, f, p))
    override def count(n: String): Int = flake("count")(inner.count(n))
    override def upsert(n: String, rs: Seq[VSRecord]): Int = flake("upsert")(inner.upsert(n, rs))
    override def delete(n: String, ids: Seq[String]): Int = flake("delete")(inner.delete(n, ids))
    override def drop(n: String): Unit = flake("drop")(inner.drop(n))
  }

  test("transient faults are absorbed; calls land exactly once on the store") {
    val flaky = new FlakyTransport(InMemoryTransport, failures = 2)
    val t = RetryingTransport(flaky, maxAttempts = 3, backoffMs = 0)
    t.createCollection("retry_c", CollectionConfig(dim = 2), recreate = true)
    assert(t.upsert("retry_c", Seq(VSRecord("a", Array(1f, 2f), Map.empty))) == 1)
    assert(t.count("retry_c") == 1) // upsert retried but id-keyed -> one record
    assert(t.scroll("retry_c", 0, 10).map(_.id) == Seq("a"))
    assert(flaky.attempts.get("upsert") == 3L) // 2 failures + 1 success
  }

  test("wraps the registered transport: DSv2 write + scan survive transient faults") {
    import spark.implicits._
    import graft.model.Canonical
    val flaky = new FlakyTransport(InMemoryTransport, failures = 1)
    val prev = VectorStore.use(RetryingTransport(flaky, maxAttempts = 3, backoffMs = 0))
    try {
      (0 until 100).map(i => (i.toString, Seq.fill(4)(i.toFloat), Map("k" -> s"v$i")))
        .toDF(Canonical.ID, Canonical.VECTOR, Canonical.METADATA)
        .write.format("graft-qdrant").option("collection", "retry_e2e")
        .option("recreate", "true").option("batch_size", "32").mode("overwrite").save()
      val n = spark.read.format("graft-qdrant").option("collection", "retry_e2e")
        .option("page_size", "40").load().count()
      assert(n == 100) // every op failed once and was absorbed; ids landed once
    } finally VectorStore.use(prev)
  }

  test("gives up after maxAttempts and missing collections never retry") {
    val flaky = new FlakyTransport(InMemoryTransport, failures = 5)
    val t = RetryingTransport(flaky, maxAttempts = 3, backoffMs = 0)
    intercept[RuntimeException] { t.count("retry_gone") }
    assert(flaky.attempts.get("count") == 3L)
    // NoSuchElementException (logic error) is not retried
    val t2 = RetryingTransport(new FlakyTransport(InMemoryTransport, 0), maxAttempts = 3,
      backoffMs = 0)
    intercept[NoSuchElementException] { t2.scroll("retry_missing", 0, 10) }
  }
}

/** Bloom-filter decontamination: one-sided error vs the exact join. */
class BloomDecontaminateSpec extends SparkSpec {
  import spark.implicits._

  test("bloom containment never under-reports, and matches exact at tiny fpp") {
    val docs = Tables(spark, sf(), "documents")
    val train = docs.filter(col("doc_id") >= 20)
    val eval = docs.filter(col("doc_id") < 20)
    val exact = Decontaminate.containment(train, eval)
      .select("doc_id", "n_shingles", "n_shared")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val bloom = Decontaminate.bloomContainment(train, eval,
      expectedShingles = 100000L, fpp = 1e-8)
      .select("doc_id", "n_shingles", "n_shared")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(bloom.keySet == exact.keySet && bloom.nonEmpty)
    bloom.foreach { case (id, (n, shared)) =>
      assert(n == exact(id)._1)
      assert(shared >= exact(id)._2)       // no false negatives, ever
      assert(shared == exact(id)._2)       // at fpp 1e-8, no false positives either
    }
  }
}
