package graft

import org.apache.spark.sql.functions._
import graft.ops.{TextAnalysis, TextSearch}

/** Text and embedding scoring: BM25 keyword and hybrid retrieval, PCA,
  * token masking and KL, distance outliers, per-group sampling and
  * unigram-LM perplexity. */

class Bm25Spec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "spark spark spark engine"),          // high tf for 'spark'
    (2L, "spark engine for big data " + Seq.fill(40)("pad").mkString(" ")), // long doc: length-normalized down
    (3L, "vector search engine"),              // matches rare term only
    (4L, "nothing relevant here"),
    (5L, "spark vector")).toDF("doc_id", "text")

  test("multi-word query terms mean their tokens (bag-of-words), never silent zero") {
    // "spark vector" as ONE term can never equal a whitespace token; it
    // must read as its tokens, identical to passing them separately
    val phrase = TextSearch.bm25Search(docs, Seq("spark vector"), k = 5)
      .as[(Long, Double, Long)].collect().toSeq
    val words = TextSearch.bm25Search(docs, Seq("spark", "vector"), k = 5)
      .as[(Long, Double, Long)].collect().toSeq
    assert(phrase == words && phrase.nonEmpty)
    // all-whitespace query is a loud error, not an empty result
    val e = intercept[IllegalArgumentException] {
      TextSearch.bm25Search(docs, Seq("  ", "\t"))
    }
    assert(e.getMessage.contains("whitespace"), e.getMessage)
  }

  test("ranking follows tf, idf, and length normalization") {
    val got = TextSearch.bm25Search(docs, Seq("spark", "vector"), k = 5)
      .as[(Long, Double, Long)].collect()
    val byId = got.map(r => r._1 -> r).toMap
    // doc 4 matches nothing — absent
    assert(!byId.contains(4L) && got.length == 4)
    // both-term doc beats any single-term doc ('vector' is rarer → higher idf)
    assert(got.head._1 == 5L && byId(5L)._3 == 2)
    // same tf for 'spark' at doc 2 vs higher tf at doc 1, and doc 2 is much
    // longer: doc 1 must outrank doc 2
    assert(byId(1L)._2 > byId(2L)._2)
    // scores descend in emitted order; ties impossible on this fixture
    assert(got.map(_._2).toSeq == got.map(_._2).sortBy(-_).toSeq)
  }

  test("k truncates after ranking; scores are deterministic longs/1e6") {
    val got = TextSearch.bm25Search(docs, Seq("spark", "vector"), k = 2)
      .as[(Long, Double, Long)].collect()
    assert(got.length == 2 && got.head._1 == 5L)
    // every score is an exact multiple of 1e-6 (integer-sum construction)
    got.foreach(r => assert((r._2 * 1e6).round / 1e6 == r._2))
  }

  test("null-text docs count as length-0, never poisoning avgdl with size(null) = -1") {
    // under legacy sizeOfNull an unguarded tokenizer made dl = -1 rows
    // drag avgdl down and skew every score; null text must behave exactly
    // like empty text (both tokenize to [])
    val withNull = docs.unionByName(
      Seq((9L, null.asInstanceOf[String]), (10L, "")).toDF("doc_id", "text"))
    val withEmpty = docs.unionByName(
      Seq((9L, ""), (10L, "")).toDF("doc_id", "text"))
    def scores(d: org.apache.spark.sql.DataFrame) =
      TextSearch.bm25Search(d, Seq("spark", "vector"), k = 5)
        .as[(Long, Double, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(scores(withNull) == scores(withEmpty))
    // and the shared tokenizer's null face is pinned directly
    val n = Seq((1L, null.asInstanceOf[String])).toDF("id", "text")
      .select(graft.functions.TextFunctions.tokenCount(col("text"))).head().getInt(0)
    assert(n == 0, s"tokenCount(null) = $n")
  }

  test("query terms are lowercased and deduped") {
    val a = TextSearch.bm25Search(docs, Seq("SPARK", "spark"), k = 5)
      .as[(Long, Double, Long)].collect().map(r => r._1 -> r._2).toMap
    val b = TextSearch.bm25Search(docs, Seq("spark"), k = 5)
      .as[(Long, Double, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(a == b)
  }

  test("plan: ranking is a TakeOrdered, not a global sort") {
    val plan = TextSearch.bm25Search(docs, Seq("spark"), k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }
}

class HybridSearchSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "spark spark spark"),
    (2L, "spark engine"),
    (3L, "unrelated words only"),
    (4L, "entirely different content")).toDF("doc_id", "text")
  private val emb = Seq(
    (1L, Seq(0.0f, 1.0f)),   // orthogonal to query
    (2L, Seq(0.9f, 0.1f)),
    (3L, Seq(1.0f, 0.0f)),   // exact match to query vector
    (4L, Seq(0.7f, 0.7f))).toDF("vec_id", "embedding")
  private val qv = Array(1.0, 0.0)

  test("doc ranked well by both systems wins; single-list docs still score") {
    val got = TextSearch.hybridTopK(docs, emb, Seq("spark"), qv, k = 4)
      .as[(Long, Double, Int, Int)].collect()
    val byId = got.map(r => r._1 -> r).toMap
    // doc 2: rank 2 lexically, rank 2 by vector — beats doc 3 (vector rank 1
    // only) and doc 1 (text rank 1 only): 2/62 > 1/61
    assert(got.head._1 == 2L, got.mkString(", "))
    assert(byId(2L)._3 == 2 && byId(2L)._4 == 2)
    // absent ranks are 0 and contribute nothing
    assert(byId(3L)._3 == 0 && byId(3L)._4 == 1)
    assert(byId(1L)._3 == 1)
    // rrf of a two-list doc is the exact two-term sum
    assert(math.abs(byId(2L)._2 - BigDecimal(1.0 / 62 + 1.0 / 62)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
  }

  test("nCand bounds both candidate lists") {
    val got = TextSearch.hybridTopK(docs, emb, Seq("spark"), qv, k = 10, nCand = 1)
      .as[(Long, Double, Int, Int)].collect()
    // only doc 1 (text rank 1) and doc 3 (vector rank 1) survive
    assert(got.map(_._1).toSet == Set(1L, 3L))
  }
}

class PcaSpec extends SparkSpec {
  import spark.implicits._
  import graft.ops.Pca

  // planted anisotropic cloud in d=4: variance concentrated along `dir`
  private val dir = Array(0.5, 0.5, 0.5, 0.5)
  private def planted = (1 to 400).map { i =>
    val t = (i % 40 - 20) * 0.5                       // dominant coordinate
    val eps = Array(i % 3 - 1, i % 5 - 2, i % 7 - 3, 0.0).map(_ * 0.02)
    (i.toLong, dir.zip(eps).map { case (u, e) => (u * t + e).toFloat }.toSeq)
  }.toDF("vec_id", "embedding")

  test("fit recovers the planted principal direction") {
    val m = Pca.fit(planted, k = 2)
    val cos = m.components(0).zip(dir).map { case (a, b) => a * b }.sum /
      math.sqrt(m.components(0).map(x => x * x).sum)
    assert(math.abs(cos) > 0.999, cos.toString)
    // dominant eigenvalue carries almost all variance
    assert(m.eigenvalues(0) > 20 * m.eigenvalues(1))
    // sign convention: largest-|entry| coordinate positive
    val v = m.components(0)
    assert(v(v.indices.maxBy(i => math.abs(v(i)))) > 0)
  }

  test("transform: projections are centered with variance = eigenvalues") {
    val m = Pca.fit(planted, k = 2)
    val p = Pca.transform(planted, m).as[(Long, Seq[Double])].collect()
    val n = p.length
    for (c <- 0 until 2) {
      val xs = p.map(_._2(c))
      val mean = xs.sum / n
      val varc = xs.map(x => (x - mean) * (x - mean)).sum / n
      assert(math.abs(mean) < 1e-9, s"component $c not centered: $mean")
      assert(math.abs(varc - m.eigenvalues(c)) < 1e-6 * math.max(1, m.eigenvalues(c)),
        s"component $c variance $varc != ${m.eigenvalues(c)}")
    }
  }

  test("whitened projections have unit variance per axis") {
    val m = Pca.fit(planted, k = 2)
    val p = Pca.transform(planted, m, whiten = true).as[(Long, Seq[Double])].collect()
    val n = p.length
    for (c <- 0 until 2) {
      val xs = p.map(_._2(c))
      val mean = xs.sum / n
      val varc = xs.map(x => (x - mean) * (x - mean)).sum / n
      assert(math.abs(varc - 1.0) < 1e-6, s"component $c variance $varc != 1")
    }
  }

  test("covariancePortable equals the brute-force matrix") {
    val rows = planted.as[(Long, Seq[Float])].collect().map(_._2.map(_.toDouble).toArray)
    val n = rows.length
    val d = rows(0).length
    val mean = Array.tabulate(d)(i => rows.map(_(i)).sum / n)
    val got = Pca.covariancePortable(planted).as[(Int, Int, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got.size == d * d)
    for (i <- 0 until d; j <- 0 until d) {
      val exact = rows.map(r => (r(i) - mean(i)) * (r(j) - mean(j))).sum / n
      assert(math.abs(got((i, j)) - exact) < 2e-6, s"($i,$j): ${got((i, j))} vs $exact")
    }
  }

  test("fit agrees with the portable covariance path and is partition-stable") {
    val emb = Tables(spark, sf(), "embeddings")
    val a = Pca.fit(emb, k = 3)
    val b = Pca.fit(emb.repartition(17), k = 3)
    // eigenvalues from the one-pass moment path match across partitionings
    a.eigenvalues.zip(b.eigenvalues).foreach { case (x, y) =>
      assert(math.abs(x - y) < 1e-8 * math.max(1, math.abs(x)))
    }
    // trace of the portable covariance == sum of ALL eigenvalues: check the
    // top-3 are each <= trace and positive (sanity tie between the faces)
    val trace = Pca.covariancePortable(emb).filter(col("i") === col("j"))
      .agg(sum("cov")).as[Double].collect().head
    assert(a.eigenvalues.forall(e => e > 0 && e <= trace + 1e-6))
  }
}

class MaskTokensSpec extends SparkSpec {
  import spark.implicits._
  import graft.ops.TextAnalysis

  test("mask rate lands near target, positions differ per doc, reproducible") {
    val docs = (1 to 50).map(i => (i.toLong, (1 to 40).map(j => s"w$j").mkString(" ")))
      .toDF("doc_id", "text")
    def run() = TextAnalysis.maskTokens(docs, rate = 0.15)
      .as[(Long, String, Int)].collect().map(r => r._1 -> r).toMap
    val got = run()
    val totalMasked = got.values.map(_._3).sum
    assert(totalMasked > 200 && totalMasked < 400, totalMasked.toString) // E=300
    // n_masked agrees with the rewritten text
    got.values.foreach { case (_, txt, n) =>
      assert(txt.split(" ").count(_ == "[MASK]") == n)
      assert(txt.split(" ").length == 40)
    }
    // same token stream, different docs → different mask positions
    val m1 = got(1L)._2.split(" ").zipWithIndex.filter(_._1 == "[MASK]").map(_._2).toSet
    val m2 = got(2L)._2.split(" ").zipWithIndex.filter(_._1 == "[MASK]").map(_._2).toSet
    assert(m1 != m2)
    assert(run() == got) // deterministic
  }

  test("rate 0 masks nothing and preserves the token stream; empty text safe") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.maskTokens(docs, rate = 0.0)
      .as[(Long, String, Int)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2 == "alpha beta gamma" && got(1L)._3 == 0)
    assert(got(2L)._2 == "" && got(2L)._3 == 0)
  }
}

class TokenKlSpec extends SparkSpec {
  import spark.implicits._
  import graft.ops.TextAnalysis

  test("a corpus-dominating group diverges little, an alien group a lot") {
    // corpus ≈ group "big" (60 of 66 tokens); group "odd" is all-z.
    // KL(big) = ln(22/20) ≈ 0.095, KL(odd) = ln(66/6) = ln 11 ≈ 2.398
    val docs = ((1 to 10).map(i => (i.toLong, "big", "a b c a b c")) :+
      ((11L, "odd", "z z z z z z"))).toDF("doc_id", "source", "text")
    val got = TextAnalysis.tokenKlDivergence(docs, groupCol = "source")
      .as[(String, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got("big")._2 == 60L && got("odd")._2 == 6L)
    assert(math.abs(got("big")._3 - math.log(22.0 / 20)) < 1e-5, got.toString)
    assert(math.abs(got("odd")._3 - math.log(11.0)) < 1e-5, got.toString)
  }

  test("hand-computed two-group case") {
    // corpus: x×3, y×1 (T=4). group g1 = "x x", g2 = "x y":
    // KL(g1) = 1·ln((2·4)/(3·2)) = ln(4/3)
    // KL(g2) = ½ln((1·4)/(3·2)) + ½ln((1·4)/(1·2)) = ½(ln(2/3)+ln 2)
    val docs = Seq((1L, "g1", "x x"), (2L, "g2", "x y")).toDF("doc_id", "source", "text")
    val got = TextAnalysis.tokenKlDivergence(docs, groupCol = "source")
      .as[(String, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    def scaled(terms: Seq[(Double, Long)], tg: Long) = {
      val sw = terms.map { case (r, cg) => math.round(math.log(r) * 1e9) * cg }.sum
      BigDecimal(sw.toDouble / 1e9 / tg).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(got("g1") == scaled(Seq((8.0 / 6, 2L)), 2))
    assert(got("g2") == scaled(Seq((4.0 / 6, 1L), (4.0 / 2, 1L)), 2))
  }
}

class DistanceOutliersSpec extends SparkSpec {
  import spark.implicits._
  import graft.ops.Clustering

  test("planted far-away row is flagged; cluster cores are not") {
    // two tight clusters around (0,0) and (10,10), one corrupt row at (60,-60)
    val rows = (1 to 50).map(i => (i.toLong, Seq((i % 5) * 0.01f, (i % 7) * 0.01f))) ++
      (51 to 100).map(i => (i.toLong, Seq(10f + (i % 5) * 0.01f, 10f + (i % 7) * 0.01f))) :+
      ((999L, Seq(60f, -60f)))
    val df = rows.toDF("vec_id", "embedding")
    val got = Clustering.distanceOutliers(df, k = 2, iters = 3, q = 0.9)
      .as[(Long, Long, Double, Boolean)].collect()
    val flagged = got.filter(_._4).map(_._1).toSet
    assert(flagged.contains(999L), s"corrupt row not flagged: $flagged")
    // the quantile cut flags ~10% per cluster, never the tight-core majority
    assert(flagged.size < got.length / 4, flagged.toString)
    // every row assigned, distances non-negative
    assert(got.length == 101 && got.forall(_._3 >= 0))
  }

  test("deterministic under repartitioning") {
    val emb = Tables(spark, sf(), "embeddings")
    val a = Clustering.distanceOutliers(emb, k = 8, iters = 1, q = 0.9)
      .as[(Long, Long, Double, Boolean)].collect().toSet
    val b = Clustering.distanceOutliers(emb.repartition(13), k = 8, iters = 1, q = 0.9)
      .as[(Long, Long, Double, Boolean)].collect().toSet
    assert(a == b)
  }
}

class SampleKPerGroupSpec extends SparkSpec {
  import spark.implicits._
  import graft.ops.Sampling

  test("exactly k per large group, whole group when smaller, deterministic") {
    val df = ((1 to 100).map(i => (i.toLong, "big")) ++
      (101 to 105).map(i => (i.toLong, "small"))).toDF("id", "grp")
    val got = Sampling.sampleKPerGroup(df, "grp", k = 10, idCol = "id")
      .as[(Long, String)].collect()
    assert(got.count(_._2 == "big") == 10)
    assert(got.count(_._2 == "small") == 5) // smaller than k: kept whole
    // stable under repartitioning (hash-rank, not partition order)
    val again = Sampling.sampleKPerGroup(df.repartition(13), "grp", k = 10, idCol = "id")
      .as[(Long, String)].collect()
    assert(got.toSet == again.toSet)
  }

  test("sample is hash-uniform, not id-prefix-biased") {
    val df = (1 to 1000).map(i => (i.toLong, "g")).toDF("id", "grp")
    val ids = Sampling.sampleKPerGroup(df, "grp", k = 100, idCol = "id")
      .as[(Long, String)].collect().map(_._1)
    // a prefix-biased sampler would take ids 1..100; hash-rank spreads them
    assert(ids.max > 500 && ids.min < 500)
  }
}

class PerplexitySpec extends SparkSpec {
  import spark.implicits._

  test("repeated-token docs score low, rare-token docs high, empty docs 0") {
    val docs = Seq(
      (1L, "the the the the the the the the"),
      (2L, "the quick brown fox jumps over lazy dogs"),
      (3L, ""),
      (4L, "the the quick quick")).toDF("doc_id", "text")
    val got = TextAnalysis.unigramPerplexity(docs)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got.size == 4)                       // every doc present
    assert(got(3L)._2 == 0L && got(3L)._3 == 0.0)
    // all-common-token doc has the lowest perplexity; the doc of singletons
    // the highest
    assert(got(1L)._3 < got(4L)._3 && got(4L)._3 < got(2L)._3)
  }

  test("hand-computed value on a two-token corpus") {
    // corpus: "a a a b" → counts a=3, b=1; T=4, V=2
    // p(a)=(3+1)/6, p(b)=(1+1)/6; lp6 = round(ln(p)*1e6)
    val docs = Seq((1L, "a a a b")).toDF("doc_id", "text")
    val lpA = math.round(math.log(4.0 / 6) * 1e6)
    val lpB = math.round(math.log(2.0 / 6) * 1e6)
    val expected = BigDecimal(math.exp(-(3 * lpA + lpB).toDouble / 1e6 / 4))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = TextAnalysis.unigramPerplexity(docs)
      .as[(Long, Long, Double)].collect().head
    assert(got._2 == 4L && got._3 == expected)
  }

  test("external LM: OOV tokens take the smoothed unseen probability") {
    val lm = Seq((10L, "alpha beta gamma")).toDF("doc_id", "text")
    val eval = Seq((1L, "alpha zzz")).toDF("doc_id", "text")
    // T=3, V=3: p(alpha)=(1+1)/6, p(zzz)=1/6 (unseen floor)
    val lpSeen = math.round(math.log(2.0 / 6) * 1e6)
    val lpOov = math.round(math.log(1.0 / 6) * 1e6)
    val expected = BigDecimal(math.exp(-(lpSeen + lpOov).toDouble / 1e6 / 2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = TextAnalysis.unigramPerplexity(eval, lm = Some(lm))
      .as[(Long, Long, Double)].collect().head
    assert(got._2 == 2L && got._3 == expected)
  }

  test("deterministic under repartitioning (scaled-integer sums)") {
    val docs = Tables(spark, sf(), "documents").limit(200)
    val a = TextAnalysis.unigramPerplexity(docs.repartition(1))
      .as[(Long, Long, Double)].collect().toSet
    val b = TextAnalysis.unigramPerplexity(docs.repartition(17))
      .as[(Long, Long, Double)].collect().toSet
    assert(a == b)
  }

  test("bigram: hand-computed value on 'a b a b'") {
    // uni a=2 b=2, T=4 V=2; pairs (a,b)x2 (b,a)x1
    val docs = Seq((1L, "a b a b")).toDF("doc_id", "text")
    val lp = Seq(math.log(3.0 / 6),                  // first 'a': (2+1)/(4+2)
        math.log(3.0 / 4), math.log(2.0 / 4), math.log(3.0 / 4)) // (a,b) (b,a) (a,b)
      .map(x => math.round(x * 1e6)).sum
    val expected = BigDecimal(math.exp(-lp.toDouble / 1e6 / 4))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = TextAnalysis.bigramPerplexity(docs)
      .as[(Long, Long, Double)].collect().head
    assert(got._2 == 4L && got._3 == expected, got.toString)
  }

  test("bigram: word order matters — scrambled prose scores worse") {
    val lm = Seq.tabulate(20)(i => (i.toLong, "the quick brown fox jumps"))
      .toDF("doc_id", "text")
    val eval = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "fox the jumps quick brown")).toDF("doc_id", "text")
    val got = TextAnalysis.bigramPerplexity(eval, lm = Some(lm))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(got(1L) < got(2L), got.toString)
    // the unigram score CANNOT separate them (same token multiset)
    val gotUni = TextAnalysis.unigramPerplexity(eval, lm = Some(lm))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(gotUni(1L) == gotUni(2L), gotUni.toString)
  }

  test("bigram: empty docs score 0, every doc present") {
    val docs = Seq((1L, "a b"), (2L, ""), (3L, "z")).toDF("doc_id", "text")
    val got = TextAnalysis.bigramPerplexity(docs)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got.size == 3)
    assert(got(2L)._2 == 0L && got(2L)._3 == 0.0)
    assert(got(3L)._2 == 1L && got(3L)._3 > 0) // single token: unigram only
  }
}
