package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Three tiers:
  *  1. [[bruteForceTopK]] — exact: broadcast the (small) query set against
  *     every candidate; one map-side score + one shuffle for the per-query
  *     top-k window. The 100 TB-safe exact baseline when |queries| is small.
  *  2. [[lshTopK]] — random-hyperplane LSH: candidates are only scored when
  *     they share a hyperplane-sign bucket with the query, so the scan
  *     prunes to ~1/2^bits of the data per query (multi-probe widens recall).
  *  3. [[ivfTopK]] — IVF: a deterministic one-pass coarse quantizer assigns
  *     every vector to its nearest seed centroid; queries probe only the
  *     `nProbe` closest cells. This is the classic IVF-Flat layout: at scale
  *     the cell id becomes a partition/bucket key so a probe touches only
  *     matching files.
  *
  * The reference only *names* distance metrics when creating collections
  * (`adapters/qdrant.py:163-169`); search itself is delegated to the target
  * DB. Here search is a first-class Spark plan.
  */
object Similarity {

  /** Exact cosine top-k: every query row against every candidate row.
    * `queries` must be small (it is broadcast). Ties break on candidate id
    * so results are deterministic. */
  def bruteForceTopK(candidates: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")))
    val c = candidates.select(col(idCol).as("cand_id"), col(vecCol).as("c_vec"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("cand_id").asc)
    c.join(q, col("cand_id") =!= col("query_id")) // broadcast NL join: score all pairs
      .withColumn("score", round(VectorFunctions.cosineSimilarity(col("q_vec"), col("c_vec")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("query_id", "cand_id", "score", "rk")
  }

  /** Cross-corpus MARGIN mining — the ratio-margin criterion of the
    * public bitext-mining pipelines (Artetxe & Schwenk 2019; what
    * LASER/CCMatrix-style corpus alignment scores with): for each source
    * row, the target candidate maximizing
    * `margin(x,y) = cos(x,y) / ((avgK(x→tgt) + avgK(y→src)) / 2)` where
    * `avgK` is the mean cosine of the k nearest CROSS-corpus neighbors.
    * A raw-cosine argmax pairs "hub" vectors (near everything) with half
    * the corpus; the margin denominator normalizes hubness away — the
    * reason mining uses it instead of plain nearest-neighbor.
    *
    * This convenience face runs both kNN passes through
    * [[bruteForceTopK]] (exact; each pass broadcasts its query side, so
    * both corpora must be broadcast-sized). At 100 TB compose
    * [[marginFromNeighbors]] with [[ivfTopK]]-produced neighbor lists
    * instead — the margin math itself touches only the top-k lists
    * (output-bound) and never re-joins the corpora. Corpora must carry
    * disjoint ids (cross-corpus mining semantics). */
  def marginTopPairs(src: DataFrame, tgt: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    marginFromNeighbors(
      bruteForceTopK(tgt, src, k, idCol, vecCol),
      bruteForceTopK(src, tgt, k, idCol, vecCol), k)

  /** The margin computation alone, over precomputed neighbor lists in
    * [[bruteForceTopK]]'s output shape ((query_id, cand_id, score, rk),
    * score on the 1e-6 grid): `srcToTgt` = each source's k nearest
    * targets, `tgtToSrc` = each target's k nearest sources. Exact
    * integer-grid math (micro-scaled cosines, IEEE divisions in a fixed
    * order), so the DuckDB oracle replays it bit for bit. The per-side
    * averages are |src|/|tgt|-row aggregates of the top-k lists, joined
    * back onto the pairs on their own keys (AQE broadcasts them when
    * small; at corpus scale they stay shuffle joins co-keyed with the
    * k·|src| pair frame) — the original corpora are never re-touched. */
  def marginFromNeighbors(srcToTgt: DataFrame, tgtToSrc: DataFrame, k: Int): DataFrame = {
    def s6(c: Column) = round(c * 1e6).cast("long")
    // Divide by the ACTUAL neighbor-list length, not the requested k:
    // an IVF probe that misses cells returns short lists, and a constant-k
    // denominator would deflate their averages and inflate every margin
    // touching them — deviating from the Artetxe & Schwenk criterion
    // (mean over the neighbors actually found). Full lists are unchanged
    // (count == k); the oracle divides by its own count(*) identically.
    val avgS = srcToTgt.groupBy(col("query_id").as("src_id"))
      .agg((sum(s6(col("score"))).cast("double") / count(lit(1))).as("avg_src"))
    val avgT = tgtToSrc.groupBy(col("query_id").as("tgt_id"))
      .agg((sum(s6(col("score"))).cast("double") / count(lit(1))).as("avg_tgt"))
    val w = Window.partitionBy("src_id").orderBy(col("margin").desc, col("tgt_id").asc)
    // NO broadcast hint on the average tables: they are |src|- and
    // |tgt|-sized (one row per corpus vector) — forcing a broadcast
    // would collect a corpus-cardinality table to the driver when mining
    // full corpora. The pair frame is k·|src| rows keyed on the same
    // ids, so these are co-keyed shuffle joins; AQE still broadcasts
    // them when they measure small.
    srcToTgt.select(col("query_id").as("src_id"), col("cand_id").as("tgt_id"),
        s6(col("score")).cast("double").as("__c6"))
      .join(avgS, Seq("src_id"))
      .join(avgT, Seq("tgt_id"))
      // DEFINED-margin guard: a non-positive denominator means the pair's
      // kNN neighborhoods average to zero or negative cosine — dividing
      // there yields NaN/Infinity (NaN sorts ABOVE every double in Spark,
      // so it would win the argmax) or a SIGN-INVERTED ratio that crowns
      // the least similar candidate. Such pairs carry no mining signal;
      // they are excluded, and a source whose every candidate is excluded
      // emits nothing (mirrored verbatim in the gate oracle's WHERE).
      .filter(col("avg_src") + col("avg_tgt") > 0.0)
      // "+ 0.0" folds a possible -0.0 to +0.0 (the q_vec_cov signed-zero
      // lesson — DuckDB round() and Spark round() disagree on -0.0)
      .withColumn("margin",
        round(col("__c6") / ((col("avg_src") + col("avg_tgt")) / 2.0), 6) + lit(0.0))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select("src_id", "tgt_id", "margin")
  }

  /** Deterministic pseudo-random hyperplanes: `bits` planes of dimension
    * `dim`, components from a seeded Gaussian. Plain Scala literals —
    * identical on every executor. */
  private[graft] def hyperplanes(bits: Int, dim: Int, seed: Long = 7L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(bits, dim)(rnd.nextGaussian())
  }

  /** Sign-bucket id: bit j = 1 iff v · plane_j > 0 (one fused compiled
    * loop over all planes — [[graft.functions.HyperplaneBucketExpr]]). */
  private[ops] def bucketExpr(vecCol: String, planes: Array[Array[Double]]) =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.HyperplaneBucketExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(col(vecCol)), planes))

  /** Thrown by [[resolveDim]] when a corpus has NO non-empty vectors to
    * infer the embedding dim from. A dedicated TYPE (not a message to
    * substring-match): callers that treat vectorless corpora as a no-op
    * (pipeline `cluster_by_similarity`) catch this and must not silently
    * revert to hard failures if the message is ever reworded. Subclasses
    * IllegalArgumentException so `require`-style handling keeps working. */
  class NoVectorsException(msg: String) extends IllegalArgumentException(msg)

  /** Embedding dimensionality of `vecCol`: the caller's explicit value if
    * positive, else read off ONE row (a LocalLimit(1) scan — cheap and
    * scale-safe; the alternative, silently assuming a fixed dim, produces
    * wrong-length hyperplanes and garbage buckets with no error). */
  private[ops] def resolveDim(df: DataFrame, vecCol: String, dim: Int): Int = {
    if (dim > 0) dim
    else {
      val rows = df.select(size(col(vecCol)).as("d")).filter(col("d") > 0).limit(1).collect()
      if (rows.isEmpty)
        throw new NoVectorsException(
          s"cannot infer embedding dim: no non-empty '$vecCol' values")
      rows(0).getInt(0)
    }
  }

  /** LSH-bucketed ANN: score only candidates in the query's bucket, with
    * multi-probe (the query also probes every bucket at Hamming distance 1
    * — standard practice to recover recall without duplicating the
    * candidate table). Trades recall for a ~2^bits/(bits+1) scan reduction.
    * Candidate/query bucket assignment is a narrow map; the only shuffle is
    * the equi-join on bucket id — broadcastable because queries are few. */
  def lshTopK(candidates: DataFrame, queries: DataFrame, k: Int, bits: Int = 8,
              idCol: String = "vec_id", vecCol: String = "embedding",
              multiProbe: Boolean = true, dim: Int = -1,
              probeAll: Boolean = false): DataFrame = {
    val planes = hyperplanes(bits, resolveDim(candidates, vecCol, dim))
    val c = candidates.select(col(idCol).as("cand_id"), col(vecCol).as("c_vec"))
      .withColumn("bucket", bucketExpr("c_vec", planes))
    // probeAll: every bucket is probed, so the result must equal exact
    // brute-force top-k — the oracle-checkable mode (each candidate sits in
    // exactly one bucket, so no pair is scored twice); selective probing
    // (the production trade) keeps the same plan with fewer probe keys.
    val probes: Column => Column = b =>
      if (probeAll) array((0L until (1L << bits)).map(lit): _*)
      else if (multiProbe) array(b +: (0 until bits).map(j => b.bitwiseXOR(lit(1L << j))): _*)
      else array(b)
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("bucket", explode(probes(bucketExpr("q_vec", planes)))))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("cand_id").asc)
    c.join(q, Seq("bucket")).filter(col("cand_id") =!= col("query_id"))
      .withColumn("score", round(VectorFunctions.cosineSimilarity(col("q_vec"), col("c_vec")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("query_id", "cand_id", "score", "rk")
  }

  /** Binary (sign-bit) Hamming top-k: quantize every vector to one bit per
    * dimension ([[graft.functions.BinaryVectors.signBitsWords]] — dim/8
    * bytes, a 32× narrower scan than the float collection) and rank
    * candidates by Hamming distance to each query's sign pattern. For
    * unit-ish embeddings, Hamming(sign(a), sign(b)) is a monotone proxy for
    * angular distance (each agreeing hyperplane octant bit), so this is the
    * classic cheap first-pass retrieval; re-rank survivors with exact
    * cosine when precision matters. Same plan shape as [[bruteForceTopK]]:
    * broadcast the packed queries, one codegen'd XOR+popcount per
    * candidate, one shuffle for the per-query top-k window. Ties break on
    * candidate id — fully deterministic, which also makes the whole
    * operator SQL-replayable (pure integer math). */
  def hammingTopK(candidates: DataFrame, queries: DataFrame, k: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import graft.functions.BinaryVectors
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      BinaryVectors.signBitsWords(col(vecCol)).as("q_bits")))
    val c = candidates.select(col(idCol).as("cand_id"),
      BinaryVectors.signBitsWords(col(vecCol)).as("c_bits"))
    val w = Window.partitionBy("query_id").orderBy(col("hamming").asc, col("cand_id").asc)
    c.join(q, col("cand_id") =!= col("query_id"))
      .withColumn("hamming", BinaryVectors.wordsHamming(col("q_bits"), col("c_bits")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("query_id", "cand_id", "hamming", "rk")
  }

  /** Two-stage binary retrieval: Hamming distance over sign bits selects a
    * `shortlist` per query (the cheap pass — 32× narrower scan), then ONLY
    * those candidates are re-scored with exact cosine and re-ranked. The
    * float vectors are joined back for shortlist·|queries| rows, not the
    * collection — the same shortlist-then-re-rank shape as
    * [[graft.ops.Quantization.pqTopK]]. With `shortlist` >= |candidates|
    * the result equals [[bruteForceTopK]] exactly (spec-asserted);
    * production recall is tuned by widening the shortlist. */
  def hammingTopKReRank(candidates: DataFrame, queries: DataFrame, k: Int,
                        shortlist: Int = 50,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // the shortlist must be at least k wide or every query silently gets
    // fewer than the k rows it asked for (pqTopK guards the same shape
    // with max(k, reRank)); recall still tunes by widening past k
    val short = hammingTopK(candidates, queries, math.max(k, shortlist), idCol, vecCol)
      .select("query_id", "cand_id")
    val qv = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")))
    val cv = candidates.select(col(idCol).as("cand_id"), col(vecCol).as("c_vec"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("cand_id").asc)
    short.join(cv, "cand_id").join(qv, "query_id")
      .withColumn("score", round(VectorFunctions.cosineSimilarity(col("q_vec"), col("c_vec")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("query_id", "cand_id", "score", "rk")
  }

  /** Group-capped diversified top-k: the highest-scoring k candidates per
    * query subject to "at most `maxPerGroup` results from any one group"
    * (domain, source, cluster id, …) — the standard result-diversification
    * rule in retrieval UIs and RAG context assembly, where three
    * near-identical pages from one domain crowd out everything else.
    *
    * Plan shape: the brute-force scored pairs plus TWO windows, both
    * partitioned by query (the second additionally by group) — no extra
    * scan, no extra shuffle beyond the per-query rank every top-k already
    * pays. Deterministic tie-breaks on candidate id; fully SQL-replayable
    * (the oracle gate replays both windows).
    *
    * `shortlist` swaps the first stage for any ANN tier's output
    * (`(query_id, cand_id, score)` — [[lshTopK]], [[ivfTopK]],
    * [[graft.ops.Quantization.ivfPqTopK]], …): at corpus scale the exact
    * all-pairs stage is the bottleneck, the diversification windows are
    * not, so the scale path is ANN shortlist → same two windows. */
  /** Rescore an ANN tier's MEMBERSHIP (query_id, cand_id) as exact grid
    * cosine against `candProj` (must carry `cand_id`, `c_vec`, plus any
    * rider columns) — ONE definition for the three shortlist consumers
    * (diversifiedTopK, mmrTopK, hardNegatives), which had drifted:
    * membership is deduped and self-pairs dropped here, because an
    * EXTERNAL tier may echo the query document itself (a common ANN-
    * service behavior) or repeat a pair, and a self-pair rescored to
    * cosine 1.0 would burn the top slot of every downstream ranking. */
  private def rescoreMembership(shortlist: DataFrame, candProj: DataFrame,
                                queries: DataFrame, idCol: String,
                                vecCol: String): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")))
    shortlist.select(col("query_id"), col("cand_id")).distinct()
      .filter(col("cand_id") =!= col("query_id"))
      .join(candProj, "cand_id")
      .join(q, "query_id")
      .withColumn("score",
        round(VectorFunctions.cosineSimilarity(col("q_vec"), col("c_vec")), 6))
  }

  def diversifiedTopK(candidates: DataFrame, queries: DataFrame, k: Int,
                      groupCol: String, maxPerGroup: Int = 2,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      shortlist: Option[DataFrame] = None): DataFrame = {
    require(k > 0 && maxPerGroup > 0)
    val scored = shortlist match {
      case Some(s) =>
        // the tier contributes MEMBERSHIP (query, cand) pairs; relevance
        // is recomputed as exact cosine so ranking semantics don't depend
        // on the tier's own score scale (PQ tiers emit L2 dist)
        rescoreMembership(s, candidates.select(col(idCol).as("cand_id"),
          col(vecCol).as("c_vec"), col(groupCol).as("grp")), queries, idCol, vecCol)
      case None =>
        val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")))
        val c = candidates.select(col(idCol).as("cand_id"), col(vecCol).as("c_vec"),
          col(groupCol).as("grp"))
        c.join(q, col("cand_id") =!= col("query_id"))
          .withColumn("score",
            round(VectorFunctions.cosineSimilarity(col("q_vec"), col("c_vec")), 6))
    }
    val wg = Window.partitionBy("query_id", "grp")
      .orderBy(col("score").desc, col("cand_id").asc)
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("cand_id").asc)
    scored
      .withColumn("gk", row_number().over(wg))
      .filter(col("gk") <= maxPerGroup)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("query_id", "cand_id", "grp", "score", "rk")
  }

  /** Maximal-marginal-relevance re-rank (Carbonell & Goldstein 1998): from
    * each query's top-`nCand` relevance shortlist, greedily select k
    * results maximizing `λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)` —
    * relevance traded against redundancy, so two copies of the same
    * document can't both make the cut.
    *
    * The greedy loop is inherently sequential PER QUERY but independent
    * ACROSS queries, so the scale shape is: distributed shortlist
    * ([[bruteForceTopK]] by default; pass `shortlist` to swap in any ANN
    * tier's `(query_id, cand_id, score)` output — [[lshTopK]],
    * [[ivfTopK]], [[graft.ops.Quantization.ivfPqTopK]]), then
    * `groupByKey(query).mapGroups` running the O(k·nCand) selection over
    * each query's ≤nCand candidates — bounded memory per task, queries
    * spread across executors, nothing on the driver. Correctness is spec'd against an
    * independent in-memory reference implementation AND oracle-gated: the
    * `q_ann_mmr` oracle replays the greedy recursion as a DuckDB recursive
    * CTE carrying the selected set in list columns.
    *
    * Ids must be integral (the fixture's `vec_id` longs). Ties break on
    * higher relevance then lower id; `mmr_score` of the first pick is its
    * λ-scaled relevance (nothing selected yet ⇒ no penalty term).
    *
    * The score is defined on an INTEGER grid: relevance and the redundancy
    * penalty are both 1e-6-rounded, λ is taken in thousandths, and
    * `mmr_score = (λ₁₀₀₀·rel₆ − (1000−λ₁₀₀₀)·pen₆) / 1e9` — an exact
    * integer combination, not a float chain. This is what makes the greedy
    * recursion engine-portable (the oracle replays it as a recursive CTE):
    * λ·rel over a 1e-6 relevance grid lands EXACTLY on .5 rounding
    * boundaries at the 7th decimal for common λ, so a float-defined score
    * diverges across engines structurally, not just in edge cases. */
  def mmrTopK(candidates: DataFrame, queries: DataFrame, k: Int,
              lambda: Double = 0.7, nCand: Int = 200,
              idCol: String = "vec_id", vecCol: String = "embedding",
              shortlist: Option[DataFrame] = None): DataFrame = {
    require(k > 0 && nCand >= k && lambda >= 0.0 && lambda <= 1.0)
    val lam = math.round(lambda * 1000)
    val spark = candidates.sparkSession
    import spark.implicits._
    // an explicit shortlist contributes MEMBERSHIP; relevance is recomputed
    // as exact grid cosine so the greedy's inputs don't depend on the
    // tier's score scale (PQ tiers emit L2 dist, not cosine) — with a
    // shortlist covering the brute-force top-nCand the results are
    // IDENTICAL to the default path
    // the shortlist path keeps the c_vec rescoreMembership already joined
    // (a second candidates join for data in hand was pure wasted work);
    // only the brute-force path — whose top-k output is vector-less —
    // joins the corpus for the greedy's vectors
    val short = shortlist.map { s =>
      rescoreMembership(s, candidates.select(col(idCol).as("cand_id"),
          col(vecCol).as("c_vec")), queries, idCol, vecCol)
        .select(col("query_id"), col("cand_id"), col("score"), col("c_vec"))
    }.getOrElse(
      bruteForceTopK(candidates, queries, nCand, idCol, vecCol).join(
        candidates.select(col(idCol).as("cand_id"), col(vecCol).as("c_vec")), "cand_id"))
    // a null query or candidate vector has no score: it cannot rank
    val withVec = short.filter(col("score").isNotNull && col("c_vec").isNotNull)
      .select(col("query_id").cast("long"), col("cand_id").cast("long"),
        col("score").cast("double"),
        // accept array<double> corpora too (VectorFunctions.normalize —
        // this face's own recommended pre-step — emits doubles); the
        // greedy's math is double either way
        transform(col("c_vec"), _.cast("float")).as("c_vec"))
      .as[(Long, Long, Double, Array[Float])]
    withVec.groupByKey(_._1)
      .mapGroups { (qid, it) =>
        def grid6(x: Double): Long = // 1e-6 grid, HALF_UP — DuckDB round(x*1e6)
          BigDecimal(x * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        val cands = it.map { case (_, cid, rel, v) =>
          // L2-normalize once so candidate-candidate sim is a plain dot
          val n = math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x))
          val u = if (n == 0.0) v.map(_ => 0.0) else v.map(_ / n)
          (cid, grid6(rel), u)
        }.toArray.sortBy(c => (-c._2, c._1))
        val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        val used = new Array[Boolean](cands.length)
        // INCREMENTAL redundancy: maxSim(i) = max dot against the selected
        // set so far, updated with ONE dot per candidate per round (max is
        // associative, so this equals rescanning the whole selected set —
        // which was O(k²·nCand·dim) per query for identical values)
        val maxSim = Array.fill(cands.length)(Double.NegativeInfinity)
        while (selected.length < math.min(k, cands.length)) {
          var bestI = -1; var bestScore = Long.MinValue
          var i = 0
          while (i < cands.length) {
            if (!used(i)) {
              val rel6 = cands(i)._2
              val pen6 = if (selected.isEmpty) 0L else grid6(maxSim(i))
              val m = lam * rel6 - (1000 - lam) * pen6
              // strict > : equal MMR scores fall back to the (rel desc,
              // id asc) array order, making selection deterministic
              if (m > bestScore) { bestScore = m; bestI = i }
            }
            i += 1
          }
          used(bestI) = true
          selected += ((cands(bestI)._1, bestScore))
          val su = cands(bestI)._3
          var t = 0
          while (t < cands.length) {
            if (!used(t)) {
              val u = cands(t)._3
              var d = 0.0; var j = 0
              val nn = math.min(u.length, su.length)
              while (j < nn) { d += u(j) * su(j); j += 1 }
              if (d > maxSim(t)) maxSim(t) = d
            }
            t += 1
          }
        }
        (qid, selected.toSeq)
      }
      .flatMap { case (qid, sel) =>
        sel.zipWithIndex.map { case ((cid, m), i) => (qid, cid, m / 1e9, i + 1) }
      }
      .toDF("query_id", "cand_id", "mmr_score", "rk")
  }

  /** LSH near-pair generator (the scale path for cosine near-dedup):
    * pairs sharing a hyperplane bucket, verified by exact cosine.
    *
    * Recall recovery is a PARAMETER, not a doc-comment recipe: each extra
    * entry in `seeds` re-buckets the corpus on independently-rotated
    * planes and the passes union with one pair-dedup — a near-dup pair
    * split by one plane set survives if ANY set keeps it together (miss
    * probability multiplies per seed: (1 − (1 − θ/π)^bits)^|seeds|).
    * Cost is linear in |seeds| (one bucket-join each); the single-seed
    * default keeps the historical plan byte-for-byte (no dedup node). */
  def lshCosinePairs(emb: DataFrame, threshold: Double, bits: Int = 8,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     dim: Int = -1, seeds: Seq[Long] = Seq(7L)): DataFrame = {
    require(seeds.nonEmpty, "lshCosinePairs needs at least one plane seed")
    val d = resolveDim(emb, vecCol, dim)
    def pass(seed: Long): DataFrame = {
      val planes = hyperplanes(bits, d, seed)
      val bk = emb.select(col(idCol), col(vecCol))
        .withColumn("bucket", bucketExpr(vecCol, planes))
      val a = bk.select(col("bucket"), col(idCol).as("id_a"), col(vecCol).as("v_a"))
      val b = bk.select(col("bucket"), col(idCol).as("id_b"), col(vecCol).as("v_b"))
      a.join(b, "bucket").filter(col("id_a") < col("id_b"))
        .withColumn("cosine", round(VectorFunctions.cosineSimilarity(col("v_a"), col("v_b")), 6))
        .filter(col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    }
    if (seeds.length == 1) pass(seeds.head)
    // cosine is a pure function of the pair, so the dedup keys on the pair
    // alone — one hash-aggregate over the unioned passes
    else seeds.map(pass).reduce(_ unionByName _).dropDuplicates("id_a", "id_b")
  }

  /** Achieved recall of `seeds` unioned sign-LSH passes for a pair at
    * cosine `sim`: a pair at angle θ = acos(sim) collides under one
    * `bits`-plane set with probability p = (1−θ/π)^bits, so s independent
    * sets catch it with 1−(1−p)^s. This is the closed form both
    * [[recallSeeds]] and its honesty story rest on — callers sizing their
    * own (bits, seeds) trade can read the number instead of trusting a
    * docstring: e.g. lshRecall(0.9, 8, 5) ≈ 0.82 but
    * lshRecall(0.9, 24, 5) ≈ 0.11, while lshRecall(0.999, 24, 5) ≈ 1.0 —
    * wide codes keep near-exact duplicates and shed the 0.9-grade band. */
  def lshRecall(sim: Double, bits: Int, seeds: Int): Double = {
    require(sim > -1.0 && sim <= 1.0, s"cosine sim must be in (-1, 1], got $sim")
    require(bits > 0 && seeds > 0)
    val p = math.pow(1.0 - math.acos(sim) / math.Pi, bits)
    1.0 - math.pow(1.0 - p, seeds)
  }

  /** Recall-targeted seed-count policy (round 13): the smallest number of
    * independently rotated plane sets whose unioned passes catch a
    * DUPLICATE-GRADE pair — cosine ≥ max(threshold, 0.9) — with
    * probability ≥ `targetRecall`, CAPPED at `maxSeeds`. Derivation: see
    * [[lshRecall]]; solving 1−(1−p)^s ≥ R for s gives
    * ceil(ln(1−R)/ln(1−p)). The reference similarity is duplicate-grade,
    * NOT the raw threshold: at corpus-scaled bit widths a pair barely AT
    * a low threshold is near-orthogonal and has vanishing collision
    * probability — no affordable seed count fixes that, and the
    * exact/blocked faces own the low-threshold regime.
    *
    * THE CAP BINDS past ~8 bits: at the 0.9-grade anchor one pass keeps a
    * pair with p = 0.856^bits, so from bits = 9 even `maxSeeds` = 5 passes
    * land under the 0.8 target (lshRecall(0.9, 12, 5) ≈ 0.57,
    * (0.9, 24, 5) ≈ 0.11) — only NEAR-EXACT pairs stay covered at wide
    * codes (lshRecall(0.999, 24, 5) ≈ 1.0). That is a deliberate budget
    * choice, not an oversight: meeting 0.8 at bits = 24 needs ~66 passes.
    * Callers who need guaranteed 0.9-grade recall at corpus-scaled widths
    * should trade bits down per pass and raise `maxSeeds` (the banding
    * trade: smaller codes, more passes, fatter buckets), checking the
    * result with [[lshRecall]].
    *
    * Seeds are consecutive from `base` (7, 8, 9, …), the same ladder the
    * multi-seed recall spec measures. Cost of the returned policy is one
    * bucket-join per seed — linear, never quadratic. */
  def recallSeeds(threshold: Double, bits: Int, targetRecall: Double = 0.8,
                  maxSeeds: Int = 5, base: Long = 7L): Seq[Long] = {
    require(targetRecall > 0 && targetRecall < 1,
      s"targetRecall must be in (0, 1), got $targetRecall")
    require(bits > 0 && maxSeeds > 0)
    val simRef = math.min(0.999, math.max(threshold, 0.9))
    val theta = math.acos(simRef)
    val p = math.pow(1.0 - theta / math.Pi, bits)
    // log1p, not log(1 - p): for p below double precision (huge bit
    // widths), 1.0 - p rounds to 1.0, log gives -0.0, and the quotient
    // collapses to -Infinity -> Int.MinValue -> ONE seed exactly where
    // the cap should bind with ALL maxSeeds passes
    val s =
      if (p >= 1.0 - 1e-12) 1
      else if (p <= 0.0) maxSeeds
      else {
        val raw = math.ceil(math.log(1.0 - targetRecall) / math.log1p(-p))
        if (raw.isInfinite || raw > maxSeeds) maxSeeds else raw.toInt
      }
    val n = math.max(1, math.min(maxSeeds, s))
    (0 until n).map(base + _.toLong)
  }

  /** [[lshCosinePairs]] with the bit width chosen FROM THE CORPUS SIZE:
    * `bits = ceil(log2(n / targetBucket))` (clamped to [4, 24]), so the
    * bucket count grows with the corpus and expected occupancy — and with
    * it the Σ|bucket|² candidate work — stays ~`targetBucket` per bucket
    * at any scale. Any fixed-width blocker goes quadratic the moment the
    * corpus outgrows its bucket count: the sf1 bench ramp measured the
    * label-blocked variant at 42× cost for 10× rows. Costs one extra
    * `count()` pass to size the corpus. Recall is a POLICY here, not a
    * doc-comment recipe: when `seeds` is empty (the default) the seed
    * count derives from the corpus-scaled bit width via [[recallSeeds]],
    * targeting ≥80% recall for duplicate-grade pairs — MET while the
    * derived count stays under the policy's 5-seed cap (bits ≤ 8, i.e.
    * corpora up to ~`targetBucket`·2⁸ rows); past that the cap binds and
    * achieved 0.9-grade recall degrades with width while near-exact pairs
    * (cosine ≥ 0.99) remain well-covered — read the exact number with
    * [[lshRecall]] and see the cap discussion on [[recallSeeds]]. Pass
    * explicit `seeds` to pin a configuration (the bench pins the
    * single-seed floor for round-over-round comparability;
    * `q_dedup_cosine_lsh_ms` measures this default). */
  def lshCosinePairsAuto(emb: DataFrame, threshold: Double, targetBucket: Int = 64,
                         idCol: String = "vec_id", vecCol: String = "embedding",
                         dim: Int = -1, seeds: Seq[Long] = Nil): DataFrame = {
    val n = emb.count()
    val want = math.max(1L, n / math.max(1, targetBucket))
    val bits = math.max(4, math.min(24, 64 - java.lang.Long.numberOfLeadingZeros(want - 1)))
    val ss = if (seeds.nonEmpty) seeds else recallSeeds(threshold, bits)
    lshCosinePairs(emb, threshold, bits, idCol, vecCol, dim, ss)
  }

  /** IVF-Flat: deterministic coarse quantizer (lowest-id seeds, optionally
    * refined by Lloyd's rounds — `quantizerIters` > 1 trains the cells the
    * way a real IVF index build does, tightening recall-per-probe), then
    * per-query probing of the `nProbe` nearest cells. Returns exact cosine
    * within the probed cells. */
  def ivfTopK(candidates: DataFrame, queries: DataFrame, k: Int,
              nCells: Int = 16, nProbe: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding",
              quantizerIters: Int = 1): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(nProbe > 0, s"nProbe must be positive, got $nProbe " +
      "(nProbe = 0 would probe no cells and silently return nothing)")
    // Centers: the ONLY collect in the ANN path, bounded by nCells
    // (16 rows), turned into literal expressions so cell assignment is a
    // pure map (no shuffle, no join) over candidates. Only the center
    // VECTORS are collected — center ids are corpus ids (often strings,
    // not long-castable) and the cells are addressed by position.
    val seeds: Array[Array[Double]] =
      Clustering.fitCenters(candidates, nCells, quantizerIters, vecCol, idCol)
        .orderBy(col("center_id"))
        .select(transform(col("center"), _.cast("double")))
        .collect().map(_.getSeq[Double](0).toArray)
    require(seeds.nonEmpty, "empty center set: no non-null candidate vector")

    def cellScores(vec: String): Seq[org.apache.spark.sql.Column] =
      seeds.toIndexedSeq.zipWithIndex.map { case (sv, i) =>
        struct(
          VectorFunctions.cosineSimilarity(col(vec), typedLit(sv.toSeq)).as("s"),
          lit(-i).as("t"), lit(i).as("cell"))
      }
    // argmax cell as a literal greatest() — narrow, codegen-able
    def bestCell(vec: String) = greatest(cellScores(vec): _*).getField("cell")
    // nProbe nearest cells for a query: sort the literal score array
    def probeCells(vec: String) = slice(
      transform(reverse(array_sort(array(cellScores(vec): _*))), _.getField("cell")),
      1, nProbe)

    val c = candidates.select(col(idCol).as("cand_id"), col(vecCol).as("c_vec"))
      .withColumn("cell_id", bestCell("c_vec"))
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
        .withColumn("cell_id", explode(probeCells("q_vec"))))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("cand_id").asc)
    c.join(q, Seq("cell_id")).filter(col("cand_id") =!= col("query_id"))
      .withColumn("score", round(VectorFunctions.cosineSimilarity(col("q_vec"), col("c_vec")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("query_id", "cand_id", "score", "rk")
  }

  /** Hard-negative mining for embedding/retriever training: for each
    * (query, positive) training pair, the `n` highest-scoring candidates
    * that are NOT positives and score below every positive by at least
    * `marginMicros` (on the 1e-6 cosine grid) — the near-misses a
    * contrastive loss learns the most from, with the margin guarding
    * against unlabeled true positives poisoning the negative set (the
    * standard "denoised" mining rule from dense-retrieval training).
    *
    * Scale shape: the candidate stage is pluggable like
    * [[diversifiedTopK]] — default exact [[bruteForceTopK]] over the
    * broadcast query set, or any ANN tier's `(query_id, cand_id)` output
    * via `shortlist` (membership only; scores are recomputed as exact grid
    * cosine). Positive scores come from ONE broadcast join of the
    * (query, positive) pairs against the candidate vectors — |pairs| rows,
    * never the collection. Everything after the shortlist is two narrow
    * joins + one per-query window; all arithmetic on the integer grid so a
    * SQL oracle replays margins and tie-breaks exactly.
    *
    * @param positives    (query_id, pos_id) labeled pairs; queries with no
    *                     surviving candidate after the margin yield fewer
    *                     than `n` rows (never padded).
    * @param marginMicros required gap below the WEAKEST positive, in 1e-6
    *                     cosine units (50000 = 0.05).
    */
  def hardNegatives(candidates: DataFrame, queries: DataFrame, positives: DataFrame,
                    n: Int, marginMicros: Long = 50000, nCand: Int = 200,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    shortlist: Option[DataFrame] = None): DataFrame = {
    require(n > 0 && nCand >= n && marginMicros >= 0)
    val qv = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")))
    val cv = candidates.select(col(idCol).as("cand_id"), col(vecCol).as("c_vec"))
    val scored = shortlist match {
      case Some(s) => // tier contributes membership; exact grid score op-side
        rescoreMembership(s, cv, queries, idCol, vecCol)
          .select("query_id", "cand_id", "score")
      case None => bruteForceTopK(candidates, queries, nCand, idCol, vecCol)
        .select("query_id", "cand_id", "score")
    }
    // weakest positive per query, scored exactly (independent of the
    // shortlist so a positive missing from an ANN tier's list cannot
    // loosen the margin); broadcast-sized: one row per labeled pair.
    // The broadcasts below are EXPLICIT (r19): with estimate-driven
    // broadcasts disabled session-wide, the by-contract-small sides
    // (labeled pairs) must carry their own hints or these joins would
    // plan as sort-merge and shuffle the candidate collection.
    val posPairs = positives.select(col("query_id"), col("pos_id"))
    val posFloor = broadcast(
      broadcast(posPairs).join(cv.withColumnRenamed("cand_id", "pos_id"), "pos_id").join(qv, "query_id")
        .withColumn("p6", (round( // snap to the 1e-6 grid FIRST: raw cos·1e6
          // can sit on a .5 boundary where engines' rounding modes diverge
          round(VectorFunctions.cosineSimilarity(col("q_vec"), col("c_vec")), 6) * 1e6))
          .cast("long"))
        .groupBy("query_id").agg(min(col("p6")).as("pos_floor6")))
    val w = Window.partitionBy("query_id").orderBy(col("score6").desc, col("cand_id").asc)
    scored
      .withColumn("score6", (round(col("score") * 1e6)).cast("long"))
      .join(broadcast(posPairs.withColumnRenamed("pos_id", "cand_id")),
        Seq("query_id", "cand_id"),
        "left_anti") // a labeled positive is never a negative
      .join(posFloor, Seq("query_id")) // queries without positives have no pairs to train
      .filter(col("score6") <= col("pos_floor6") - marginMicros)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= n)
      .select("query_id", "cand_id", "score", "rk")
  }
}
