package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions, VectorFunctions}

/** Deduplication operators for training-data pipelines.
  *
  * Four families, in increasing fuzziness: exact (hash groupBy), MinHash+LSH
  * (shingle → signature → banded bucket join), SimHash (64-bit
  * locality-sensitive fingerprint), and n-gram Jaccard verification. The
  * reference has no dedup at all (single-relation copy pipeline,
  * `core/migrator.py:69-100`); these are the engine-side extensions.
  *
  * Scale design: every candidate-pair generator is a shuffle-on-key join
  * (band hash / block key), never a cross join. The only O(n²) step is
  * *verification inside a bucket*, whose size is bounded by the band
  * granularity. At 100 TB: shingling/minhashing is embarrassingly parallel
  * map work; the band join shuffles `numBands` rows per doc (small ints),
  * not the text; skewed buckets (boilerplate docs) are capped explicitly.
  */
object Dedup {

  /** Large Mersenne prime 2^31-1: the MinHash universal-hash modulus. */
  private val P = 2147483647L

  /** Deterministic (a, b) parameters for the universal hash family
    * h_i(x) = (a_i·x + b_i) mod P. Seeded so results are reproducible
    * across runs/clusters. */
  private def hashParams(numHashes: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42L)
    Seq.fill(numHashes)((1L + rnd.nextInt((P - 1).toInt).toLong, rnd.nextInt(P.toInt).toLong))
  }

  /** The (a, b) permutation parameters as arrays — public so the DuckDB
    * oracle for the portable pipeline interpolates the IDENTICAL constants
    * into its SQL (generated from the same source, the two sides cannot
    * drift). */
  def minhashParams(numHashes: Int): (Array[Long], Array[Long]) = {
    val ps = hashParams(numHashes)
    (ps.map(_._1).toArray, ps.map(_._2).toArray)
  }

  /** Exact dedup: group identical normalized text, keep the lowest id.
    * Pure hash aggregation — one shuffle on the text hash at any scale. */
  def exactDuplicates(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val norm = lower(trim(col(textCol)))
    docs
      .groupBy(norm.as("norm_text"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"), md5(col("norm_text")).as("content_md5"))
  }

  /** `dropDuplicates` flavor: one representative row per distinct key. */
  def dedup(docs: DataFrame, cols: Seq[String]): DataFrame =
    docs.dropDuplicates(cols)

  /** Exact dedup with best-representative election: within each group of
    * identical normalized texts, keep the row MAXIMIZING `score` (ties →
    * lowest id) instead of [[exactDuplicates]]'s arbitrary min-id pick.
    * This is how production corpus dedup actually chooses survivors —
    * prefer the copy from the canonical source / with the richest
    * metadata / the highest quality score.
    *
    * Same scale shape as [[exactDuplicates]]: a `min(struct(-score, id))`
    * hash aggregation — map-side combinable, ONE shuffle on the text
    * hash, no window sort over the group. `score` must be numeric.
    */
  def collapseKeepBest(docs: DataFrame, score: Column, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame =
    docs
      .groupBy(lower(trim(col(textCol))).as("norm_text"))
      .agg(min(struct((-score).as("neg"), col(idCol).as("id"))).as("best"),
        count(lit(1)).as("n_copies"))
      .select(col("best.id").as("keep_id"), (-col("best.neg")).as("score"),
        col("n_copies"), md5(col("norm_text")).as("content_md5"))

  /** MinHash signature column: array<long> of length `numHashes`, built
    * from word `shingleSize`-gram shingles. The signature itself is a
    * codegen'd Catalyst expression ([[graft.functions.MinHashSignatureExpr]])
    * — the HOF formulation (64 interpreted `aggregate`s) costs ~2.6 ms/doc;
    * the compiled loop is ~100× cheaper, which decides feasibility at
    * 100 TB. */
  def withMinHashSignature(docs: DataFrame, textCol: String = "text",
                           numHashes: Int = 64, shingleSize: Int = 3): DataFrame = {
    val hashes = graft.functions.HashExpressions.wordShingleHashes(col(textCol), shingleSize)
    val params = hashParams(numHashes)
    docs.withColumn("minhash_sig",
      graft.functions.HashExpressions.minHashSignature(
        hashes, params.map(_._1).toArray, params.map(_._2).toArray))
  }

  /** One-permutation MinHash signature: same column name and banding
    * semantics as [[withMinHashSignature]], but ONE universal hash per
    * shingle binned into `numHashes` ranges (rotation-densified —
    * [[graft.functions.OnePermMinHashExpr]]). The signature pass is the
    * full-corpus scan of the dedup pipeline, so cutting its inner loop
    * from `numHashes` multiply-mods to one is the production default at
    * scale; k-hash stays the audit baseline. */
  def withOnePermSignature(docs: DataFrame, textCol: String = "text",
                           numHashes: Int = 64, shingleSize: Int = 3): DataFrame = {
    val hashes = graft.functions.HashExpressions.wordShingleHashes(col(textCol), shingleSize)
    val (a, b) = hashParams(1).head
    docs.withColumn("minhash_sig",
      graft.functions.HashExpressions.onePermMinHash(hashes, numHashes, a, b))
  }

  /** LSH banding: explode each signature into `numBands` (band, bandHash)
    * keys; docs sharing a key are candidate near-duplicates.
    *
    * `portable = true` derives the band key with the polynomial fold of the
    * band's signature values + band index instead of xxhash64 — pure int64
    * math a SQL oracle reproduces (signature values are < P so the fold's
    * precondition holds). Key collisions merge buckets identically in both
    * engines, so outputs still match exactly. */
  def lshBands(signed: DataFrame, idCol: String = "doc_id",
               numBands: Int = 16, rowsPerBand: Int = 4,
               portable: Boolean = false, carryCols: Seq[String] = Nil): DataFrame = {
    val bands = array((0 until numBands).map { j =>
      val key =
        if (portable)
          graft.functions.HashExpressions.polyFoldHash(
            concat(slice(col("minhash_sig"), j * rowsPerBand + 1, rowsPerBand),
              array(lit(j.toLong))))
        else {
          val elems = (0 until rowsPerBand).map(r =>
            element_at(col("minhash_sig"), j * rowsPerBand + r + 1))
          xxhash64(elems :+ lit(j): _*)
        }
      struct(lit(j).as("band"), key.as("band_hash"))
    }: _*)
    signed.select(col(idCol) +: carryCols.map(col) :+ explode(bands).as("b"): _*)
      .select(col(idCol) +: carryCols.map(col) :+ col("b.band") :+ col("b.band_hash"): _*)
  }

  /** Candidate pairs from banded LSH, verified with true n-gram Jaccard.
    *
    * @param threshold   minimum Jaccard similarity to report
    * @param maxBucket   skew guard: buckets larger than this (boilerplate /
    *                    empty docs all colliding) are dropped rather than
    *                    exploding into O(bucket²) pairs — at 100 TB a single
    *                    hot bucket would otherwise dominate the stage.
    * @param verifyExact true (audit mode): re-check candidates against
    *                    exact Jaccard of the hashed shingle sets.
    *                    false (estimate mode, the production default at
    *                    scale): threshold the signature match fraction
    *                    instead — E[match] = J, so no shingle table is
    *                    ever joined and the per-pair payload is the fixed
    *                    `numHashes` longs, not variable shingle arrays.
    * @param onePerm     use the one-permutation signature kernel
    *                    ([[withOnePermSignature]]): one hash per shingle
    *                    instead of `numHashes` — same banding semantics,
    *                    the scale default for the signature pass.
    * @param portable    run the ENTIRE pipeline on engine-portable hashes
    *                    (codepoint-polynomial shingle hashes, polynomial
    *                    band keys): a DuckDB oracle then replays every
    *                    stage — signatures, banding, bucket guard, pair
    *                    join, exact verify — bit-for-bit on the full
    *                    corpus. Shingle-less docs are excluded upfront
    *                    (they can never verify; keeping them out also
    *                    spares the all-sentinel signature bucket).
    */
  def minHashDuplicatePairs(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                            numHashes: Int = 64, numBands: Int = 16, shingleSize: Int = 3,
                            threshold: Double = 0.5, maxBucket: Int = 1000,
                            verifyExact: Boolean = true, onePerm: Boolean = false,
                            portable: Boolean = false): DataFrame = {
    require(!(portable && onePerm),
      "portable mode uses the k-hash kernel (densified one-perm values exceed P, " +
        "breaking the polynomial band key's precondition)")
    val rowsPerBand = numHashes / numBands
    def shingleExpr(c: org.apache.spark.sql.Column) =
      if (portable) graft.functions.HashExpressions.portableShingleHashes(c, shingleSize)
      else graft.functions.HashExpressions.wordShingleHashes(c, shingleSize)
    // NO Tables.spread here (r19, measured): after the shingle-kernel
    // rework the sign pass is cheap enough that a pre-shuffle of the text
    // costs more than the single-core scan it parallelizes — spread(docs)
    // read 1.00→1.50 s at sf0.1 and 2.45→2.63 s at sf1 (the band
    // repartition right below is already the operator's parallelism
    // boundary). The compute-bound paths that DO win keep it
    // (chunkByTokens, the multimodal fixture tables).
    // Explicit id-not-null upfront (a null id could never appear in the
    // pair output anyway): the self-join below INFERS isnotnull on its
    // branches while the count-guard branch would not, and that one-filter
    // difference breaks plan canonicalization — with it aligned, all four
    // consumers of the banded relation reuse ONE shuffle stage.
    val notNull = docs.filter(col(idCol).isNotNull)
    val signedAll =
      if (portable) {
        val (as, bs) = minhashParams(numHashes)
        notNull
          .withColumn("__sh", shingleExpr(col(textCol)))
          .filter(size(col("__sh")) > 0)
          .withColumn("minhash_sig",
            graft.functions.HashExpressions.minHashSignature(col("__sh"), as, bs))
      } else if (onePerm) withOnePermSignature(notNull, textCol, numHashes, shingleSize)
      else withMinHashSignature(notNull, textCol, numHashes, shingleSize)
    // Estimate mode: the signature join below shuffles by ID while bands
    // shuffle by bucket key — no exchange to share, so without
    // materialization the corpus text would be scanned+shingled+signed
    // TWICE (at 100 TB: double IO of the whole corpus). The (id, sig)
    // table is numHashes longs per doc — ~0.5% of text width — so one
    // eager checkpoint feeds both consumers. Exact mode keeps the lazy
    // plan: its shingle table shares the band exchange instead.
    val signed =
      if (verifyExact) signedAll
      else Materialize(signedAll.select(col(idCol), col("minhash_sig")))
    // Explicit repartition on the bucket key: the count guard's aggregate
    // and the pair join below then share this ONE exchange (ReusedExchange)
    // instead of each re-running the shingle+signature scan — the expensive
    // part; the bands themselves are ~1% of the text width. Without it the
    // guard's partial aggregate sits below its own exchange and defeats
    // exchange reuse, doubling the signature scan (measured +0.2 s at sf0.1).
    val bands = lshBands(signed, idCol, numBands, rowsPerBand, portable)
      .repartition(col("band"), col("band_hash"))
    // Skew guard as a partial-aggregate + equi-join rather than a Window:
    // the groupBy count combines map-side (tiny per-bucket rows through the
    // shuffle), where a Window would sort and buffer full per-bucket row
    // state — the state that explodes on a boilerplate bucket at 100 TB.
    // count(idCol), not count(1): keeps the id column referenced so the
    // guard branch projects the SAME columns as the join branch and
    // canonicalizes equal — AQE then reuses one shuffle stage for both
    // (count(1) lets pruning narrow the guard's scan, breaking reuse).
    val smallBuckets = bands.groupBy("band", "band_hash")
      .agg(count(col(idCol)).as("__n"))
      .filter(col("__n") <= maxBucket)
      .select("band", "band_hash")
    val bounded = bands.join(smallBuckets, Seq("band", "band_hash"))
    val left = bounded.select(col("band"), col("band_hash"), col(idCol).as("id_a"))
    val right = bounded.select(col("band"), col("band_hash"), col(idCol).as("id_b"))
    val candidates = left.join(right, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    // verify on hashed shingle sets with the merge-join kernel: the
    // shingle arrays come out of WordShingleHashesExpr SORTED, so the
    // per-pair Jaccard is a zero-allocation two-pointer merge instead of
    // array_intersect/array_union's two hash sets per pair — this loop
    // runs once per candidate pair, the hottest path of the stage.
    // The shingle table is (id, array<long>) — ~1% of the text width — and
    // identical for both join sides, so Spark reuses one broadcast/shuffle
    // of it. (A candidate-id semi-join to prune the re-shingling was
    // measured 7x SLOWER at 30x: it puts the candidate list on both sides
    // of a diamond dependency and defeats subtree reuse. Materializing the
    // candidate list first and semi-joining to it was also slower at sf0.1
    // and sf1 — OPTIMIZATION_r20.md keeps the measurement.)
    if (verifyExact) {
      val sh = docs.select(col(idCol), shingleExpr(col(textCol)).as("sh"))
      candidates
        .join(sh.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(sh.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b")
        .withColumn("jaccard",
          round(graft.functions.HashExpressions.sortedJaccard(col("sh_a"), col("sh_b")), 6))
        .filter(col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    } else {
      // estimate mode: join the fixed-width signatures, never the shingles
      val sig = signed.select(col(idCol), col("minhash_sig"))
      candidates
        .join(sig.select(col(idCol).as("id_a"), col("minhash_sig").as("sig_a")), "id_a")
        .join(sig.select(col(idCol).as("id_b"), col("minhash_sig").as("sig_b")), "id_b")
        .withColumn("jaccard", round(graft.functions.HashExpressions
          .signatureMatchFraction(col("sig_a"), col("sig_b")), 6))
        .filter(col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    }
  }

  /** Estimate-mode near-dup pairs from a PRECOMPUTED signature table — the
    * banding / skew-guard / candidate / signature-verify legs of
    * [[minHashDuplicatePairs]] (estimate mode) without its signing pass.
    * The reuse face for callers that already hold a [[signatureTable]]
    * (e.g. [[graft.core.SigIndex.ingest]]'s within-batch leg, which would
    * otherwise re-sign text it signed for the corpus leg). Results are
    * identical to `minHashDuplicatePairs(docs, …, verifyExact = false)`
    * over the documents the signatures were built from. */
  def duplicatePairsFromSigs(sigs: DataFrame, idCol: String = "doc_id",
                             numHashes: Int = 64, numBands: Int = 16,
                             threshold: Double = 0.5, maxBucket: Int = 1000,
                             portable: Boolean = false): DataFrame = {
    val rowsPerBand = numHashes / numBands
    // same exchange-sharing shape as minHashDuplicatePairs: one
    // repartition on the bucket key feeds the guard count and the pair join
    val bands = lshBands(sigs, idCol, numBands, rowsPerBand, portable)
      .repartition(col("band"), col("band_hash"))
    val smallBuckets = bands.groupBy("band", "band_hash")
      .agg(count(col(idCol)).as("__n"))
      .filter(col("__n") <= maxBucket)
      .select("band", "band_hash")
    val bounded = bands.join(smallBuckets, Seq("band", "band_hash"))
    val candidates = bounded
      .select(col("band"), col("band_hash"), col(idCol).as("id_a"))
      .join(bounded.select(col("band"), col("band_hash"), col(idCol).as("id_b")),
        Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    candidates
      .join(sigs.select(col(idCol).as("id_a"), col("minhash_sig").as("sig_a")), "id_a")
      .join(sigs.select(col(idCol).as("id_b"), col("minhash_sig").as("sig_b")), "id_b")
      .withColumn("jaccard", round(graft.functions.HashExpressions
        .signatureMatchFraction(col("sig_a"), col("sig_b")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** The persisted face of the MinHash index: `(id, minhash_sig)` for every
    * doc — fixed `numHashes` longs per row (~0.5% of text width), the table
    * a production corpus keeps next to itself so each INCREMENTAL batch
    * dedups against the whole history without re-signing it. Write it out
    * bucketed/partitioned once; append each accepted batch's signatures. */
  def signatureTable(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                     numHashes: Int = 64, shingleSize: Int = 3,
                     portable: Boolean = false): DataFrame = {
    val sh =
      if (portable) graft.functions.HashExpressions.portableShingleHashes(col(textCol), shingleSize)
      else graft.functions.HashExpressions.wordShingleHashes(col(textCol), shingleSize)
    val (as, bs) = minhashParams(numHashes)
    docs.filter(col(idCol).isNotNull)
      .withColumn("__sh", sh)
      .filter(size(col("__sh")) > 0)
      .select(col(idCol),
        graft.functions.HashExpressions.minHashSignature(col("__sh"), as, bs).as("minhash_sig"))
  }

  /** The BANDED persisted face of the MinHash index: `(id, band,
    * band_hash)` — the [[signatureTable]] after [[lshBands]], written out
    * once and APPENDED on each accepted batch so no ingest ever re-bands
    * history. Three narrow columns (~25 bytes/row vs `numHashes` longs in
    * the signature table), so even the 100 TB corpus' banded face is a
    * sub-TB scan of exactly the columns a bucket semi-join needs. */
  def bandedSignatureTable(sigs: DataFrame, idCol: String = "doc_id",
                           numBands: Int = 16, rowsPerBand: Int = 4,
                           portable: Boolean = false): DataFrame =
    lshBands(sigs, idCol, numBands, rowsPerBand, portable)

  /** Per-bucket widths `(band, band_hash, bucket_n)` of a banded table —
    * the skew-guard statistic, persisted alongside the banded face so each
    * ingest reads it instead of re-counting the corpus. One row per
    * DISTINCT bucket: tiny relative to the corpus. */
  def bucketWidths(bands: DataFrame, idCol: String = "doc_id"): DataFrame =
    bands.groupBy("band", "band_hash").agg(count(col(idCol)).as("bucket_n"))

  /** Maintain [[bucketWidths]] on append: merge the standing widths with an
    * accepted batch's width deltas (sum per bucket). Run at ingest-accept
    * time so query time never aggregates the corpus. */
  def mergeBucketWidths(standing: DataFrame, delta: DataFrame): DataFrame =
    standing.union(delta).groupBy("band", "band_hash")
      .agg(sum("bucket_n").as("bucket_n"))

  /** LOUD structural-compatibility probe for the raw-frames indexed faces:
    * caller-supplied `numHashes`/`numBands`/`portable` that mismatch the
    * index BUILD never error downstream — band hashes simply never collide
    * and every duplicate is silently admitted (the exact failure mode that
    * bit round 13's snapshot). This probe makes the mismatch fail at call
    * time instead:
    *
    *  1. one sampled signature's length must equal `numHashes` (the
    *     signature table stores the build's width in every row);
    *  2. that doc's band keys, recomputed under the caller's
    *     `(numBands, rowsPerBand, portable)`, must INTERSECT its
    *     persisted rows in the banded face. A `portable` flip or a
    *     different banding changes every hash, so any structural drift
    *     collapses the intersection to zero; matching params always
    *     overlap (the doc's own rows are persisted), so legitimate
    *     indexes with extra rows under one id (re-appends, id
    *     collisions) never false-alarm.
    *
    * `shingleSize` (and a `portable` flip's effect on the BATCH side's
    * shingling) is NOT verifiable from the index alone — signatures don't
    * retain text — which is why the manifest overloads remain the safe
    * entry point; this probe closes every mode the index can witness.
    *
    * Cost: two driver-side actions — a `limit(1)` signature sample and a
    * pushdown-filtered scan of the banded face for one id (parquet
    * min/max page stats usually prune it; worst case one narrow
    * three-column pass). Setup-time only, never per-trigger/per-row.
    * Samples whose doc is stranded sig-only (crash window between the
    * sigs and bands appends) are inconclusive and skipped — up to
    * `ProbeSamples` signatures are tried before giving up silently. */
  private[graft] val ProbeSamples = 8

  def requireIndexCompatible(corpusSigs: DataFrame, corpusBands: DataFrame,
                             idCol: String, numHashes: Int, numBands: Int,
                             portable: Boolean): Unit = {
    val spark = corpusSigs.sparkSession
    // size > 0, not just isNotNull: zero-shingle docs are marker-indexed
    // with EMPTY signatures (SigIndex ingest leg 1), and a marker row
    // would fail the width check on perfectly correct params
    val proj = corpusSigs.select(col(idCol), col("minhash_sig"))
      .filter(col(idCol).isNotNull && size(col("minhash_sig")) > 0)
    val sigRows = proj.limit(ProbeSamples).collect()
    if (sigRows.isEmpty) return // fresh/empty index: nothing to contradict
    sigRows.foreach { r =>
      val got = r.getSeq[Any](1).length
      require(got == numHashes,
        s"structural mismatch: the index's signatures carry $got hashes " +
          s"but the caller passed numHashes=$numHashes — a mismatched call " +
          "silently admits every duplicate; pass the index build's params " +
          "(or use the manifest/indexDir overload, which reads them)")
    }
    val rowsPerBand = numHashes / numBands
    val bandHit = sigRows.view.map { r =>
      val persisted = corpusBands.filter(col(idCol) === lit(r.get(0)))
        .select("band", "band_hash").limit(4096).collect()
        .map(b => (b.getInt(0), b.getLong(1))).toSet
      if (persisted.isEmpty) None // stranded sig-only doc: inconclusive
      else {
        val one = spark.createDataFrame(
          java.util.Collections.singletonList(r), proj.schema)
        val recomputed = lshBands(one, idCol, numBands, rowsPerBand, portable)
          .select("band", "band_hash").collect()
          .map(b => (b.getInt(0), b.getLong(1))).toSet
        // INTERSECTION, not equality: matching params guarantee overlap
        // (the doc's own rows are there), while mismatched hashing makes
        // the sets disjoint (a cross-scheme 64-bit collision aside) —
        // equality would false-alarm on legitimate indexes where the id
        // carries EXTRA rows (re-appends beyond the sample cap, or two
        // docs colliding on one id)
        Some(recomputed.intersect(persisted).nonEmpty)
      }
    }.collectFirst { case Some(ok) => ok }
    bandHit.foreach { ok =>
      require(ok,
        s"structural mismatch: band keys recomputed under the caller's " +
          s"(numBands=$numBands, rowsPerBand=$rowsPerBand, " +
          s"portable=$portable) do not match the banded face's persisted " +
          "rows for a sampled doc — the index was built with different " +
          "structural params, so band hashes would never collide and " +
          "every duplicate would be silently admitted; pass the build's " +
          "params (or use the manifest/indexDir overload)")
    }
  }

  /** Incremental near-duplicate detection: a NEW batch of documents checked
    * against an EXISTING corpus — the shape every production ingest runs
    * (dedup the day's crawl against the 100 TB history), where re-pairing
    * the whole corpus with itself ([[minHashDuplicatePairs]]) would redo
    * work proportional to |corpus| instead of |batch|.
    *
    * The corpus side enters as its persisted artifacts: [[signatureTable]]
    * (for verification), [[bandedSignatureTable]] and [[bucketWidths]]
    * (for candidate generation) — all maintained on append, never
    * recomputed at ingest. The only full-text work of the whole operation
    * is signing the BATCH; the corpus-side work is one broadcast-pruned
    * scan of the banded face:
    *
    *  1. the batch's touched `(band, band_hash)` keys (≤ |batch|×numBands
    *     rows of two longs) broadcast against the widths table → the
    *     touched buckets that pass the skew guard (`bucket_n` ≤
    *     `maxBucket` — a boilerplate bucket of 10^6 corpus docs would
    *     otherwise fan every matching batch doc into 10^6 pairs);
    *  2. that (still batch-proportional) key set broadcasts against the
    *     banded table — a broadcast semi-join, NO shuffle and NO
    *     aggregation of the corpus, reading only the three banded columns;
    *  3. surviving corpus rows bucket-join the batch bands, and candidate
    *     corpus ids fetch their signatures by id for verification.
    *
    * Verification thresholds the signature match fraction (E[match] = J) —
    * signatures are all the corpus keeps, and at ingest scale the estimate
    * is the production default anyway ([[minHashDuplicatePairs]]'s
    * `verifyExact=false` mode). Returns `(batch_id, corpus_id, jaccard)`;
    * `batch ids ∉ result` are the novel docs to accept + append to the
    * signature/banded/width tables. Run with `portable=true` signatures
    * end to end and a SQL oracle replays the whole operation
    * ([[graft.SparkEntry]] `q_dedup_incremental`). */
  def incrementalNearDupPairsIndexed(corpusSigs: DataFrame, corpusBands: DataFrame,
                                     corpusWidths: DataFrame, batch: DataFrame,
                                     idCol: String = "doc_id", textCol: String = "text",
                                     numHashes: Int = 64, numBands: Int = 16,
                                     shingleSize: Int = 3, threshold: Double = 0.5,
                                     maxBucket: Int = 1000,
                                     portable: Boolean = false,
                                     verifyStructure: Boolean = true): DataFrame = {
    // structural params that mismatch the index build would silently admit
    // every duplicate (band hashes never collide) — fail loudly up front.
    // Manifest-driven callers (SigIndex.ingest) pass verifyStructure=false:
    // their params come from the build's own manifest, and skipping keeps
    // ingest cost flat in history.
    val batchSigs = Materialize( // one batch text scan feeds bands + verify
      signatureTable(batch, idCol, textCol, numHashes, shingleSize, portable))
    incrementalNearDupPairsFromSigs(corpusSigs, corpusBands, corpusWidths, batchSigs,
      idCol, numHashes, numBands, threshold, maxBucket, portable, verifyStructure)
  }

  /** [[incrementalNearDupPairsIndexed]] over a PRECOMPUTED batch signature
    * table — the reuse face for callers that already signed the batch
    * once ([[graft.core.SigIndex.ingest]] signs its surviving batch a
    * single time and feeds all three dedup legs plus the append from that
    * one table; signing is the dominant row-local cost of an ingest).
    * `batchSigs` must be the [[signatureTable]] shape (id, minhash_sig),
    * built with the SAME structural params as the index. */
  def incrementalNearDupPairsFromSigs(corpusSigs: DataFrame, corpusBands: DataFrame,
                                      corpusWidths: DataFrame, batchSigs: DataFrame,
                                      idCol: String = "doc_id",
                                      numHashes: Int = 64, numBands: Int = 16,
                                      threshold: Double = 0.5, maxBucket: Int = 1000,
                                      portable: Boolean = false,
                                      verifyStructure: Boolean = true): DataFrame = {
    if (verifyStructure)
      requireIndexCompatible(corpusSigs, corpusBands, idCol, numHashes,
        numBands, portable)
    val rowsPerBand = numHashes / numBands
    val batchBands = lshBands(batchSigs, idCol, numBands, rowsPerBand, portable)
    val touched = batchBands.select("band", "band_hash").distinct()
    // persisted widths × touched keys: the guard prunes to the batch's
    // buckets without counting anything corpus-side. The widths table is
    // DERIVED state that can be STALE — SigIndex appends bands before it
    // swaps widths, so a crash in that window leaves buckets that exist in
    // bands/ with no widths row. The guard therefore EXCLUDES known-big
    // buckets instead of selecting known-small ones: a touched bucket with
    // no widths row is unknown, and unknown means "check it"
    // (coalesce(bucket_n, 0) <= maxBucket) — the opposite default would
    // permanently admit near-dups of docs stranded in the crash window.
    // Both joins broadcast batch-proportional sides; widths is scanned,
    // never shuffled.
    val bigTouched = corpusWidths
      .join(broadcast(touched), Seq("band", "band_hash"))
      .filter(col("bucket_n") > maxBucket)
      .select("band", "band_hash")
    val smallTouched = touched
      .join(broadcast(bigTouched), Seq("band", "band_hash"), "left_anti")
    // broadcast semi-prune of the banded face: the corpus is filtered, not
    // shuffled — its only cost is the narrow three-column scan
    val corpusCands = corpusBands.join(broadcast(smallTouched), Seq("band", "band_hash"))
      .select(col("band"), col("band_hash"), col(idCol).as("corpus_id"))
    // batchBands is batch-proportional by design (|batch|·numBands narrow
    // rows) — broadcast EXPLICITLY (r19): estimate-driven broadcasts are
    // off session-wide, and a sort-merge here would put an Exchange on the
    // corpus-pruned side, the exact shape this operator exists to avoid
    val candidates = corpusCands
      .join(broadcast(
          batchBands.select(col("band"), col("band_hash"), col(idCol).as("batch_id"))),
        Seq("band", "band_hash"))
      .filter(col("corpus_id") =!= col("batch_id"))
      .select("batch_id", "corpus_id").distinct()
    // verification: the corpus signature table is the BIG side (every sig
    // ever indexed — ~500 GB at 100 TB of text), so it must stream through
    // a broadcast build of the batch-proportional sides, never shuffle.
    // Joining FROM corpusSigs with broadcast(candidates)/broadcast(batchSigs)
    // as build sides pins that shape (PlanSpec asserts no SortMergeJoin).
    corpusSigs.select(col(idCol).as("corpus_id"), col("minhash_sig").as("sig_c"))
      .join(broadcast(candidates), "corpus_id")
      .join(broadcast(batchSigs.select(col(idCol).as("batch_id"), col("minhash_sig").as("sig_b"))),
        "batch_id")
      .withColumn("jaccard", round(graft.functions.HashExpressions
        .signatureMatchFraction(col("sig_b"), col("sig_c")), 6))
      .filter(col("jaccard") >= threshold)
      .select("batch_id", "corpus_id", "jaccard")
  }

  /** [[incrementalNearDupPairsIndexed]] for a corpus that only persisted
    * its [[signatureTable]]: derives the banded face and widths on the fly
    * (one extra corpus-side pass + aggregate). Same result; prefer the
    * indexed form — with the banded table and widths maintained on append,
    * ingest cost stops growing with history. */
  def incrementalNearDupPairs(corpusSigs: DataFrame, batch: DataFrame,
                              idCol: String = "doc_id", textCol: String = "text",
                              numHashes: Int = 64, numBands: Int = 16, shingleSize: Int = 3,
                              threshold: Double = 0.5, maxBucket: Int = 1000,
                              portable: Boolean = false): DataFrame = {
    val corpusBands = lshBands(corpusSigs, idCol, numBands, numHashes / numBands, portable)
    incrementalNearDupPairsIndexed(corpusSigs, corpusBands,
      bucketWidths(corpusBands, idCol), batch,
      idCol, textCol, numHashes, numBands, shingleSize, threshold, maxBucket, portable)
  }

  /** 64-bit SimHash fingerprint of the whitespace token stream: bit j is
    * set iff Σ_tokens (±1 on hash-bit j) > 0. Hamming-close fingerprints ⇒
    * near-duplicate texts. Built from codegen-able array ops only. */
  def simHash(text: Column): Column =
    graft.functions.HashExpressions.simHash64(
      transform(TextFunctions.tokens(text), t => xxhash64(t)))

  /** Engine-PORTABLE SimHash: same bit-vote kernel, but over portable
    * codepoint-polynomial token hashes in [0, 2^31-1) — the top 33 bits of
    * every token hash are 0, so their votes are all −1 and the fingerprint
    * lives in the low 31 bits. Any SQL engine replays it exactly (the
    * DuckDB oracle votes the bits with an unnest + groupBy); use
    * [[simHash]] when cross-engine auditability isn't needed — 64 bits
    * spread the Hamming distances twice as wide. */
  def simHashPortable(text: Column): Column =
    graft.functions.HashExpressions.simHash64(
      graft.functions.HashExpressions.portableTokenHashes(text))

  /** Hamming distance between two 64-bit fingerprints. */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: block on the top `prefixBits` bits (docs whose
    * fingerprints agree on the prefix land in one bucket — one shuffle),
    * then verify full Hamming distance <= maxHamming inside the bucket.
    * One-permutation blocking; for higher recall run with rotated prefixes. */
  def simHashDuplicatePairs(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                            maxHamming: Int = 8, prefixBits: Int = 16): DataFrame = {
    val fp = docs.select(col(idCol), simHash(col(textCol)).as("fp"))
      .withColumn("blk", shiftrightunsigned(col("fp"), 64 - prefixBits))
    val a = fp.select(col("blk"), col(idCol).as("id_a"), col("fp").as("fp_a"))
    val b = fp.select(col("blk"), col(idCol).as("id_b"), col("fp").as("fp_b"))
    a.join(b, "blk").filter(col("id_a") < col("id_b"))
      .withColumn("hamming", hammingDistance(col("fp_a"), col("fp_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Exact n-gram Jaccard pairs within a blocking key (e.g. `source`):
    * the blocked-join verification pattern without LSH — SQL-expressible,
    * so it doubles as the DuckDB-checkable face of the fuzzy-dedup family.
    *
    * SCALE WARNING: a block column whose cardinality does not grow with
    * the corpus makes Σ|block|² quadratic in corpus size (the sf1 ramp
    * measured 44× cost at 10× rows for the analogous label-blocked cosine
    * face). At scale use [[minHashDuplicatePairs]] or
    * [[graft.ops.SetSimilarityJoin.prefixJaccardPairs]], whose candidate
    * sets are bounded by bucket/prefix collisions, not block sizes. */
  def ngramJaccardPairs(docs: DataFrame, blockCol: String, idCol: String = "doc_id",
                        textCol: String = "text", shingleSize: Int = 3,
                        threshold: Double = 0.2): DataFrame = {
    // Shingle arrays sorted ONCE per doc so the per-pair verify is the
    // allocation-free two-pointer merge (r20): array_intersect/array_union
    // built two hash sets per candidate pair — the hottest loop of this
    // deliberately-quadratic face (sf0.1, source-blocked: 8.9 → 3.2 s).
    // Sorting does not change the SET, so |∩|/|∪| is value-identical.
    val sh = docs.select(col(blockCol).as("blk"), col(idCol),
      sort_array(TextFunctions.wordShingles(col(textCol), shingleSize)).as("sh"))
    val a = sh.select(col("blk"), col(idCol).as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("blk"), col(idCol).as("id_b"), col("sh").as("sh_b"))
    a.join(b, "blk").filter(col("id_a") < col("id_b"))
      .withColumn("jaccard", round(
        graft.functions.HashExpressions.sortedStringJaccard(col("sh_a"), col("sh_b")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("blk"), col("id_a"), col("id_b"), col("jaccard"))
  }

  /** The full staged dedup pipeline, in the order that controls cost:
    *
    *  1. exact-collapse: identical texts reduce to one representative
    *     (hash groupBy) — this defuses the quadratic case BEFORE LSH ever
    *     sees it (a doc duplicated k× exactly would otherwise put a
    *     k-clique in every band bucket; the 100× scale probe measures that
    *     pathology at 27M pairs)
    *  2. MinHash-LSH near-dup pairs over the representatives only
    *  3. connected components → clusters
    *  4. keep the canonical (smallest-id) doc per cluster
    *
    * @return the deduplicated corpus (same schema as `docs`).
    */
  def fuzzyDedupPipeline(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                         threshold: Double = 0.5, verifyExact: Boolean = true): DataFrame = {
    // Checkpointed: the rep-id list is tiny, but its lineage is a groupBy
    // keyed on the full TEXT — and repDocs feeds three downstream branches
    // (band stage, verify shingles, canonical keep), each of which would
    // otherwise re-run that full-corpus text shuffle.
    val reps = Materialize(
      exactDuplicates(docs, idCol, textCol).select(col("keep_id").as(idCol)))
    val repDocs = docs.join(reps, idCol) // one representative per exact group
    val pairs = minHashDuplicatePairs(repDocs, idCol, textCol, threshold = threshold,
      verifyExact = verifyExact)
    keepCanonical(repDocs, pairs, idCol)
  }

  /** Connected components over a near-duplicate pair list: the stage that
    * turns pairwise matches into dedup CLUSTERS (a~b, b~c ⇒ {a,b,c}).
    * Iterative min-label propagation WITH pointer jumping: each round every
    * vertex (1) adopts the smallest label among itself and its neighbors,
    * then (2) shortcuts through the previous round's label table
    * (path-halving on the label forest). Propagation alone converges in
    * O(diameter) rounds; the jump compresses label chains so the round
    * count drops to O(log diameter) — each round is one fixed-size job,
    * so on long chains (typo ladders, digit-edit graphs) this cuts the
    * sequential-job count, the dominant cost of the stage. Deterministic.
    *
    * Invariants that make the jump sound: labels only decrease, start at
    * `id`, and every label value is the id of a node in the same component
    * — so `labels(p)` is defined for any propagated label `p` and is
    * itself a same-component id ≤ p. At the observed fixpoint neither
    * step changed anything, which forces label(u) = label(v) across every
    * edge, i.e. exactly the min-id-per-component labeling the pure
    * propagation loop returns.
    *
    * @return (id, component) — component = smallest id in the cluster.
    */
  def connectedComponents(pairs: DataFrame, idACol: String = "id_a",
                          idBCol: String = "id_b", maxIter: Int = 20): DataFrame = {
    // Materialize the edge list ONCE: it is re-read every iteration, and
    // its lineage is whatever produced the pairs (e.g. the full LSH
    // pipeline) — without this each propagation round re-executes that
    // entire upstream plan (measured 105 s vs 25 s at the 100× probe).
    // Edges are output-bound (2× the pair count), tiny next to the corpus.
    val edges = Materialize(pairs.select(col(idACol).as("src"), col(idBCol).as("dst"))
      .union(pairs.select(col(idBCol).as("src"), col(idACol).as("dst")))
      .distinct())
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst").withColumnRenamed("comp", "dst_comp"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min("dst_comp").as("nbr_comp"))
      val prop = labels.join(neighborMin, Seq("id"), "left_outer")
        .select(col("id"), col("comp").as("__old"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("__p"))
      // pointer jump THROUGH THE MATERIALIZED previous labels: __p is a
      // node id, so labels(__p) is defined and ≤ __p (labels only
      // decrease, start at id). Joining the checkpointed `labels` — not a
      // projection of `prop` — keeps the propagate subtree evaluated ONCE
      // per round (a prop self-join re-ran the join+aggregate twice: no
      // ReusedExchange, the two references sit under different keys).
      // Path-halving on the label forest: O(log diameter) rounds instead
      // of O(diameter), for one extra join against an already-materialized
      // table. GATED to round ≥ 3: clique-shaped near-dup graphs (the
      // common case) converge in 2 rounds where the jump is a pure no-op
      // tax (r20 measured ~+0.1 s/round at gate scale), while any graph
      // still going by round 3 is chain-shaped and gets the acceleration —
      // plus convergence-within-maxIter for chains up to 2^maxIter, where
      // pure propagation silently stopped at depth maxIter.
      val jumped =
        if (iter < 2) prop.select(col("id"), col("__old"), col("__p").as("comp"))
        else prop.join(
            labels.select(col("id").as("__jid"), col("comp").as("__jcomp")),
            prop("__p") === col("__jid"), "left_outer")
          .select(col("id"), col("__old"),
            least(col("__p"), coalesce(col("__jcomp"), col("__p"))).as("comp"))
      // Convergence detection rides the SAME job that materializes the new
      // labels (Dataset.observe counted during the eager materialization) —
      // the alternative, a separate join-and-count action per round, would
      // double the per-iteration work at scale.
      val obs = new org.apache.spark.sql.Observation()
      val updated = jumped
        .select(col("id"), col("comp"), (col("comp") < col("__old")).as("__changed"))
        .observe(obs, sum(when(col("__changed"), 1L).otherwise(0L)).as("n_changed"))
        .drop("__changed")
      labels = Materialize(updated) // truncate the iterative lineage
      // sum over an empty label set observes null → converged
      converged = obs.get.get("n_changed")
        .flatMap(Option(_)).map(String.valueOf(_).toLong).forall(_ == 0L)
      iter += 1
    }
    labels
  }

  /** Apply clustering to the corpus: keep ONE canonical doc per component
    * (the smallest id), pass through unpaired docs untouched. */
  def keepCanonical(docs: DataFrame, pairs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val comps = connectedComponents(pairs)
    docs.join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left_outer")
      .filter(col("comp").isNull || col("comp") === col(idCol))
      .drop("comp")
  }

  /** Embedding near-duplicates: cosine similarity >= threshold, blocked on
    * `blockCol` to avoid the full cross join.
    *
    * Pair work is Σ|block|² — a FIXED-cardinality block column goes
    * quadratic the moment the corpus outgrows its block count (the sf1
    * bench ramp measured 44× cost at 10× rows on a label-blocked corpus).
    * `maxBlock` is the guard (mirror of the banded paths' `maxBucket`):
    *  - `oversized = "error"` (default): any block larger than `maxBlock`
    *    fails the job with a named block and a pointer at the scale paths —
    *    enforced INSIDE the plan (a codegen'd assert riding the existing
    *    block join), no extra driver action.
    *  - `oversized = "lsh"`: oversized blocks re-block on (block ×
    *    hyperplane bucket) via [[graft.ops.Similarity.lshCosinePairs]]'s
    *    planes — candidate work returns to ~targetBucket per bucket at the
    *    LSH recall trade (near-dups split across buckets are missed; rerun
    *    with rotated planes to recover). Small blocks stay exact.
    * At 100 TB prefer [[graft.ops.Similarity.lshCosinePairsAuto]] outright. */
  def cosineNearDupPairs(emb: DataFrame, blockCol: String, idCol: String = "vec_id",
                         vecCol: String = "embedding", threshold: Double = 0.9,
                         maxBlock: Int = 8192, oversized: String = "error",
                         targetBucket: Int = 64): DataFrame = {
    require(oversized == "error" || oversized == "lsh",
      s"oversized must be 'error' or 'lsh', got '$oversized'")
    val src = emb.select(col(blockCol).as("blk"), col(idCol), col(vecCol))
    // block sizes join back on blk — the same key the pair join shuffles
    // on, so the exchange is shared, not doubled
    val sizes = src.groupBy("blk").agg(count(lit(1)).as("__blk_n"))

    def exactPairs(aRows: DataFrame, bRows: DataFrame): DataFrame = {
      val a = aRows.select(col("blk"), col(idCol).as("id_a"), col(vecCol).as("v_a"))
      val b = bRows.select(col("blk"), col(idCol).as("id_b"), col(vecCol).as("v_b"))
      a.join(b, "blk").filter(col("id_a") < col("id_b"))
        .withColumn("cosine", round(VectorFunctions.cosineSimilarity(col("v_a"), col("v_b")), 6))
        .filter(col("cosine") >= threshold)
        .select(col("blk"), col("id_a"), col("id_b"), col("cosine"))
    }

    if (oversized == "error") {
      // assert_true returns null (or raises): the filter keeps every row
      // but forces per-row evaluation — lazy, codegen'd, no extra action.
      // Guarding ONE join side suffices (every block appears there), so
      // the sizes-agg subtree is scanned once, not per side.
      val guarded = src.join(sizes, "blk")
        .filter(assert_true(col("__blk_n") <= maxBlock,
          concat(lit(s"cosineNearDupPairs: block '"), col("blk").cast("string"),
            lit(s"' holds "), col("__blk_n").cast("string"),
            lit(s" rows (> maxBlock=$maxBlock); pair work is quadratic in the " +
              "block — raise maxBlock, pass oversized=\"lsh\", or use " +
              "Similarity.lshCosinePairsAuto"))).isNull)
        .drop("__blk_n")
      exactPairs(guarded, src)
    } else {
      // bits sized like lshCosinePairsAuto, from the BIGGEST block (the
      // occupancy that matters); one bounded count on the narrow sizes agg.
      // No oversized block → the plan stays the plain exact pair join.
      val maxN = Option(sizes.agg(max("__blk_n")).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      if (maxN <= maxBlock) return exactPairs(src, src)
      val small = src.join(sizes.filter(col("__blk_n") <= maxBlock).select("blk"), "blk")
      val big = src.join(sizes.filter(col("__blk_n") > maxBlock).select("blk"), "blk")
      val wantBuckets = math.max(1L, maxN / math.max(1, targetBucket))
      val bits = math.max(4, math.min(24,
        64 - java.lang.Long.numberOfLeadingZeros(wantBuckets - 1)))
      val planes = Similarity.hyperplanes(bits, Similarity.resolveDim(big, vecCol, -1))
      val bk = big.withColumn("bucket", Similarity.bucketExpr(vecCol, planes))
      val a = bk.select(col("blk"), col("bucket"), col(idCol).as("id_a"), col(vecCol).as("v_a"))
      val b = bk.select(col("blk"), col("bucket"), col(idCol).as("id_b"), col(vecCol).as("v_b"))
      val lshPairs = a.join(b, Seq("blk", "bucket")).filter(col("id_a") < col("id_b"))
        .withColumn("cosine",
          round(VectorFunctions.cosineSimilarity(col("v_a"), col("v_b")), 6))
        .filter(col("cosine") >= threshold)
        .select(col("blk"), col("id_a"), col("id_b"), col("cosine"))
      exactPairs(small, small).unionByName(lshPairs)
    }
  }

  /** Binary near-duplicate pairs over sign-bit-quantized embeddings:
    * block on the low `prefixBits` sign bits (vectors agreeing on the
    * first dimensions' signs share a bucket — one shuffle, the SimHash
    * blocking recipe applied to embeddings), then verify full Hamming
    * distance inside the bucket with the codegen'd XOR+popcount kernel.
    * The candidate stage never touches the float vectors — sign words are
    * 32× narrower — and the whole thing is integer math, so a SQL oracle
    * replays it exactly. For higher recall run again with a rotated
    * prefix (different dimensions), exactly like [[simHashDuplicatePairs]]. */
  def binaryNearDupPairs(emb: DataFrame, maxHamming: Int = 16, prefixBits: Int = 8,
                         idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(prefixBits > 0 && prefixBits <= 32, "prefix must fit the first sign word")
    val words = emb.select(col(idCol),
      graft.functions.BinaryVectors.signBitsWords(col(vecCol)).as("w"))
      .withColumn("blk", pmod(element_at(col("w"), 1), lit(1L << prefixBits)))
    val a = words.select(col("blk"), col(idCol).as("id_a"), col("w").as("w_a"))
    val b = words.select(col("blk"), col(idCol).as("id_b"), col("w").as("w_b"))
    a.join(b, "blk").filter(col("id_a") < col("id_b"))
      .withColumn("hamming",
        graft.functions.BinaryVectors.wordsHamming(col("w_a"), col("w_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Semantic dedup (the SemDeDup recipe): cluster embeddings with k-means
    * and report cosine >= threshold pairs WITHIN each cluster — the blocks
    * come from the data's own geometry instead of a metadata column or
    * random hyperplanes. Pair work is Σ|cluster|², so `nClusters` is the
    * cost dial exactly like LSH bits; `iters` = 1 keeps the quantizer
    * SQL-replayable (the oracle replays it), more rounds tighten blocks. */
  def semanticNearDupPairs(emb: DataFrame, idCol: String = "vec_id",
                           vecCol: String = "embedding", threshold: Double = 0.9,
                           nClusters: Int = 16, iters: Int = 1): DataFrame = {
    // A FIXED cluster count is quadratic in corpus size (Σ|cluster|² ≈
    // n²/k — the same anti-pattern the sf1 ramp measured at 44× cost for
    // 10× rows on the label-blocked variant). nClusters <= 0 picks
    // k = max(16, ceil(sqrt(n))), the balance point of the total cost
    // n·k (assignment) + n²/k (in-cluster pairs) → O(n^1.5); pass an
    // explicit k only when the corpus size is known and stable.
    val k = if (nClusters > 0) nClusters
      else math.max(16, math.ceil(math.sqrt(emb.count().toDouble)).toInt)
    val assigned = Clustering.kmeans(emb, k, iters, vecCol, idCol)
      .select(col(idCol), col("cluster_id"))
    cosineNearDupPairs(emb.join(assigned, idCol), "cluster_id", idCol, vecCol, threshold)
      .withColumnRenamed("blk", "cluster_id")
  }

  /** Staged semantic dedup, mirroring [[fuzzyDedupPipeline]]'s cost
    * structure: collapse byte-identical vectors to one representative
    * FIRST (hash groupBy — a vector duplicated k× would otherwise put a
    * k-clique inside its cluster: the 100× probe measured 182 s raw vs
    * the staged seconds), then near-dup pairs among representatives,
    * greedy keep-lowest-id. Returns the deduplicated representative set. */
  def semanticDedupPipeline(emb: DataFrame, idCol: String = "vec_id",
                            vecCol: String = "embedding", threshold: Double = 0.9,
                            nClusters: Int = 16, iters: Int = 2): DataFrame = {
    // The representative set feeds MANY consumers (k-means init, one
    // assign per Lloyd's round, both sides of the within-cluster pair
    // join, the final anti-join) — each would re-run the full-corpus
    // groupBy+join lineage, so materialize the collapsed set once. It is
    // small by construction exactly when staging matters (duplicates
    // collapsed); on a dup-free corpus it is the corpus, and the
    // checkpoint trades one write for ~7 re-scans — still the right side.
    val reps = Materialize(
      emb.groupBy(col(vecCol)).agg(min(col(idCol)).as(idCol)).select(idCol))
    val repEmb = Materialize(emb.join(reps, Seq(idCol)))
    val drop = semanticNearDupPairs(repEmb, idCol, vecCol, threshold, nClusters, iters)
      .select(col("id_b").as(idCol)).distinct()
    repEmb.join(drop, Seq(idCol), "left_anti")
  }
}
