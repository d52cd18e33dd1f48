package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions
import graft.ops._

/** LLM-training-data pipeline operators as driver-checkable queries:
  * text analysis, dedup (exact → fuzzy), similarity search, sessionization,
  * multimodal plumbing. Oracle SQL is generated from the SAME Scala
  * constants (stopwords, language markers, quality weights) so the two
  * sides cannot drift.
  */
object PipelineQueries {

  // ---- shared SQL fragments (DuckDB dialect) ----
  // mirrors TextFunctions.tokens exactly, INCLUDING the null/empty guard
  // (tokens(null) = [], so count faces see 0, never legacy size(null) = -1)
  private val toksSql =
    "CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN [] " +
      "ELSE string_split_regex(trim(text), '\\s+') END"
  private def sqlList(xs: Seq[String]): String = xs.map(s => s"'$s'").mkString("(", ", ", ")")
  private val stopSql = sqlList(TextFunctions.defaultStopwords)
  // cosine over DOUBLE[] exactly as VectorFunctions.cosineSimilarity: dot/(|a||b|)
  private def cosSql(a: String, b: String): String =
    s"list_dot_product($a,$b)/(sqrt(list_dot_product($a,$a))*sqrt(list_dot_product($b,$b)))"

  // portable codepoint-polynomial token hash (PortableTokenHashesExpr twin):
  // fold h = (h*131 + codepoint) mod 2^31-1 over the token's characters
  private def tokHashSql(tok: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, length($tok)+1), i -> CAST(unicode($tok[i]) AS BIGINT))), " +
      "(a, x) -> (a*131 + x) % 2147483647)"
  // per-document portable token-hash list, in token order with multiplicity
  private val tokHashListSql =
    s"list_transform($toksSql, t -> ${tokHashSql("t")})"

  // same codepoint fold with `c` as the inner lambda variable, for use
  // INSIDE an outer lambda that already binds `i`
  private def strHashSql(expr: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, length($expr)+1), c -> CAST(unicode($expr[c]) AS BIGINT))), " +
      "(a, x) -> (a*131 + x) % 2147483647)"

  /** The k-hash MinHash signature as ONE vectorized GROUP BY over the
    * unnested shingle hashes (r20): DuckDB evaluated the nested
    * `list_transform(range(0,k), j -> list_min(list_transform(sh, …)))`
    * lambdas interpreted, per element per hash (~1 s per consuming gate at
    * sf0.01); k plain `min()` aggregates over an unnest are ~50× cheaper
    * and build the identical list (same int64 math, same order).
    * Expects an `nz(doc_id, sh)` CTE in scope; emits `ex2` and a
    * MATERIALIZED `sg(doc_id, sig)`. Constants from the same Scala source
    * as the Spark kernel ([[graft.ops.Dedup.minhashParams]]). */
  private def sigGroupByCtes(numHashes: Int): String = {
    val (as, bs) = graft.ops.Dedup.minhashParams(numHashes)
    val terms = as.zip(bs).map { case (a, b) =>
      s"min(($a*x + $b) % 2147483647)" }.mkString(", ")
    "ex2 AS (SELECT doc_id, unnest(sh) AS x FROM nz), " +
      s"sg AS MATERIALIZED (SELECT doc_id, [$terms] AS sig FROM ex2 GROUP BY doc_id)"
  }

  // null/empty-safe lowercased token list (NULL text → empty list on the
  // Spark side too: the portable kernels emit [] there)
  private val ltoksSql =
    "CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN [] " +
      "ELSE string_split_regex(trim(lower(text)), '\\s+') END"

  // FastSS deletion-neighborhood pair CTEs, shared by the pair gate and
  // the canonical-variants (connected components) gate. MATERIALIZED on
  // every multi-referenced CTE: DuckDB (1.x) INLINES plain CTEs per
  // reference, so without it `v a JOIN v b` re-derived the whole variant
  // explode twice and each downstream consumer re-ran the chain again
  // (r20 measured: q_fuzzy_canonical oracle 9.3 s → 0.2 s with the
  // materializations + the unrolled component CTEs below).
  private val fastssCtes =
    "s AS MATERIALIZED (SELECT c_custkey AS id, c_name AS str FROM customer " +
      "WHERE c_name IS NOT NULL), " +
      "v AS MATERIALIZED (SELECT id, length(str) AS len, unnest(list_distinct(list_prepend(str, " +
      "list_transform(range(1, length(str)+1), i -> " +
      "substring(str, 1, i-1) || substring(str, i+1, length(str)))))) AS var FROM s), " +
      "cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b FROM v a JOIN v b " +
      "ON a.var = b.var AND a.id < b.id AND abs(a.len - b.len) <= 1), " +
      "vf AS MATERIALIZED (SELECT id_a, id_b, levenshtein(sa.str, sb.str) AS dist " +
      "FROM cand JOIN s sa ON sa.id = cand.id_a JOIN s sb ON sb.id = cand.id_b)"

  /** Min-label connected components over an edge CTE `e(src, dst)` (both
    * directions present), UNROLLED: each round propagates the minimum
    * neighbor label, then pointer-jumps (`comp → comp's comp`). Produces
    * `c(id, comp)`, comp = min id of the component, exactly the recursive
    * `reach` CTE's answer — or fails the query. One check round follows
    * the `rounds` rounds, and `c` raises (DuckDB `error`) on any label it
    * still changes: a labeling this round leaves unchanged is the min-id
    * labeling, so the oracle can never return unconverged components.
    * How many rounds a component needs depends on its id layout, not only
    * its diameter: a path with ids ascending along it converges in 8
    * rounds up to 511 nodes, while a 200-node path with shuffled ids can
    * need more than 9.
    *
    * Replaces the recursive formulation (r20): `reach` flooded every root
    * label through its whole component — O(Σ m²·deg) rows — and DuckDB
    * re-evaluated the inlined edge CTE on every recursion step, which made
    * the component gates ~8-11 s each at sf0.01 (over half the driver's
    * oracle budget). The unrolled chain is a fixed set of joins over the
    * materialized edges: the same four gates now measure 0.05-0.2 s.
    * Mirrors [[graft.ops.Dedup.connectedComponents]]'s pointer-jumping
    * rounds; the planted pair graphs and the digit-edit customer graph
    * converge within the 8 rounds (validated equal to the recursive CTE
    * at sf0.001/0.01/0.1). */
  private[queries] def ccUnrolledCtes(e: String, rounds: Int = 8): String = {
    val sb = new StringBuilder(
      s"l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS comp FROM $e)")
    (1 to rounds + 1).foreach { r =>
      sb.append(
        s", m$r AS (SELECT $e.dst AS id, min(l.comp) AS nc FROM $e " +
          s"JOIN l${r - 1} l ON $e.src = l.id GROUP BY $e.dst)" +
          s", a$r AS MATERIALIZED (SELECT l.id, least(l.comp, coalesce(m.nc, l.comp)) AS comp " +
          s"FROM l${r - 1} l LEFT JOIN m$r m USING (id))" +
          s", l$r AS MATERIALIZED (SELECT a1.id, a2.comp FROM a$r a1 JOIN a$r a2 ON a1.comp = a2.id)")
    }
    sb.append(s", c AS MATERIALIZED (SELECT id, CASE WHEN f.comp = g.comp THEN f.comp " +
      s"ELSE error('connected components did not converge in $rounds rounds') END AS comp " +
      s"FROM l$rounds f JOIN l${rounds + 1} g USING (id))")
    sb.toString
  }

  // shared by the search gates (Spark call sites AND oracle SQL)
  /** CTEs replaying [[graft.ops.Multimodal.syntheticPng]]'s closed-form
    * pixel math to per-image (w, h, luminance sum) and the 64-char aHash
    * bit string — shared by the q_mm_features / q_mm_ahash_dedup oracles. */
  /** Bucket bound of the GUARDED near-dup gate — one constant shared by
    * the Spark call and the oracle's HAVING literal so the twins cannot
    * drift. Chosen BELOW the sf0.01 corpus's largest band bucket (19), so
    * the guard genuinely fires inside the gate; a spec asserts that. */
  val AHashGateMaxBucket = 12

  /** The banded-Hamming near-dup oracle, optionally with the skew guard's
    * bucket exclusion replayed as a HAVING over the same band key. ONE
    * builder for both gates — the guarded SQL is the unguarded SQL plus
    * the `ok` CTE, never a divergent copy. */
  private def aHashNearDupSql(maxBucket: Option[Int]): String = {
    val okCte = maxBucket.map(b =>
      "ok AS (SELECT band, bb FROM bnd GROUP BY band, bb " +
        s"HAVING count(*) <= $b), ").getOrElse("")
    val okJoin = if (maxBucket.isDefined) "JOIN ok USING (band, bb) " else ""
    mmImageCtes +
      ", bnd AS (SELECT media_id, j // 16 AS band, " +
      "string_agg(bit, '' ORDER BY j) AS bb FROM bits GROUP BY media_id, band), " +
      okCte +
      "cand AS (SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b " +
      s"FROM bnd a ${okJoin}JOIN bnd b ON a.band = b.band AND a.bb = b.bb " +
      "AND a.media_id < b.media_id), " +
      "ham AS (SELECT c.id_a, c.id_b, " +
      "count(*) FILTER (WHERE x.bit <> y.bit) AS hamming FROM cand c " +
      "JOIN bits x ON x.media_id = c.id_a " +
      "JOIN bits y ON y.media_id = c.id_b AND y.j = x.j " +
      "GROUP BY c.id_a, c.id_b) " +
      "SELECT id_a, id_b, CAST(hamming AS INT) AS hamming " +
      "FROM ham WHERE hamming <= 3"
  }

  private val mmImageCtes =
    // e = rasterSeed(doc_id): every 17th id reuses its predecessor's
    // raster (the planted twin); pixels follow Multimodal.syntheticImage's
    // id-coefficient gradient + x*y curvature closed form exactly
    "WITH s AS (SELECT doc_id AS media_id, " +
      "CASE WHEN doc_id > 0 AND doc_id % 17 = 0 THEN doc_id - 1 ELSE doc_id END AS e " +
      "FROM documents), " +
      "d AS (SELECT media_id, e, 8 * (1 + e % 2) AS w, " +
      "8 * (1 + (e // 2) % 2) AS h FROM s), " +
      "px AS (SELECT media_id, w, h, x, y, " +
      "(e * 31 + x * (7 + e % 11) + y * (13 + (e // 11) % 13) " +
      "+ x * y * ((e // 143) % 7)) % 256 AS g " +
      "FROM d CROSS JOIN range(0, 16) rx(x) CROSS JOIN range(0, 16) ry(y) " +
      "WHERE x < w AND y < h), " +
      "tot AS (SELECT media_id, min(w) AS w, min(h) AS h, sum(g) AS ts " +
      "FROM px GROUP BY media_id), " +
      "blk AS (SELECT media_id, (y * 8 // h) * 8 + (x * 8 // w) AS j, " +
      "sum(g) AS bs, count(*) AS np FROM px GROUP BY media_id, j), " +
      "bits AS (SELECT b.media_id, b.j, " +
      "CASE WHEN b.bs * t.w * t.h > t.ts * b.np THEN '1' ELSE '0' END AS bit " +
      "FROM blk b JOIN tot t USING (media_id)), " +
      "hsh AS (SELECT media_id, string_agg(bit, '' ORDER BY j) AS ahash_bits " +
      "FROM bits GROUP BY media_id)"

  private val SearchTerms = Seq("spark", "vector", "merge", "window")
  // q_wds_roundtrip's shard directory: unique to this JVM, deleted at exit
  private lazy val wdsScratch = graft.core.Scratch.tempDir("gate_wds")
  // fixture-dim (64) synthetic query vector for the hybrid gate
  private val HybridQueryVec = Array.tabulate(64)(i => ((i % 7) + 1).toDouble)

  // BM25 oracle, split so the hybrid gate can reuse the CTE chain.
  // Constants interpolated from the same Scala doubles the Spark side
  // computes with (toString round-trips exactly).
  private val bm25K1 = 1.2
  private val bm25B = 0.75
  private def bm25Ctes: String =
    "bd AS (SELECT doc_id, " + ltoksSql + " AS ltoks FROM documents), " +
      "bl AS (SELECT doc_id, len(ltoks) AS dl, ltoks FROM bd), " +
      "bst AS (SELECT count(*) AS n_docs, avg(CAST(dl AS DOUBLE)) AS avgdl FROM bl), " +
      s"bp AS (SELECT doc_id, term, max(dl) AS dl, count(*) AS tf FROM " +
      s"(SELECT doc_id, dl, unnest(ltoks) AS term FROM bl) WHERE term IN ${sqlList(SearchTerms)} " +
      "GROUP BY doc_id, term), " +
      "bdf AS (SELECT term, count(*) AS df FROM bp GROUP BY term), " +
      "bw AS (SELECT bp.doc_id, CAST(round(" +
      "ln((n_docs - df + 0.5)/(df + 0.5) + 1) * " +
      s"(tf * ${bm25K1 + 1}) / (tf + $bm25K1 * (${1 - bm25B} + $bm25B * bp.dl / avgdl)) " +
      "* 1000000.0, 0) AS BIGINT) AS w6 FROM bp JOIN bdf USING (term), bst)"
  private def bm25Select(limit: Int): String =
    "SELECT doc_id, round(CAST(sum(w6) AS DOUBLE)/1000000.0, 6) AS score, " +
      "CAST(count(*) AS BIGINT) AS n_terms_matched FROM bw GROUP BY doc_id " +
      s"ORDER BY score DESC, doc_id LIMIT $limit"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- T1 transform parity: metadata enrichment (add_source_tracking) ----
    "q_transform_enrich" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .withColumn("source_db", lit("pgvector"))
        .withColumn("migration_batch", col("doc_id") % 10)
        .select("doc_id", "source", "source_db", "migration_batch")),

    // ---- Text analysis ----
    "q_text_stats" -> ((s, dir) => TextAnalysis.documentStats(Tables(s, dir, "documents"))),
    "q_text_quality" -> ((s, dir) => TextAnalysis.qualityFilter(Tables(s, dir, "documents"), 0.5)),
    "q_text_langid" -> ((s, dir) => TextAnalysis.languageId(Tables(s, dir, "documents"))),
    "q_text_fingerprint" -> ((s, dir) =>
      Tables(s, dir, "documents").select(col("doc_id"), md5(col("text")).as("content_md5"))),
    "q_text_normalize" -> ((s, dir) =>
      Tables(s, dir, "documents").select(col("doc_id"),
        TextFunctions.normalizeText(col("text")).as("norm_text"))),
    // portable fingerprints: md5 + codepoint-polynomial rolling hash, both
    // bit-exactly replayed by the DuckDB oracle (the xxhash64 variant of
    // TextAnalysis.fingerprints stays Spark-only, spec-covered)
    "q_text_rollhash" -> ((s, dir) => TextAnalysis.fingerprintsPortable(Tables(s, dir, "documents"))),
    // portable train/val/test split (exact per-row assignment oracle)
    "q_sample_split" -> ((s, dir) =>
      Sampling.splitPortable(Tables(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split")),
    // ---- LEAKAGE-SAFE split: assignment keyed on the near-dup COMPONENT
    //      representative (min id via connectedComponents over the MinHash
    //      pair graph), so near-duplicates never straddle train/test —
    //      the oracle replays the exact planted pair graph (recursive
    //      CTE), the min-label components, and the same portable
    //      bucket/cut math, row for row ----
    "q_split_leakage_safe" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").filter(col("doc_id") < 200)
      val pairs = Dedup.minHashDuplicatePairs(docs, threshold = 0.8)
      Sampling.leakageSafeSplit(docs, pairs, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split")
    }),
    // quantile-threshold quality cut: keep the top 80% by score
    "q_text_quality_cut" -> ((s, dir) =>
      TextAnalysis.qualityFilterByQuantile(Tables(s, dir, "documents"), keepTop = 0.8)),
    // corpus vocabulary: top tokens by frequency (tokenizer-training prep)
    "q_text_vocab" -> ((s, dir) =>
      TextAnalysis.vocabulary(Tables(s, dir, "documents"), topK = 100)),
    // BPE trainer statistic: adjacent-symbol-pair counts over the word-
    // frequency table (what each merge round maximizes) — chars + the
    // </w> marker, weighted by word freq, replayed in SQL char-for-char
    "q_bpe_pairs" -> ((s, dir) => Bpe.pairStats(Tables(s, dir, "documents"), topK = 50)),
    // Gopher/C4-style intra-document repetition metrics
    "q_text_repetition" -> ((s, dir) => TextAnalysis.repetitionStats(Tables(s, dir, "documents"))),
    // CCNet-style unigram-LM perplexity scoring (LM trained on the corpus
    // itself); per-token log-probs are 1e-6-scaled longs so the per-doc
    // sum is exact integer math — order-independent, hence oracle-able
    "q_text_perplexity" -> ((s, dir) =>
      TextAnalysis.unigramPerplexity(Tables(s, dir, "documents"))),
    // order-2 LM refinement: first token unigram, rest bigram conditional
    "q_text_perplexity2" -> ((s, dir) =>
      TextAnalysis.bigramPerplexity(Tables(s, dir, "documents"))),
    // mixture auditing: per-source KL divergence from the corpus
    // token distribution (decimal-exact weighted log sums)
    "q_text_kl" -> ((s, dir) =>
      TextAnalysis.tokenKlDivergence(Tables(s, dir, "documents"), groupCol = "source")),
    // MLM prep: deterministic (id, position)-hash token masking
    "q_text_mlm" -> ((s, dir) =>
      TextAnalysis.maskTokens(Tables(s, dir, "documents"), rate = 0.15)),
    // learned quality classifier: ONE distributed gradient step from the
    // zero model — sigmoid(0) = 1/2 exactly, so the residual sums are
    // exact multiples of 2^-1 and the oracle replays the step bit-for-bit
    "q_quality_lr" -> ((s, dir) =>
      QualityModel.gradientStep(
        Tables(s, dir, "documents").withColumn("label", (col("lang") === "en").cast("double")),
        "label", QualityModel.zero(64), lr = 0.1)),
    // BM25 keyword top-k (posting-list plan: map-side term filter,
    // broadcast df + corpus stats, TakeOrdered ranking)
    "q_search_bm25" -> ((s, dir) =>
      TextSearch.bm25Search(Tables(s, dir, "documents"),
        queryTerms = SearchTerms, k = 10)),
    // hybrid lexical+vector retrieval: reciprocal-rank fusion of the BM25
    // list and the cosine list vs a fixed query vector — both rankings
    // and the fused scores replayed in SQL end to end
    "q_search_hybrid" -> ((s, dir) =>
      TextSearch.hybridTopK(Tables(s, dir, "documents"), Tables(s, dir, "embeddings"),
        queryTerms = SearchTerms, queryVec = HybridQueryVec, k = 10)),
    // PII scrub over documents salted with synthetic email/IP/phone built
    // from doc_id — every row exercises all three rewrite rules, and the
    // oracle applies the identical RE2 patterns
    "q_text_redact" -> ((s, dir) =>
      TextAnalysis.redactPii(Tables(s, dir, "documents").withColumn("text",
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.org from 10.0."), (col("doc_id") % 200).cast("string"),
          lit(".7 or +1 555-01"), (col("doc_id") % 90 + 10).cast("string"))))),

    // ---- Dedup ----
    "q_dedup_exact" -> ((s, dir) => Dedup.exactDuplicates(Tables(s, dir, "documents"))),
    // keep-best election: the same text planted from a second source, the
    // survivor chosen by source priority (numeric suffix), ties -> min id;
    // src0 originals tie their src00 clones, so the tie-break is exercised
    "q_dedup_keep_best" -> ((s, dir) => {
      val d = Tables(s, dir, "documents").select("doc_id", "text", "source")
      val clones = d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 10000L).as("doc_id"), col("text"),
          when(col("doc_id") % 10 === 0, "src99").otherwise("src00").as("source"))
      val all = d.unionByName(clones)
      Dedup.collapseKeepBest(all, expr("CAST(substring(source, 4) AS INT)"))
    }),
    "q_dedup_exact_vec" -> ((s, dir) =>
      Tables(s, dir, "embeddings")
        .groupBy(col("embedding"))
        .agg(min("vec_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .select("keep_id", "n_copies")),
    "q_dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(Tables(s, dir, "documents"), blockCol = "source", threshold = 0.05)),
    // Guarded label-blocked face: blocks stay under maxBlock at the oracle
    // scales (≤ ~220 rows/label at sf0.1), so the output is the plain exact
    // in-block join the SQL twin replays; past the cap (sf1 ramp: ~2000/
    // label) oversized blocks re-block on (label × hyperplane bucket) and
    // the bench stops paying Σ|block|² — the guard, not the anti-pattern,
    // is what this gate now pins.
    "q_dedup_cosine" -> ((s, dir) =>
      Dedup.cosineNearDupPairs(Tables(s, dir, "embeddings"), blockCol = "label",
        threshold = 0.3, maxBlock = 1000, oversized = "lsh")),
    // The SCALE path for embedding near-dedup: hyperplane-LSH buckets
    // instead of a fixed-cardinality block column — Σ|block|² over a fixed
    // block count is quadratic in corpus size (the sf1 ramp measured the
    // label-blocked face at 44× cost for 10× rows; the production entry is
    // Similarity.lshCosinePairsAuto, which scales the bit width with the
    // corpus). The oracle replays the 4 sign-planes as inline double
    // literals, so BOTH the bucketing and the verification are
    // adjudicated, not just the survivors.
    "q_dedup_cosine_lsh" -> ((s, dir) =>
      Similarity.lshCosinePairs(Tables(s, dir, "embeddings"), threshold = 0.3, bits = 4)),
    // SemDeDup: blocks from the data's own k-means geometry (1 Lloyd's
    // step keeps the quantizer SQL-replayable for the oracle)
    "q_dedup_semantic" -> ((s, dir) =>
      Dedup.semanticNearDupPairs(Tables(s, dir, "embeddings"), threshold = 0.3,
        nClusters = 8, iters = 1)),
    // the full staged pipeline (exact vector collapse → cluster → pairs →
    // greedy keep) replayed in SQL end to end
    "q_dedup_semantic_pipeline" -> ((s, dir) =>
      Dedup.semanticDedupPipeline(Tables(s, dir, "embeddings"), threshold = 0.3,
        nClusters = 8, iters = 1).select("vec_id")),
    // NOTE: the full-corpus xxhash64 MinHash headline ("q_dedup_minhash")
    // deliberately does NOT live in this gated map — hashed-shingle
    // jaccard has no DuckDB twin, and a rows-only entry here reads as a
    // perpetual `err` row on the driver scoreboard (rounds 2-5). It is
    // now a BENCH-ONLY query (Bench.benchOnly); the oracle-adjudicated
    // faces are the three gates below: _planted (exhaustive fixture),
    // _oph (one-permutation kernel, same fixture), and _portable (the
    // FULL-corpus pipeline with every stage replayed in SQL).
    // Planted-fixture gate: restricted to doc_id < 200 so DuckDB can
    // enumerate ALL pairs by exact string-shingle Jaccard. At threshold 0.8
    // banded-LSH candidate recall is 1-(1-s^4)^16 >= 0.9998 per true pair —
    // deterministic on the fixed testdata (validated hash-green locally).
    // Ids only: the verified jaccard is over HASHED shingles (no SQL twin).
    "q_dedup_minhash_planted" -> ((s, dir) =>
      Dedup.minHashDuplicatePairs(Tables(s, dir, "documents").filter(col("doc_id") < 200),
        threshold = 0.8).select("id_a", "id_b")),
    // Same planted fixture through the ONE-PERMUTATION signature kernel
    // (one hash/shingle + rotation densification): banded recall must
    // reproduce the identical exact-Jaccard ground truth — the oracle is
    // the same exhaustive pair enumeration as q_dedup_minhash_planted.
    "q_dedup_minhash_oph" -> ((s, dir) =>
      Dedup.minHashDuplicatePairs(Tables(s, dir, "documents").filter(col("doc_id") < 200),
        threshold = 0.8, onePerm = true).select("id_a", "id_b")),
    // FULL-CORPUS portable pipeline: every stage (codepoint-polynomial
    // shingle hashes → k-hash signatures → polynomial band keys → bucket
    // guard → pair join → exact verify) is pure int64 math, so the oracle
    // replays the ACTUAL LSH algorithm in SQL — banding recall is a
    // non-issue because both engines band identically. k=16/4 bands keeps
    // the SQL-side signature replay cheap; xxhash64 stays the production
    // kernel (q_dedup_minhash).
    "q_dedup_minhash_portable" -> ((s, dir) =>
      Dedup.minHashDuplicatePairs(Tables(s, dir, "documents"), numHashes = 16, numBands = 4,
        threshold = 0.3, portable = true)),
    // EXACT set-similarity join (prefix filter, AllPairs/PPJoin): recall 1
    // by theorem, not by banding luck — the oracle replays the ACTUAL
    // algorithm (df ordering, prefixes, candidate join, verify) in SQL
    "q_dedup_prefix" -> ((s, dir) =>
      SetSimilarityJoin.prefixJaccardPairs(Tables(s, dir, "documents"), threshold = 0.4)),
    // cross-document duplicate spans (token-granular substring dedup):
    // portable rolling fingerprints per 16-token window, counted corpus-wide
    "q_dedup_spans" -> ((s, dir) =>
      TextAnalysis.duplicateSpans(Tables(s, dir, "documents"), width = 16, stride = 8)),
    // the remediation half: rewrite docs cutting duplicated non-overlapping
    // spans, keeping the lowest-(id, pos) occurrence — oracle replays the
    // fingerprinting, canonical election, and the text surgery itself
    "q_dedup_span_rewrite" -> ((s, dir) =>
      TextAnalysis.removeDuplicateSpans(Tables(s, dir, "documents"), width = 16)),
    // pair list → dedup clusters (connected components) on the same planted
    // fixture; the oracle walks the identical pair set with a recursive CTE
    "q_dedup_clusters" -> ((s, dir) => {
      val pairs = Dedup.minHashDuplicatePairs(
        Tables(s, dir, "documents").filter(col("doc_id") < 200), threshold = 0.8)
      Dedup.connectedComponents(pairs)
        .groupBy("comp").agg(count(lit(1)).as("n_members"))
        .filter(col("n_members") >= 2)
    }),
    // portable SimHash (31-bit fingerprint from codepoint-hashed tokens):
    // the oracle re-votes every bit with an unnest + groupBy. The 64-bit
    // xxhash64 SimHash stays the pairs-path default, spec-covered.
    "q_dedup_simhash" -> ((s, dir) =>
      Tables(s, dir, "documents").select(col("doc_id"), Dedup.simHashPortable(col("text")).as("fp"))),
    // The full staged pipeline (exact-collapse → LSH pairs → connected
    // components → canonical keep) end-to-end on the planted fixture; the
    // oracle replays every stage in SQL (recursive CTE for the clustering)
    "q_dedup_pipeline" -> ((s, dir) =>
      Dedup.fuzzyDedupPipeline(
        Tables(s, dir, "documents").filter(col("doc_id") < 200), threshold = 0.8)
        .select("doc_id", "lang", "source")),

    // DSIR importance weights: hashed-token likelihood ratios against a
    // target sample (English docs) vs the raw corpus — bucket models,
    // 1e-6-grid log-ratios, and the exact integer per-doc sums are all
    // replayed by the oracle
    "q_dsir_weights" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      graft.ops.Dsir.importanceWeights(
        docs, target = docs.filter(col("lang") === "en"), source = docs, dim = 64)
        .select(col("doc_id"), col("lw6"))
    }),

    // ---- Similarity search ----
    "q_ann_topk" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), k = 3)
    }),
    // ---- Cross-corpus MARGIN mining (bitext-mining score): per source
    //      vector, the target maximizing cos / mean-of-kNN-cosines — the
    //      hubness-normalized criterion the public corpus-alignment
    //      pipelines mine with. The oracle replays both kNN passes, the
    //      micro-scaled averages, the margin division, and the argmax ----
    "q_ann_margin_mine" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings").filter(col("vec_id") < 100)
      Similarity.marginTopPairs(
        emb.filter(col("vec_id") % 2 === 0), emb.filter(col("vec_id") % 2 === 1), k = 4)
    }),
    // ---- The 100 TB margin-mining composition the Scaladoc documents:
    //      marginFromNeighbors over ivfTopK-produced neighbor lists. The
    //      oracle replays the ENTIRE tier — lowest-id cell seeds,
    //      raw-cosine cell argmax (tie → lowest cell), the nProbe probe
    //      cells per query, within-probed-cells exact top-k — then the
    //      margin math with per-query ACTUAL list lengths: selective
    //      probing (nProbe=2 of 4) produces short lists, so the
    //      count(*) denominator is load-bearing here, not cosmetic ----
    "q_ann_margin_mine_ivf" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings").filter(col("vec_id") < 100)
      val src = emb.filter(col("vec_id") % 2 === 0)
      val tgt = emb.filter(col("vec_id") % 2 === 1)
      Similarity.marginFromNeighbors(
        Similarity.ivfTopK(tgt, src, k = 4, nCells = 4, nProbe = 2),
        Similarity.ivfTopK(src, tgt, k = 4, nCells = 4, nProbe = 2), k = 4)
    }),
    // MMR re-rank: the greedy argmax recursion replayed by a RECURSIVE
    // CTE carrying the selected set as list columns — relevance, penalty
    // dot products, tie-breaks and rounding all bit-identical
    "q_ann_mmr" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.mmrTopK(emb, emb.filter(col("vec_id") < 3), k = 5,
        lambda = 0.7, nCand = 20)
    }),
    // The pluggable-shortlist path through the SAME oracle: an explicit
    // tier shortlist covering the brute-force top-20 must reproduce the
    // default greedy exactly (relevance is recomputed op-side, so only
    // membership matters)
    "q_ann_mmr_tiered" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 3)
      Similarity.mmrTopK(emb, q, k = 5, lambda = 0.7, nCand = 20,
        shortlist = Some(Similarity.bruteForceTopK(emb, q, 20)))
    }),
    // Group-capped diversification: top-10 with at most 2 results per
    // label — the two ranking windows replayed exactly by the oracle
    "q_ann_diverse" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.diversifiedTopK(emb, emb.filter(col("vec_id") < 3), k = 10,
        groupCol = "label", maxPerGroup = 2)
    }),
    // Exhaustive probe (all 2^bits buckets): the LSH machinery (bucket
    // assignment, probe explode, bucket join, per-query window) must equal
    // brute-force top-k exactly → exact-cosine oracle. Selective-probe
    // recall is spec-asserted (AnnSpec/DynamicDimSpec).
    "q_ann_lsh" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5), k = 3, bits = 4, probeAll = true)
    }),
    // Exhaustive probe (nProbe = nCells): every cell is scanned, so the IVF
    // machinery (cell assignment, probe join, per-query window) must produce
    // EXACTLY the brute-force top-k — which gives it the exact-cosine
    // oracle. Recall at nProbe < nCells is asserted separately in specs.
    "q_ann_ivf" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5), k = 3, nCells = 8, nProbe = 8)
    }),

    // ---- Sessionization (batch) ----
    "q_sessionize" -> ((s, dir) => Sessionize.sessions(Tables(s, dir, "events"))),

    // per-key 6h-grid resample with forward fill (user slice keeps the
    // oracle compare bounded); gaps carry the last value, observed=false
    "q_resample_ffill" -> ((s, dir) =>
      Resample.forwardFill(
        Tables(s, dir, "events").filter(col("user_id") % 50 === 0),
        bucketMicros = 6L * 3600L * 1000000L)),

    // ordered per-session event transcripts (sequence-data assembly):
    // deterministic (ts, event_id) order inside one aggregation; the
    // oracle replays it with string_agg ORDER BY
    "q_session_transcripts" -> ((s, dir) =>
      Sessionize.transcripts(Tables(s, dir, "events"))),

    // native session_window operator (same gap semantics, Spark-built-in):
    // window.start = first event, window.end = last event + gap
    "q_session_window" -> ((s, dir) =>
      Tables(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        // scaled-long sum like Sessionize.sessions: order-independent
        .agg(count(lit(1)).as("n_events"),
          round(sum(round(col("value") * 1e6).cast("long")) / 1e6, 2).as("session_value"))
        .select(col("user_id"), unix_micros(col("session_window.start")).as("session_start_us"),
          col("n_events"), col("session_value"))),

    // ---- Conversion funnel over the event stream ----
    "q_funnel" -> ((s, dir) =>
      graft.ops.Funnel.funnel(Tables(s, dir, "events"),
        stages = Seq("signup", "click", "purchase"))),

    // ---- Multimodal plumbing ----
    "q_mm_meta" -> ((s, dir) =>
      Multimodal.packBinary(Tables(s, dir, "documents"))
        .select(col("media_id"), col("meta.mime").as("mime"),
          col("meta.byte_len").as("byte_len"), col("meta.sha256").as("sha256"))),
    // REAL image decode: one synthetic PNG per document (closed-form pixel
    // values), decoded by javax.imageio in mapPartitions. The oracle
    // recomputes width/height/channels, the integer-exact luminance sum,
    // and the exact-rational 8x8 aHash from doc_id alone — PNG is lossless,
    // so a correct decoder MUST reproduce them bit-for-bit.
    "q_mm_features" -> ((s, dir) =>
      Multimodal.extractImageFeatures(
        Multimodal.imageTable(Tables(s, dir, "documents")))
        .select(col("media_id"), col("width"), col("height"), col("channels"),
          col("lum_sum"), col("ahash_bits"))),
    // Image near-duplicate pairs by exact aHash: block-join on the 64-bit
    // fingerprint of REAL decoded pixels. syntheticPng plants exact dups
    // (rasterSeed reuses the predecessor's raster every 17th id; see
    // Multimodal.syntheticImage for the id-coefficient closed form), and
    // the oracle recomputes every collision from that closed form — hash
    // blocking over decoded features, the image face of the dedup family.
    "q_mm_ahash_dedup" -> ((s, dir) => {
      // materialized so the self-join's two branches share ONE decode pass
      // (at scale the feature table is persisted; fingerprints are 3
      // narrow columns, the payloads never reach the join)
      val f = graft.ops.Materialize(Multimodal.extractImageFeatures(
        Multimodal.imageTable(Tables(s, dir, "documents")))
        .select(col("media_id"), col("ahash_bits")))
      f.as("a").join(f.as("b"), Seq("ahash_bits"))
        .filter(col("a.media_id") < col("b.media_id"))
        .select(col("a.media_id").as("media_a"), col("b.media_id").as("media_b"),
          col("ahash_bits"))
    }),
    // Image NEAR-dup pairs by banded Hamming join over the same decoded
    // fingerprints: maxHamming+1 non-overlapping bands, pigeonhole-exact
    // candidate recall, full-distance verify in the bucket — the lossy
    // re-encode case exact equality misses (the PNG↔JPEG face is pinned
    // in MultimodalSpec; this gate adjudicates the banding + verify plan
    // on the lossless table, where the oracle replays bands and Hamming
    // from the closed-form bit strings).
    "q_mm_ahash_neardup" -> ((s, dir) =>
      Multimodal.aHashNearDupPairs(
        Multimodal.extractImageFeatures(
          Multimodal.imageTable(Tables(s, dir, "documents"))),
        maxHamming = 3)),
    // The GUARDED configuration, oracle-adjudicated: AHashGateMaxBucket
    // (12) is chosen BELOW the sf0.01 corpus's largest band bucket (19),
    // so the skew guard actually fires inside the gate (6 buckets
    // excluded, 281 -> 257 pairs — a spec asserts guarded < unguarded at
    // gate scale) and DuckDB replays the exclusion bit for bit — the
    // 100 TB code path (oversized boilerplate buckets dropped, pairs
    // recovered through their other bands) is verified, not just spec'd.
    "q_mm_ahash_neardup_guarded" -> ((s, dir) =>
      Multimodal.aHashNearDupPairs(
        Multimodal.extractImageFeatures(
          Multimodal.imageTable(Tables(s, dir, "documents"))),
        maxHamming = 3, maxBucket = AHashGateMaxBucket)),
    // REAL audio decode: one synthetic 16-bit PCM WAV per document
    // (closed-form samples), decoded by javax.sound.sampled in
    // mapPartitions; integer-exact |s|/s² sums and strict zero-crossing
    // count — the audio twin of q_mm_features, PCM is lossless.
    "q_mm_audio" -> ((s, dir) =>
      Multimodal.extractAudioFeatures(
        Multimodal.audioTable(Tables(s, dir, "documents")))
        .select(col("media_id"), col("sample_rate"), col("channels"),
          col("n_samples"), col("abs_sum"), col("sq_sum"), col("zero_crossings"))),
    // REAL MP4 container parsing: one minimal ISO-BMFF file per document
    // (ftyp + moov/mvhd/trak/tkhd boxes with closed-form fields), parsed
    // byte-level in mapPartitions — duration/dimensions/track-count
    // without any video decoder, which is the metadata a pipeline needs.
    "q_mm_video" -> ((s, dir) =>
      Multimodal.extractVideoMeta(
        Multimodal.videoTable(Tables(s, dir, "documents")))
        .select(col("media_id"), col("brand"), col("duration_ms"),
          col("n_tracks"), col("width"), col("height"))),
    // Frame-sampling plan from REAL container metadata: the MP4 parser's
    // duration at 24 fps gives the frame count, then the strided plan is
    // pure column math — the decode-free part of video ingestion.
    "q_mm_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(
        Multimodal.extractVideoMeta(
          Multimodal.videoTable(Tables(s, dir, "documents")))
          .withColumn("n_frames", (col("duration_ms") * 24 / 1000).cast("int")),
        stride = 24)
        .select(col("media_id"), col("n_frames"),
          concat_ws(",", col("sampled_frames").cast("array<string>")).as("sampled_frames_str"))),

    // ---- Training-data mixture sampling: portable multiplicative-hash
    //      buckets, so the DuckDB oracle reproduces membership row-for-row ----
    "q_sample_stratified" -> ((s, dir) =>
      Sampling.stratifiedPortable(Tables(s, dir, "documents"), "lang",
        Map("en" -> 0.8, "de" -> 0.5, "fr" -> 0.1), idCol = "doc_id")
        .select("doc_id", "lang")),

    // ---- Exact-k uniform sample per stratum (eval-set carving) ----
    "q_sample_k_per_group" -> ((s, dir) =>
      Sampling.sampleKPerGroup(Tables(s, dir, "documents"), "lang", k = 30, idCol = "doc_id")
        .select("doc_id", "lang")),

    // ---- Eval decontamination: benchmark-leakage check ----
    "q_decontaminate" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      Decontaminate.containment(
        train = docs.filter(col("doc_id") >= 20),
        eval = docs.filter(col("doc_id") < 20))
    }),

    // ---- SEMANTIC decontamination: embedding-space leakage the lexical
    // shingle check misses (paraphrases/translations of benchmark items);
    // flags the TRAIN side — the actionable direction. Eval broadcasts
    // (benchmarks are small), each train row scores |eval| codegen'd
    // cosines map-side, the only shuffle is the per-row argmax. The
    // oracle replays the full cross-scores and the rounded-cosine/
    // lowest-eval-id argmax tie-break exactly.
    "q_decontaminate_semantic" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Decontaminate.semanticContainment(
        train = emb.filter(col("vec_id") % 20 =!= 0),
        eval = emb.filter(col("vec_id") % 20 === 0),
        threshold = 0.5)
    }),

    // The SCALE face of semantic decontamination, running the MULTI-SEED
    // DEFAULT policy (round 13): seeds derive from (threshold, bits) via
    // Similarity.recallSeeds — here 3 rotated plane sets whose collision
    // sets union before the argmax. The oracle inlines all three plane
    // sets as double literals (same generator, seeds 7/8/9, dim 64) and
    // replays bucketing, the unioned collision join, and the rounded-
    // cosine/lowest-eval-id argmax, so the policy path itself — not just
    // its survivors — is adjudicated.
    "q_decontaminate_semantic_lsh" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Decontaminate.semanticContainmentLsh(
        train = emb.filter(col("vec_id") % 20 =!= 0),
        eval = emb.filter(col("vec_id") % 20 === 0),
        threshold = 0.5, bits = 4)
    }),

    // The pairs face of the same multi-seed default: lshCosinePairs under
    // the recallSeeds(threshold, bits) policy (3 plane sets at these
    // knobs), pairs deduped across passes. Complements the single-seed
    // q_dedup_cosine_lsh gate — both the historical floor and the
    // recall-targeted default stay oracle-adjudicated.
    "q_dedup_cosine_lsh_ms" -> ((s, dir) =>
      Similarity.lshCosinePairs(Tables(s, dir, "embeddings"), threshold = 0.3,
        bits = 4, seeds = Similarity.recallSeeds(0.3, 4))),

    // ---- WebDataset tar shards: pack the corpus into the multimodal
    // training layout (one .tar member per sample part), read the shards
    // back, and emit (key, shard, ext, byte_len). The oracle recomputes
    // every row WITHOUT touching a tar: byte_len = the text's UTF-8
    // length, shard = the portable codepoint-fold of the key mod 8 — so
    // a dropped/duplicated/truncated member, or a non-deterministic
    // shard assignment, hash-fails the gate.
    "q_wds_roundtrip" -> ((s, dir) => {
      val samples = Tables(s, dir, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id").cast("string").as("key"),
          map(lit("txt"), encode(col("text"), "UTF-8")).as("files"))
      // ONE scratch dir per JVM, removed at exit and cleared per run
      // (overwrite=true deletes prior shard-*.tar, since a smaller re-run
      // would otherwise leave stale shards for the glob): a shared fixed
      // path let two JVMs overwrite each other's shards, and a fresh dir
      // per invocation would leak a corpus copy on every evaluation
      val out = wdsScratch
      graft.ops.WebDataset.writeShards(samples, out, numShards = 8, overwrite = true)
      graft.ops.WebDataset.readShards(s, s"$out/*.tar")
        .select(col("key"), col("shard"), col("ext"), col("byte_len"))
    }),

    // ---- Training-sequence packing (concat-then-split layout) ----
    "q_pack_sequences" -> ((s, dir) =>
      Packing.concatSplitPack(Tables(s, dir, "documents"), tokenBudget = 512, numShards = 8)),

    // ---- Packing-efficiency audit over the same layout ----
    "q_pack_stats" -> ((s, dir) =>
      Packing.packStats(
        Packing.concatSplitPack(Tables(s, dir, "documents"), tokenBudget = 512, numShards = 8),
        tokenBudget = 512)),

    // ---- Source mixing to a target proportion ----
    "q_mix_sources" -> ((s, dir) =>
      Sampling.mixToTarget(Tables(s, dir, "documents"), "source",
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2), "doc_id")
        .select("doc_id", "source")),

    // ---- Token-budget mixture: per-source budgets in TOKENS (how training
    //      runs are provisioned), bucket-granular hash-prefix selection;
    //      membership replayed row-for-row by the oracle ----
    "q_mix_token_budget" -> ((s, dir) => {
      val d = Tables(s, dir, "documents").withColumn("n_tokens",
        when(col("text").isNull || length(trim(col("text"))) === 0, 0L)
          .otherwise(size(split(trim(lower(col("text"))), "\\s+")).cast("long")))
      Sampling.mixToTokenBudget(d, "source",
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2), totalTokens = 3000L,
        tokensCol = "n_tokens", idCol = "doc_id", nBuckets = 16)
        .select("doc_id", "source", "n_tokens")
    }),

    // ---- Temperature-flattened mixture (T=2 → sqrt: IEEE-exact in both
    //      engines): weights DERIVED from observed counts in-plan ----
    "q_mix_temperature" -> ((s, dir) =>
      Sampling.temperatureMix(Tables(s, dir, "documents"), "source",
        temperature = 2.0, idCol = "doc_id")
        .select("doc_id", "source")),

    // ---- Source-interleaved shard order: the (rank, source) sort key is
    //      the checkable face; the oracle replays the per-source ranking ----
    "q_layout_interleave" -> ((s, dir) =>
      Layout.interleaveBySource(Tables(s, dir, "documents"), "source", "doc_id")
        .select("doc_id", "source", "interleave_rank")),

    // ---- PCA audit face: the full population covariance matrix of the
    //      embedding column, scaled-integer sums → order-independent ----
    "q_vec_cov" -> ((s, dir) =>
      Pca.covariancePortable(Tables(s, dir, "embeddings"))),

    // ---- Embedding-quality outliers: per-cluster distance quantile
    //      (iters=1 keeps the quantizer SQL-replayable, like q_kmeans_*) ----
    "q_vec_outliers" -> ((s, dir) =>
      Clustering.distanceOutliers(Tables(s, dir, "embeddings"), k = 8, iters = 1, q = 0.9)),

    // ---- Z-order layout: Morton z-values over (custkey, orderkey) ----
    // the write-path clustering key for multi-dimensional file pruning;
    // bucketing + interleave are pure int math → bit-exact oracle
    "q_layout_zorder" -> ((s, dir) =>
      Layout.withZValue(Tables(s, dir, "orders"), Seq("o_custkey", "o_orderkey"), bits = 8)
        .select("o_orderkey", "z_value")),

    // ---- SpaceSaving heavy hitters: k=128 over the ~100-value
    //      (lang, source) domain -> no eviction -> provably EXACT, so the
    //      whole sketch machinery (partial buffers, merges, eval) is
    //      oracle-checked; eviction-mode bounds are spec-asserted ----
    "q_sketch_heavyhitters" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .agg(graft.functions.SketchAggFunctions.spaceSavingTopK(
          concat_ws(":", col("lang"), col("source")), 128).as("hh"))
        .select(explode(col("hh")).as("r"))
        .select(col("r.item").as("item"), col("r.count").as("est"),
          col("r.err").as("err"))),

    // ---- RAG chunking: overlapping 64-token windows, stride 48 ----
    // boundaries are pure integer math → the oracle replays every window
    "q_chunk_docs" -> ((s, dir) =>
      Chunking.chunkByTokens(Tables(s, dir, "documents"), width = 64, stride = 48)
        .select("doc_id", "chunk_idx", "n_tokens", "chunk_text")),

    // ---- chunk -> hashing-trick embedding (dim 16): the deterministic
    //      encoder stand-in, every component oracle-replayed. Output is
    //      FLATTENED to scalar (doc_id, chunk_idx, i, v) rows — the
    //      driver's checker sorts rows by all columns in pandas and
    //      cannot hash an array cell (round-5 oracle-ERR) ----
    "q_chunk_embed" -> ((s, dir) =>
      Chunking.chunkByTokens(Tables(s, dir, "documents"), width = 64, stride = 48)
        .select(col("doc_id"), col("chunk_idx"),
          posexplode(transform(TextFunctions.hashedTokenEmbedding(col("chunk_text"), 16),
            v => round(v, 6))).as(Seq("i", "v")))),

    // ---- EXACT edit-distance join (Ed-Join prefix filter + Levenshtein
    //      verify) over customer names, k=1 ----
    "q_fuzzy_names" -> ((s, dir) =>
      EditDistanceJoin.editDistancePairs(Tables(s, dir, "customer"),
        strCol = "c_name", idCol = "c_custkey", maxDistance = 1)),

    // same pairs via the deletion-neighborhood (FastSS) join — the
    // low-entropy-alphabet path; two independent exact algorithms must
    // agree, and the oracle replays this one's variant join too
    "q_fuzzy_names_fastss" -> ((s, dir) =>
      EditDistanceJoin.deletionNeighborhoodPairs(Tables(s, dir, "customer"),
        strCol = "c_name", idCol = "c_custkey")),

    // variant -> canonical normalization: connected components over the
    // single-edit graph, min-id canonical; oracle walks the identical
    // pair set with a recursive CTE
    "q_fuzzy_canonical" -> ((s, dir) =>
      EditDistanceJoin.canonicalVariants(Tables(s, dir, "customer"),
        strCol = "c_name", idCol = "c_custkey")),

    // ---- Array functions ----
    "q_fn_array" -> ((s, dir) =>
      Tables(s, dir, "embeddings").select(
        col("vec_id"),
        round(element_at(col("embedding"), 1).cast("double"), 6).as("arr_first"),
        round(element_at(col("embedding"), -1).cast("double"), 6).as("arr_last"),
        round(aggregate(transform(slice(col("embedding"), 1, 8), _.cast("double")),
          lit(0.0), _ + _), 6).as("head_sum"),
        size(col("embedding")).as("n"))),

    // ---- Hard-negative mining (retriever-training staple): top-10
    //      negatives per query below the (query, query+7) positive by a
    //      0.02 cosine margin, everything on the integer grid ----
    "q_ann_hard_negatives" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
      val pos = q.select(col("vec_id").as("query_id"), (col("vec_id") + 7).as("pos_id"))
      Similarity.hardNegatives(emb, q, pos, n = 10, marginMicros = 20000, nCand = 100)
    }),

    // ---- Chunk→document mean pooling: the doc-level embedding from the
    //      per-chunk hashed embeddings, every component an exact grid
    //      integer (floor(sum/n + 0.5) over 1e-6-snapped inputs) ----
    "q_chunk_pool" -> ((s, dir) => {
      val chunks = Chunking.chunkByTokens(Tables(s, dir, "documents"), width = 64, stride = 48)
        .select(col("doc_id"),
          transform(TextFunctions.hashedTokenEmbedding(col("chunk_text"), 16),
            v => round(v, 6)).as("embedding"))
      Chunking.meanPoolEmbeddings(chunks).select("doc_id", "pos", "pooled6")
    }),

    // ---- Incremental near-dedup: the odd-id batch checked against the
    //      even-id corpus' PERSISTED signature table — band join only
    //      batch×corpus, signature-estimate verify; the oracle replays
    //      signatures, bands, the corpus-side bucket guard, and the match
    //      fraction for both sides ----
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val corpusSigs = Dedup.signatureTable(docs.filter(col("doc_id") % 2 === 0),
        numHashes = 16, portable = true)
      Dedup.incrementalNearDupPairs(corpusSigs, docs.filter(col("doc_id") % 2 =!= 0),
        numHashes = 16, numBands = 4, threshold = 0.3, portable = true)
    }),

    // The INDEXED incremental path under its crash-window state: the index
    // is built from the even corpus MINUS a holdout, then the holdout's
    // bands+sigs are appended while widths/ stays stale — exactly what a
    // crash between SigIndex.ingest's appends and its widths swap leaves.
    // The oracle computes the FRESH-index answer over the full even
    // corpus, so the gate passes only because candidate generation treats
    // widths-unknown buckets as small (coalesce(bucket_n,0) <= maxBucket)
    // instead of dropping them.
    "q_dedup_incremental_stale" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val even = docs.filter(col("doc_id") % 2 === 0)
      val tmp = graft.core.Scratch.tempDir("gate_stale")
      val p = graft.core.SigIndex.Params(numHashes = 16, numBands = 4, portable = true)
      graft.core.SigIndex.build(s, even.filter(col("doc_id") % 10 =!= 0), tmp, p)
      val stranded = Dedup.signatureTable(even.filter(col("doc_id") % 10 === 0),
        numHashes = 16, portable = true)
      stranded.write.mode("append").parquet(s"$tmp/sigs")
      Dedup.lshBands(stranded, numBands = 4, rowsPerBand = 4, portable = true)
        .write.mode("append").parquet(s"$tmp/bands") // widths NOT swapped
      Dedup.incrementalNearDupPairsIndexed(
        s.read.parquet(s"$tmp/sigs"), s.read.parquet(s"$tmp/bands"),
        s.read.parquet(s"$tmp/widths"), docs.filter(col("doc_id") % 2 =!= 0),
        numHashes = 16, numBands = 4, threshold = 0.3, portable = true)
    }),

    // ---- The STREAMING face of the indexed incremental dedup: the odd-id
    //      batch replayed as a FILE STREAM through
    //      StreamOps.streamingIncrementalDedupIndexed (params resolved
    //      from the index's own manifest, watermarked pair collapse),
    //      landed via foreachBatch — adjudicated by the SAME DuckDB
    //      oracle as the batch twin q_dedup_incremental, so
    //      batch ≡ streaming is hash-checked, not just spec-asserted ----
    "q_dedup_incremental_stream" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val tmp = graft.core.Scratch.tempDir("gate_incstr")
      graft.core.SigIndex.build(s, docs.filter(col("doc_id") % 2 === 0), tmp,
        graft.core.SigIndex.Params(numHashes = 16, numBands = 4, portable = true))
      val inDir = s"$tmp/in"
      docs.filter(col("doc_id") % 2 =!= 0)
        .withColumn("ts", lit("2026-01-01 00:00:00").cast("timestamp"))
        .select("doc_id", "text", "ts")
        .write.mode("overwrite").parquet(inDir)
      val stream = s.readStream.schema(s.read.parquet(inDir).schema).parquet(inDir)
      val flagged = graft.streaming.StreamOps.streamingIncrementalDedupIndexed(
        stream, tmp, idCol = "doc_id", textCol = "text", tsCol = "ts",
        threshold = 0.3, watermark = "1 hour", broadcastBatch = true)
      val outDir = s"$tmp/out"
      val land: (DataFrame, Long) => Unit =
        (b, _) => b.write.mode("append").parquet(outDir)
      val q = flagged.writeStream.foreachBatch(land)
        .option("checkpointLocation", s"$tmp/chk").start()
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(outDir)
        .select(col("doc_id").as("batch_id"), col("corpus_id"), col("jaccard"))
    }),

    // ---- The streaming NEAR-dedup face (SimHash fingerprint dedup within
    //      the watermark horizon), replayed as a MULTI-microbatch file
    //      stream (maxFilesPerTrigger=1 forces cross-batch state): which
    //      document survives per fingerprint is arrival-order dependent,
    //      but the surviving FINGERPRINT SET is split-invariant — one row
    //      per distinct fp, hash-compared to the SAME portable-SimHash
    //      oracle as q_dedup_simhash (DISTINCT-wrapped) ----
    "q_dedup_near_stream" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val tmp = graft.core.Scratch.tempDir("gate_nearstr")
      val inDir = s"$tmp/in"
      docs.withColumn("ts", lit("2026-01-01 00:00:00").cast("timestamp"))
        .select("doc_id", "text", "ts")
        .repartition(2).write.mode("overwrite").parquet(inDir)
      val stream = s.readStream.schema(s.read.parquet(inDir).schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val kept = graft.streaming.StreamOps.streamingNearDedup(
        stream, portable = true)
      val outDir = s"$tmp/out"
      val land: (DataFrame, Long) => Unit =
        (b, _) => b.write.mode("append").parquet(outDir)
      val q = kept.writeStream.foreachBatch(land)
        .option("checkpointLocation", s"$tmp/chk").start()
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(outDir).select("simhash_fp")
    }),

    // ---- The streaming SEMANTIC decontaminate face (fused argmax kernel
    //      against the broadcast eval set), replayed as a multi-microbatch
    //      file stream and adjudicated by the SAME DuckDB oracle as the
    //      batch twin q_decontaminate_semantic — batch ≡ streaming is
    //      hash-checked per row, not just spec-asserted ----
    "q_decontaminate_semantic_stream" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val tmp = graft.core.Scratch.tempDir("gate_decstr")
      val inDir = s"$tmp/in"
      emb.filter(col("vec_id") % 20 =!= 0).select("vec_id", "embedding")
        .repartition(2).write.mode("overwrite").parquet(inDir)
      val stream = s.readStream.schema(s.read.parquet(inDir).schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val flagged = graft.streaming.StreamOps.streamingSemanticDecontaminate(
        stream, emb.filter(col("vec_id") % 20 === 0), threshold = 0.5)
      val outDir = s"$tmp/out"
      val land: (DataFrame, Long) => Unit =
        (b, _) => b.write.mode("append").parquet(outDir)
      val q = flagged.writeStream.foreachBatch(land)
        .option("checkpointLocation", s"$tmp/chk").start()
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(outDir)
        .select("vec_id", "max_cosine", "nearest_eval_id", "contaminated")
    }),

    // ---- The streaming QUALITY-GATE face (row-local heuristic score,
    //      stateless): documents replayed as a multi-microbatch file
    //      stream through StreamOps.streamingQualityFilter with a FIXED
    //      cut — the streaming-safe variant of the corpus-relative
    //      quantile cut — adjudicated by the same closed-form quality
    //      expression the q_text_quality* oracles replay ----
    "q_quality_filter_stream" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val tmp = graft.core.Scratch.tempDir("gate_qualstr")
      val inDir = s"$tmp/in"
      docs.select("doc_id", "text")
        .repartition(2).write.mode("overwrite").parquet(inDir)
      val stream = s.readStream.schema(s.read.parquet(inDir).schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val kept = graft.streaming.StreamOps.streamingQualityFilter(
        stream, minScore = 0.5)
      val outDir = s"$tmp/out"
      val land: (DataFrame, Long) => Unit =
        (b, _) => b.write.mode("append").parquet(outDir)
      val q = kept.writeStream.foreachBatch(land)
        .option("checkpointLocation", s"$tmp/chk").start()
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(outDir).select("doc_id", "quality")
    }),

    // ---- The streaming CHUNK+EMBED face (explode + row-local hashed
    //      embedding, stateless): documents replayed as a multi-
    //      microbatch file stream through StreamOps.streamingChunkEmbed,
    //      landed via foreachBatch, then flattened to the SAME scalar
    //      (doc_id, chunk_idx, i, v) rows as batch twin q_chunk_embed —
    //      the SAME DuckDB oracle adjudicates both, so batch ≡ streaming
    //      is hash-checked component by component ----
    "q_chunk_embed_stream" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val tmp = graft.core.Scratch.tempDir("gate_cestr")
      val inDir = s"$tmp/in"
      docs.select("doc_id", "text")
        .repartition(2).write.mode("overwrite").parquet(inDir)
      val stream = s.readStream.schema(s.read.parquet(inDir).schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val chunks = graft.streaming.StreamOps.streamingChunkEmbed(
        stream, width = 64, stride = 48, dim = 16)
        .select("doc_id", "chunk_idx", "embedding")
      val outDir = s"$tmp/out"
      val land: (DataFrame, Long) => Unit =
        (b, _) => b.write.mode("append").parquet(outDir)
      val q = chunks.writeStream.foreachBatch(land)
        .option("checkpointLocation", s"$tmp/chk").start()
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(outDir)
        .select(col("doc_id"), col("chunk_idx"),
          posexplode(transform(col("embedding"), v => round(v, 6))).as(Seq("i", "v")))
    }),

    // ---- URL canonicalization (the FIRST dedup a crawl pipeline runs):
    //      case/port/fragment/tracking-param/param-order normalization
    //      over deterministically constructed URLs; the oracle computes
    //      the expected canonical form in closed form ----
    "q_url_canonical" -> ((s, dir) =>
      Tables(s, dir, "documents").select(col("doc_id"),
        concat(lit("HTTP://"), upper(col("source")), lit(".Example.COM:80/doc/"),
          col("doc_id"), lit("?utm_source=feed&b=2&a=1#sec")).as("url"))
        .select(col("doc_id"),
          Urls.canonicalizeUrl(col("url")).as("canonical_url"),
          Urls.urlHost(col("url")).as("host"))),

    // ---- Corpus data card: per-(source, lang) doc/token/char counts,
    //      quality pass rate, and the exact grid mean quality — the table
    //      a mixture plan starts from ----
    "q_corpus_datacard" -> ((s, dir) =>
      TextAnalysis.corpusDataCard(Tables(s, dir, "documents"))),

    // ---- Markup-stripping text extraction (the crawl→corpus first
    //      stage): documents wrapped in a deterministic HTML shell, then
    //      script/style/comment removal, tag flattening, entity decode,
    //      whitespace collapse — byte-identical across engines ----
    "q_text_extract" -> ((s, dir) =>
      TextAnalysis.extractText(
        Tables(s, dir, "documents").select(col("doc_id"), concat(
          lit("<html><head><title>T</title><style>p{color:red}</style></head>" +
            "<body><!-- nav --><h1>Doc</h1><p>"),
          col("text"),
          lit("</p><script>var x = 1 < 2;</script>&amp; &lt;tail&gt;</body></html>"))
          .as("html"))))
  )

  def oracleSql: Map[String, String] = {
    // text stats building blocks, inlined per use
    val ntok = s"len($toksSql)"
    val nsub = """len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]'))"""
    val punct = "(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))"
    val punctRatio = s"CASE WHEN length(text)=0 THEN 0.0 ELSE CAST($punct AS DOUBLE)/length(text) END"
    val nstop = s"len(list_filter($toksSql, t -> lower(t) IN $stopSql))"
    val stopRatio = s"CASE WHEN $ntok=0 THEN 0.0 ELSE CAST($nstop AS DOUBLE)/$ntok END"
    val meanTok = s"CASE WHEN $ntok=0 THEN 0.0 ELSE " +
      s"CAST(list_aggregate(list_transform($toksSql, t -> length(t)), 'sum') AS DOUBLE)/$ntok END"
    val quality = s"round((least(CAST($ntok AS DOUBLE)/16.0, 1.0)*0.4 + " +
      s"least($stopRatio*4.0, 1.0)*0.3 + greatest(0.0, 1.0 - $punctRatio*5.0)*0.3), 6)"
    // langid CASE chain in langMarkers order (first max wins = Spark tie-break)
    val scores = TextFunctions.langMarkers.map { case (lang, markers) =>
      lang -> s"len(list_filter($toksSql, t -> lower(t) IN ${sqlList(markers)}))"
    }
    val allZero = scores.map(_._2 + " = 0").mkString(" AND ")
    val caseChain = scores.map { case (lang, sc) =>
      val geAll = scores.filter(_._1 != lang).map(o => s"$sc >= ${o._2}").mkString(" AND ")
      s"WHEN $geAll THEN '$lang'"
    }.mkString(" ")
    val langCase = s"CASE WHEN $allZero THEN 'und' $caseChain END"

    // word-3gram shingles of lowercased text (matches TextFunctions.wordShingles)
    val shingles = "list_distinct(list_transform(generate_series(1, greatest(len(ltoks)-2, 0)), " +
      "i -> ltoks[i] || ' ' || ltoks[i+1] || ' ' || ltoks[i+2]))"
    val ltoksFrom = "(SELECT doc_id, source, string_split_regex(trim(lower(text)), '\\s+') AS ltoks FROM documents)"

    // planted-fixture near-dup pairs (doc_id < 200, exact Jaccard >= 0.8) —
    // the ground truth the LSH path must reproduce at recall ~1.
    // INVERTED-INDEX form (r20): intersection sizes come from one
    // unnest-join-groupBy over the (distinct) shingles instead of the
    // O(n²) pairwise list_intersect — only pairs sharing ≥ 1 shingle
    // appear, which loses nothing because every consumer filters
    // j >= 0.8 > 0 (and the old CASE's len-0 branch emitted j = 0.0).
    // |union| = sza + szb − inter exactly (sh is list_distinct), and the
    // DOUBLE division + round are the same ops, so j is bit-identical
    // (validated equal to the pairwise form at sf0.001/0.01/0.1; the
    // pairwise CASE cost 2.5-8 s per consuming gate at sf0.01, this is
    // 0.02-0.06 s). MATERIALIZED: DuckDB inlines plain CTEs per reference.
    val plantedPairCtes =
      "d AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ltoks " +
        "FROM documents WHERE doc_id < 200), " +
        s"sh AS MATERIALIZED (SELECT doc_id, $shingles AS sh FROM d), " +
        "exd AS MATERIALIZED (SELECT doc_id, len(sh) AS sz, unnest(sh) AS h FROM sh), " +
        "iv AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS sza, b.sz AS szb, " +
        "count(*) AS inter FROM exd a JOIN exd b ON a.h = b.h AND a.doc_id < b.doc_id " +
        "GROUP BY 1, 2, 3, 4), " +
        "p AS MATERIALIZED (SELECT id_a, id_b, " +
        "round(CAST(inter AS DOUBLE) / (sza + szb - inter), 6) AS j FROM iv)"

    // exact cosine top-3 for query set vec_id < 5 — shared by the brute
    // query and the exhaustive-probe IVF query (nProbe = nCells ⇒ identical)
    val annExactSql =
      "WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) qv " +
        "FROM embeddings WHERE vec_id < 5), " +
        "c AS (SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) cv FROM embeddings), " +
        // "+ 0.0" turns a possible -0.0 into +0.0 to match Spark's
        // BigDecimal-backed round (q_vec_cov signed-zero lesson)
        s"s AS (SELECT query_id, cand_id, round(${cosSql("qv", "cv")}, 6) + 0.0 AS score " +
        "FROM q JOIN c ON cand_id <> query_id) " +
        "SELECT query_id, cand_id, score, CAST(rn AS INT) AS rk FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY query_id " +
        "ORDER BY score DESC, cand_id ASC) AS rn FROM s) WHERE rn <= 3"

    // the chunk-window + hashing-trick embedding replay, component by
    // component — shared by batch q_chunk_embed and its streaming twin
    // q_chunk_embed_stream (same windows, same kernel, same rounding)
    val chunkEmbedSql = {
      val dim = 16
      val counts = (0 until dim)
        .map(j => s"CAST(len(list_filter(ch, h -> h % $dim = $j)) AS DOUBLE)")
        .mkString("[", ", ", "]")
      "WITH d AS (SELECT doc_id, CASE WHEN text IS NULL OR length(trim(text)) = 0 " +
        "THEN [] ELSE string_split_regex(trim(text), '\\s+') END AS toks FROM documents), " +
        s"h AS (SELECT doc_id, list_transform(toks, t -> ${tokHashSql("t")}) AS hl, " +
        "len(toks) AS n FROM d WHERE len(toks) > 0), " +
        "c AS (SELECT doc_id, hl, " +
        "CASE WHEN n <= 64 THEN 1 ELSE (n - 64 + 47) // 48 + 1 END AS nc FROM h), " +
        "e AS (SELECT doc_id, CAST(k AS INT) AS chunk_idx, " +
        "hl[k*48+1 : k*48+64] AS ch FROM " +
        "(SELECT doc_id, hl, unnest(range(0, nc)) AS k FROM c)), " +
        s"cnt AS (SELECT doc_id, chunk_idx, $counts AS cnt FROM e), " +
        "nrm AS (SELECT doc_id, chunk_idx, cnt, " +
        "sqrt(list_aggregate(list_transform(cnt, x -> x*x), 'sum')) AS nn FROM cnt) " +
        // flattened to scalar rows (parallel unnests zip, as in q_vec_cov)
        "SELECT doc_id, chunk_idx, CAST(unnest(range(len(cnt))) AS INT) AS i, " +
        "unnest(list_transform(cnt, x -> round(x / nn, 6))) AS v FROM nrm"
    }

    val m = Map(
      "q_transform_enrich" ->
        ("SELECT doc_id, source, 'pgvector' AS source_db, doc_id % 10 AS migration_batch " +
          "FROM documents"),
      "q_text_stats" ->
        (s"SELECT doc_id, $ntok AS n_tokens, $nsub AS n_subwords, " +
          s"length(text) AS n_chars_actual, round($punctRatio, 6) AS punct_ratio, " +
          s"round($stopRatio, 6) AS stopword_ratio, round($meanTok, 6) AS mean_tok_len " +
          "FROM documents"),
      "q_text_quality" ->
        (s"SELECT doc_id, $quality AS quality, $quality >= 0.5 AS keep FROM documents"),
      "q_text_langid" ->
        (s"SELECT doc_id, $langCase AS lang_pred FROM documents"),
      "q_text_fingerprint" ->
        "SELECT doc_id, md5(text) AS content_md5 FROM documents",
      "q_text_rollhash" ->
        // same polynomial fold as PolyFoldHashExpr: acc = (acc*131 + h) mod P
        // over the portable token hashes, 0 for token-less text, NULL for NULL
        ("SELECT doc_id, md5(text) AS content_md5, " +
          "CASE WHEN text IS NULL THEN NULL WHEN length(trim(text)) = 0 THEN 0 ELSE " +
          s"list_reduce(list_prepend(CAST(0 AS BIGINT), $tokHashListSql), " +
          "(a, x) -> (a*131 + x) % 2147483647) END AS rolling_hash FROM documents"),
      "q_dedup_simhash" ->
        // re-vote every fingerprint bit: for bit j, sum ±1 over token hashes
        // (31 bits cover the whole portable hash range; SimHash64Expr's top
        // bits are all-(-1) votes = 0). Empty docs vote nothing → fp 0.
        ("WITH th AS (SELECT doc_id, unnest(" + tokHashListSql + ") AS h " +
          "FROM documents WHERE length(trim(text)) > 0), " +
          "b AS (SELECT doc_id, j, sum(CASE WHEN ((h >> CAST(j AS INT)) & 1) = 1 " +
          "THEN 1 ELSE -1 END) AS s " +
          "FROM th CROSS JOIN (SELECT unnest(range(0, 31)) AS j) bits GROUP BY doc_id, j), " +
          "f AS (SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) " +
          "<< CAST(j AS INT)) ELSE 0 END) AS BIGINT) AS fp FROM b GROUP BY doc_id) " +
          "SELECT d.doc_id, CASE WHEN d.text IS NULL THEN NULL " +
          "ELSE coalesce(f.fp, 0) END AS fp FROM documents d LEFT JOIN f USING (doc_id)"),
      "q_text_normalize" ->
        ("SELECT doc_id, trim(regexp_replace(regexp_replace(nfc_normalize(text), " +
          "'[[:cntrl:]]', '', 'g'), '\\s+', ' ', 'g')) AS norm_text FROM documents"),
      "q_sample_split" -> {
        // cut points computed by the SAME Scala double math as
        // splitPortable, interpolated as literals — no cross-engine
        // floating-point cumsum to diverge
        val ws = Seq(0.8, 0.1, 0.1)
        val t = ws.sum
        val cuts = ws.scanLeft(0.0)(_ + _ / t).tail
          .map(c => math.floor(c * 2147483647.0).toLong)
        "SELECT doc_id, CASE " +
          s"WHEN b < ${cuts(0)} THEN 'train' " +
          s"WHEN b < ${cuts(1)} THEN 'val' ELSE 'test' END AS split " +
          "FROM (SELECT doc_id, ((doc_id % 2147483647) * 2654435761 + 42) " +
          "% 2147483647 AS b FROM documents)"
      },
      "q_split_leakage_safe" -> {
        // the q_dedup_clusters component recipe (exact planted pairs at
        // j>=0.8, min-label reach) + the q_sample_split bucket/cut math,
        // keyed on the component representative instead of the row id
        val ws = Seq(0.8, 0.1, 0.1)
        val t = ws.sum
        val cuts = ws.scanLeft(0.0)(_ + _ / t).tail
          .map(c => math.floor(c * 2147483647.0).toLong)
        s"WITH $plantedPairCtes, " +
          "e AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM p WHERE j >= 0.8 " +
          "UNION SELECT id_b, id_a FROM p WHERE j >= 0.8), " +
          ccUnrolledCtes("e") + ", " +
          "rep AS (SELECT d2.doc_id, coalesce(c.comp, d2.doc_id) AS rep " +
          "FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d2 " +
          "LEFT JOIN c ON c.id = d2.doc_id), " +
          "b AS (SELECT doc_id, ((rep % 2147483647) * 2654435761 + 42) " +
          "% 2147483647 AS b FROM rep) " +
          "SELECT doc_id, CASE " +
          s"WHEN b < ${cuts(0)} THEN 'train' " +
          s"WHEN b < ${cuts(1)} THEN 'val' ELSE 'test' END AS split FROM b"
      },
      "q_text_quality_cut" ->
        // Spark's exact percentile == DuckDB quantile_cont (same linear
        // interpolation); qualityScore is pre-rounded on both sides
        (s"WITH q AS (SELECT doc_id, $quality AS quality FROM documents), " +
          "c AS (SELECT quantile_cont(quality, 0.2) AS cut FROM q) " +
          "SELECT doc_id, quality FROM q, c WHERE quality >= cut"),
      "q_text_vocab" ->
        // empty texts guarded on both sides (Spark tokens() maps them to
        // []); tf-desc + token-asc makes the LIMIT cut deterministic
        ("WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) " +
          "AS token FROM documents WHERE length(trim(text)) > 0) " +
          "SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df FROM t " +
          "GROUP BY token ORDER BY tf DESC, token ASC LIMIT 100"),
      "q_bpe_pairs" ->
        // same stage chain: lowercase word freqs -> code-point symbols +
        // '</w>' -> adjacent pairs weighted by freq -> top-50 (ties to the
        // lexicographically smallest pair)
        ("WITH t AS (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w " +
          "FROM documents WHERE length(trim(text)) > 0), " +
          "wf AS (SELECT w, count(*) AS freq FROM t WHERE length(w) > 0 GROUP BY w), " +
          "sy AS (SELECT freq, list_append(list_transform(range(1, length(w)+1), " +
          "i -> w[i]), '</w>') AS syms FROM wf), " +
          "pr AS (SELECT freq, unnest(list_transform(range(1, len(syms)), " +
          "i -> syms[i] || ' ' || syms[i+1])) AS pair FROM sy) " +
          "SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM pr GROUP BY pair " +
          "ORDER BY cnt DESC, pair LIMIT 50"),
      "q_text_repetition" ->
        ("WITH d AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ltoks FROM documents), " +
          "g AS (SELECT doc_id, " +
          "list_transform(generate_series(1, greatest(len(ltoks)-1, 0)), i -> ltoks[i] || ' ' || ltoks[i+1]) AS g2, " +
          "list_transform(generate_series(1, greatest(len(ltoks)-4, 0)), " +
          "i -> ltoks[i] || ' ' || ltoks[i+1] || ' ' || ltoks[i+2] || ' ' || ltoks[i+3] || ' ' || ltoks[i+4]) AS g5 FROM d), " +
          "base AS (SELECT doc_id, CAST(len(g2) AS INT) AS n_bigrams, " +
          "round(CASE WHEN len(g2)=0 THEN 0.0 ELSE 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE)/len(g2) END, 6) AS dup_bigram_ratio, " +
          "round(CASE WHEN len(g5)=0 THEN 0.0 ELSE 1.0 - CAST(len(list_distinct(g5)) AS DOUBLE)/len(g5) END, 6) AS dup_5gram_ratio, " +
          "g2 FROM g), " +
          "e AS (SELECT doc_id, unnest(g2) AS gr FROM base), " +
          "cnt AS (SELECT doc_id, gr, count(*) AS c FROM e GROUP BY doc_id, gr), " +
          "tp AS (SELECT doc_id, round(CAST(max(c) AS DOUBLE)/CAST(sum(c) AS DOUBLE), 6) AS top_bigram_frac " +
          "FROM cnt GROUP BY doc_id) " +
          "SELECT b.doc_id, n_bigrams, dup_bigram_ratio, dup_5gram_ratio, " +
          "coalesce(top_bigram_frac, 0.0) AS top_bigram_frac " +
          "FROM base b LEFT JOIN tp ON b.doc_id = tp.doc_id"),
      "q_text_perplexity" ->
        // same Laplace-smoothed unigram LM; lp6/slp are scaled-integer
        // log-probs so the per-doc sum cannot drift with aggregation order
        ("WITH d AS (SELECT doc_id, " + ltoksSql + " AS ltoks FROM documents), " +
          "tok AS (SELECT doc_id, unnest(ltoks) AS token FROM d), " +
          "c AS (SELECT token, count(*) AS c FROM tok GROUP BY token), " +
          "t AS (SELECT CAST(sum(c) AS BIGINT) AS t, count(*) AS v FROM c), " +
          "lm AS (SELECT token, CAST(round(ln(CAST(c+1 AS DOUBLE)/(t+v)) * 1000000.0, 0) " +
          "AS BIGINT) AS lp6 FROM c, t), " +
          "s AS (SELECT tok.doc_id, count(*) AS n_tokens, CAST(sum(lp6) AS BIGINT) AS slp " +
          "FROM tok JOIN lm USING (token) GROUP BY tok.doc_id) " +
          "SELECT d.doc_id, CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens, " +
          "coalesce(round(exp(-CAST(slp AS DOUBLE)/1000000.0/n_tokens), 6), 0.0) AS ppl " +
          "FROM d LEFT JOIN s ON d.doc_id = s.doc_id"),
      "q_text_perplexity2" ->
        // first token scored by the unigram Laplace LM, later tokens by
        // the bigram conditional; same scaled-long log-prob sums
        ("WITH d AS (SELECT doc_id, " + ltoksSql + " AS ltoks FROM documents), " +
          "uni AS (SELECT tok, count(*) AS c1 FROM " +
          "(SELECT unnest(ltoks) AS tok FROM d) GROUP BY tok), " +
          "tv AS (SELECT CAST(sum(c1) AS BIGINT) AS t, count(*) AS v FROM uni), " +
          "bp AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(ltoks), 1)), " +
          "i -> struct_pack(prev := ltoks[i], tok := ltoks[i+1]))) AS p FROM d), " +
          "bg AS (SELECT doc_id, p.prev AS prev, p.tok AS tok FROM bp), " +
          "bi AS (SELECT prev, tok, count(*) AS c2 FROM bg GROUP BY prev, tok), " +
          "fs AS (SELECT f.doc_id, CAST(round(ln(CAST(coalesce(u.c1, 0)+1 AS DOUBLE)" +
          "/(t + v)) * 1000000.0, 0) AS BIGINT) AS lp6 " +
          "FROM (SELECT doc_id, ltoks[1] AS tok FROM d WHERE len(ltoks) > 0) f " +
          "LEFT JOIN uni u USING (tok), tv), " +
          "bs AS (SELECT bg.doc_id, CAST(round(ln(CAST(coalesce(bi.c2, 0)+1 AS DOUBLE)" +
          "/(coalesce(cp.c1, 0) + v)) * 1000000.0, 0) AS BIGINT) AS lp6 " +
          "FROM bg LEFT JOIN bi ON bg.prev = bi.prev AND bg.tok = bi.tok " +
          "LEFT JOIN uni cp ON cp.tok = bg.prev, tv), " +
          "s AS (SELECT doc_id, count(*) AS n_tokens, CAST(sum(lp6) AS BIGINT) AS slp " +
          "FROM (SELECT * FROM fs UNION ALL SELECT * FROM bs) GROUP BY doc_id) " +
          "SELECT d.doc_id, CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens, " +
          "coalesce(round(exp(-CAST(slp AS DOUBLE)/1000000.0/n_tokens), 6), 0.0) AS ppl " +
          "FROM d LEFT JOIN s ON d.doc_id = s.doc_id"),
      "q_text_mlm" -> {
        val cut = math.floor(0.15 * 2147483647.0).toLong
        "WITH d AS (SELECT doc_id, CASE WHEN text IS NULL OR length(trim(text)) = 0 " +
          "THEN [] ELSE string_split_regex(trim(text), '\\s+') END AS toks FROM documents) " +
          "SELECT doc_id, coalesce(array_to_string(list_transform(range(len(toks)), " +
          s"i -> CASE WHEN ((((doc_id % 2147483647) * 131 + i) % 2147483647) " +
          s"* 2654435761 + 42) % 2147483647 < $cut THEN '[MASK]' ELSE toks[i+1] END), ' '), '') " +
          "AS masked_text, " +
          "CAST(len(list_filter(range(len(toks)), " +
          s"i -> ((((doc_id % 2147483647) * 131 + i) % 2147483647) " +
          s"* 2654435761 + 42) % 2147483647 < $cut)) AS INT) AS n_masked FROM d"
      },
      "q_text_kl" ->
        ("WITH d AS (SELECT source, " + ltoksSql + " AS ltoks FROM documents), " +
          "tok AS (SELECT source AS g, unnest(ltoks) AS token FROM d), " +
          "grp AS (SELECT g, token, count(*) AS cg FROM tok GROUP BY g, token), " +
          "corpus AS (SELECT token, count(*) AS c FROM tok GROUP BY token), " +
          "tot AS (SELECT g, CAST(sum(cg) AS BIGINT) AS tg FROM grp GROUP BY g), " +
          "ct AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM corpus), " +
          // factors to DOUBLE before multiplying, mirroring the operator's
          // int64-overflow guard (DuckDB would promote to HUGEINT — exact —
          // while Spark wrapped; both sides now compute the same doubles)
          "w AS (SELECT grp.g AS g, tg, CAST(round(ln((CAST(cg AS DOUBLE) * CAST(t AS DOUBLE))" +
          "/(CAST(c AS DOUBLE) * CAST(tg AS DOUBLE))) " +
          "* 1000000000.0, 0) AS HUGEINT) * cg AS w9 " +
          "FROM grp JOIN corpus USING (token) JOIN tot USING (g), ct), " +
          "s AS (SELECT g, CAST(max(tg) AS BIGINT) AS n_tokens, sum(w9) AS sw " +
          "FROM w GROUP BY g) " +
          "SELECT g AS source, n_tokens, " +
          "round(CAST(sw AS DOUBLE)/1000000000.0/n_tokens, 6) + 0.0 AS kl FROM s"),
      "q_quality_lr" ->
        // one gradient step from w = 0: residual is exactly 1/2 − y; each
        // token routes it to bucket h mod 64, the appended 64 is the bias
        ("WITH d AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y, " +
          "CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN [] " +
          s"ELSE $tokHashListSql END AS th FROM documents), " +
          "tj AS (SELECT y, unnest(list_append(list_transform(th, h -> h % 64), 64)) AS j FROM d), " +
          "g AS (SELECT j, sum(0.5 - y) AS grad, count(*) AS cnt FROM tj GROUP BY j), " +
          "n AS (SELECT cnt AS n FROM g WHERE j = 64) " +
          "SELECT CAST(j AS INT) AS j, round(grad, 6) + 0.0 AS grad, " +
          "round(0.0 - 0.1 * grad / n, 6) + 0.0 AS w_next FROM g, n"),
      "q_search_bm25" -> s"WITH $bm25Ctes ${bm25Select(10)}",
      "q_search_hybrid" -> {
        val qvLit = HybridQueryVec.mkString("[", ",", "]")
        s"WITH $bm25Ctes, " +
          s"t0 AS (${bm25Select(50)}), " +
          "t AS (SELECT doc_id AS id, row_number() OVER " +
          "(ORDER BY score DESC, doc_id) AS rank_text FROM t0), " +
          s"e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv, CAST($qvLit AS DOUBLE[]) AS qv " +
          "FROM embeddings), " +
          s"v0 AS (SELECT vec_id AS id, round(${cosSql("cv", "qv")}, 6) AS vscore " +
          "FROM e ORDER BY vscore DESC, id LIMIT 50), " +
          "v AS (SELECT id, row_number() OVER (ORDER BY vscore DESC, id) AS rank_vec FROM v0) " +
          "SELECT id, round(coalesce(1.0/(60 + rank_text), 0.0) + " +
          "coalesce(1.0/(60 + rank_vec), 0.0), 6) AS rrf, " +
          "CAST(coalesce(rank_text, 0) AS INT) AS rank_text, " +
          "CAST(coalesce(rank_vec, 0) AS INT) AS rank_vec " +
          "FROM t FULL JOIN v USING (id) ORDER BY rrf DESC, id LIMIT 10"
      },
      "q_text_redact" ->
        ("WITH s AS (SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
          "'@mail.example.org from 10.0.' || CAST(doc_id % 200 AS VARCHAR) || " +
          "'.7 or +1 555-01' || CAST(doc_id % 90 + 10 AS VARCHAR) AS text FROM documents), " +
          "r AS (SELECT doc_id, text, regexp_replace(regexp_replace(regexp_replace(text, " +
          "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
          "'\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'), " +
          "'\\+?\\d[\\d\\- ]{7,}\\d', '<PHONE>', 'g') AS redacted FROM s) " +
          "SELECT doc_id, redacted, redacted <> text AS had_pii FROM r"),
      "q_dedup_exact" ->
        ("SELECT min(doc_id) AS keep_id, count(*) AS n_copies, " +
          "md5(lower(trim(text))) AS content_md5 FROM documents GROUP BY lower(trim(text))"),
      "q_dedup_keep_best" ->
        ("WITH d AS (SELECT doc_id, text, source FROM documents), " +
          "c AS (SELECT doc_id + 10000 AS doc_id, text, " +
          "CASE WHEN doc_id % 10 = 0 THEN 'src99' ELSE 'src00' END AS source " +
          "FROM d WHERE doc_id % 5 = 0), " +
          "a AS (SELECT * FROM d UNION ALL SELECT * FROM c), " +
          "s AS (SELECT doc_id, lower(trim(text)) AS nt, " +
          "CAST(substr(source, 4) AS INT) AS pr FROM a), " +
          "r AS (SELECT nt, doc_id, pr, count(*) OVER (PARTITION BY nt) AS n_copies, " +
          "row_number() OVER (PARTITION BY nt ORDER BY pr DESC, doc_id) AS rn FROM s) " +
          "SELECT doc_id AS keep_id, pr AS score, n_copies, md5(nt) AS content_md5 " +
          "FROM r WHERE rn = 1"),
      "q_dedup_exact_vec" ->
        ("SELECT min(vec_id) AS keep_id, count(*) AS n_copies FROM embeddings " +
          "GROUP BY embedding"),
      "q_dedup_ngram_jaccard" ->
        // inverted-index intersection counts (r20, the plantedPairCtes
        // rework applied to the source-blocked face): pairs sharing no
        // shingle can never reach jaccard >= 0.05 > 0, |union| =
        // sza + szb − inter exactly, same DOUBLE division + round
        (s"WITH sh AS MATERIALIZED (SELECT doc_id, source, $shingles AS sh FROM $ltoksFrom), " +
          "exd AS MATERIALIZED (SELECT doc_id, source, len(sh) AS sz, unnest(sh) AS h FROM sh), " +
          "p AS (SELECT blk, id_a, id_b, " +
          "round(CAST(inter AS DOUBLE) / (sza + szb - inter), 6) AS jaccard FROM " +
          "(SELECT a.source AS blk, a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS sza, " +
          "b.sz AS szb, count(*) AS inter FROM exd a JOIN exd b " +
          "ON a.source = b.source AND a.h = b.h AND a.doc_id < b.doc_id " +
          "GROUP BY 1, 2, 3, 4, 5)) " +
          "SELECT * FROM p WHERE jaccard >= 0.05"),
      "q_dedup_cosine" ->
        ("WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings), " +
          "p AS (SELECT a.label AS blk, a.vec_id AS id_a, b.vec_id AS id_b, " +
          s"round(${cosSql("a.v", "b.v")}, 6) AS cosine " +
          "FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id) " +
          "SELECT * FROM p WHERE cosine >= 0.3"),
      "q_dedup_cosine_lsh" -> {
        // the gate's 4 sign-planes, inlined from the SAME generator the
        // engine uses (seed 7, dim 64) — the oracle replays bucket
        // assignment bit by bit, then the in-bucket cosine verify
        val planes = Similarity.hyperplanes(4, 64)
        val bucket = planes.zipWithIndex.map { case (p, j) =>
          val lit = p.mkString("[", ",", "]")
          s"(CASE WHEN list_dot_product(v, $lit) > 0 THEN ${1 << j} ELSE 0 END)"
        }.mkString(" + ")
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings), " +
          s"b AS (SELECT vec_id, v, $bucket AS bucket FROM e), " +
          "p AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b, " +
          s"round(${cosSql("a.v", "c.v")}, 6) AS cosine " +
          "FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id) " +
          "SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.3"
      },
      "q_dedup_semantic" ->
        // the 1-step k-means assignment (same CTE as q_kmeans_assign) as
        // the blocking key, then exact cosine within each cluster
        ("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings), " +
          "c AS (SELECT vec_id AS center_id, v AS cv FROM e WHERE vec_id < 8), " +
          "s AS (SELECT e.vec_id, c.center_id, " +
          "sqrt(list_dot_product(list_transform(range(len(e.v)), i -> e.v[i+1]-c.cv[i+1]), " +
          "list_transform(range(len(e.v)), i -> e.v[i+1]-c.cv[i+1]))) AS dist " +
          "FROM e CROSS JOIN c), " +
          "a AS (SELECT vec_id, center_id AS cluster_id FROM " +
          "(SELECT vec_id, center_id, row_number() OVER (PARTITION BY vec_id " +
          "ORDER BY dist, center_id) AS rn FROM s) WHERE rn = 1), " +
          "p AS (SELECT a1.cluster_id, a1.vec_id AS id_a, a2.vec_id AS id_b, " +
          s"round(${cosSql("e1.v", "e2.v")}, 6) AS cosine " +
          "FROM a a1 JOIN a a2 ON a1.cluster_id = a2.cluster_id AND a1.vec_id < a2.vec_id " +
          "JOIN e e1 ON e1.vec_id = a1.vec_id JOIN e e2 ON e2.vec_id = a2.vec_id) " +
          "SELECT * FROM p WHERE cosine >= 0.3"),
      "q_dedup_semantic_pipeline" ->
        // reps = min id per identical vector; centers = 8 lowest REP ids
        ("WITH e AS (SELECT vec_id, embedding, CAST(embedding AS DOUBLE[]) v FROM embeddings), " +
          "reps AS (SELECT min(vec_id) AS vec_id FROM e GROUP BY embedding), " +
          "re AS (SELECT e.vec_id, e.v FROM e JOIN reps USING (vec_id)), " +
          "c AS (SELECT vec_id AS center_id, v AS cv FROM re ORDER BY vec_id LIMIT 8), " +
          "s AS (SELECT re.vec_id, c.center_id, " +
          "sqrt(list_dot_product(list_transform(range(len(re.v)), i -> re.v[i+1]-c.cv[i+1]), " +
          "list_transform(range(len(re.v)), i -> re.v[i+1]-c.cv[i+1]))) AS dist " +
          "FROM re CROSS JOIN c), " +
          "a AS (SELECT vec_id, center_id AS cluster_id FROM " +
          "(SELECT vec_id, center_id, row_number() OVER (PARTITION BY vec_id " +
          "ORDER BY dist, center_id) AS rn FROM s) WHERE rn = 1), " +
          "p AS (SELECT a2.vec_id AS id_b FROM a a1 JOIN a a2 ON " +
          "a1.cluster_id = a2.cluster_id AND a1.vec_id < a2.vec_id " +
          "JOIN re e1 ON e1.vec_id = a1.vec_id JOIN re e2 ON e2.vec_id = a2.vec_id " +
          s"WHERE round(${cosSql("e1.v", "e2.v")}, 6) >= 0.3) " +
          "SELECT vec_id FROM re WHERE vec_id NOT IN (SELECT id_b FROM p)"),
      "q_ann_topk" -> annExactSql,
      "q_ann_ivf" -> annExactSql,
      "q_ann_margin_mine" ->
        // both kNN passes over the even/odd split, micro-scaled top-k
        // averages, the margin ratio, argmax per source — the c6 ordering
        // is monotone with the Spark side's rounded-score ordering
        ("WITH s AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) v " +
          "FROM embeddings WHERE vec_id < 100 AND vec_id % 2 = 0), " +
          "t AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) v " +
          "FROM embeddings WHERE vec_id < 100 AND vec_id % 2 = 1), " +
          "stc AS (SELECT s.id AS src_id, t.id AS tgt_id, " +
          s"CAST(round(round(${cosSql("s.v", "t.v")}, 6) * 1000000) AS BIGINT) AS c6 " +
          "FROM s, t), " +
          "stk AS (SELECT *, row_number() OVER (PARTITION BY src_id " +
          "ORDER BY c6 DESC, tgt_id ASC) AS rn FROM stc), " +
          "st AS (SELECT * FROM stk WHERE rn <= 4), " +
          "tsk AS (SELECT *, row_number() OVER (PARTITION BY tgt_id " +
          "ORDER BY c6 DESC, src_id ASC) AS rn FROM stc), " +
          "ts AS (SELECT * FROM tsk WHERE rn <= 4), " +
          "a_s AS (SELECT src_id, CAST(sum(c6) AS DOUBLE)/count(*) AS avg_src " +
          "FROM st GROUP BY src_id), " +
          "a_t AS (SELECT tgt_id, CAST(sum(c6) AS DOUBLE)/count(*) AS avg_tgt " +
          "FROM ts GROUP BY tgt_id), " +
          "m AS (SELECT st.src_id, st.tgt_id, " +
          "round(CAST(st.c6 AS DOUBLE) / ((avg_src + avg_tgt)/2.0), 6) + 0.0 AS margin " +
          "FROM st JOIN a_s USING (src_id) JOIN a_t USING (tgt_id) " +
          "WHERE avg_src + avg_tgt > 0.0), " + // defined-margin guard, as in Spark
          "r AS (SELECT *, row_number() OVER (PARTITION BY src_id " +
          "ORDER BY margin DESC, tgt_id ASC) AS rn FROM m) " +
          "SELECT src_id, tgt_id, margin FROM r WHERE rn = 1"),
      "q_ann_margin_mine_ivf" ->
        // full IVF-tier replay on each side: cells = the 4 lowest-id
        // vectors of that corpus; candidate→cell by raw-cosine argmax
        // (tie → lowest cell, the Spark struct tie-break); each query
        // probes its 2 nearest cells; exact rounded-cosine top-4 within
        // the probed cells; then the margin over the lists with
        // count(*) denominators (short lists from probe misses divide
        // by their OWN length, per Artetxe & Schwenk)
        ("WITH se AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) v " +
          "FROM embeddings WHERE vec_id < 100 AND vec_id % 2 = 0), " +
          "te AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) v " +
          "FROM embeddings WHERE vec_id < 100 AND vec_id % 2 = 1), " +
          "ct AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cell, v AS cv " +
          "FROM (SELECT id, v FROM te ORDER BY id LIMIT 4)), " +
          "cs AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cell, v AS cv " +
          "FROM (SELECT id, v FROM se ORDER BY id LIMIT 4)), " +
          "at AS (SELECT te.id, cell FROM te CROSS JOIN ct " +
          s"QUALIFY row_number() OVER (PARTITION BY te.id ORDER BY ${cosSql("te.v", "cv")} DESC, cell ASC) = 1), " +
          "asg AS (SELECT se.id, cell FROM se CROSS JOIN cs " +
          s"QUALIFY row_number() OVER (PARTITION BY se.id ORDER BY ${cosSql("se.v", "cv")} DESC, cell ASC) = 1), " +
          "pt AS (SELECT se.id AS qid, cell FROM se CROSS JOIN ct " +
          s"QUALIFY row_number() OVER (PARTITION BY se.id ORDER BY ${cosSql("se.v", "cv")} DESC, cell ASC) <= 2), " +
          "ps AS (SELECT te.id AS qid, cell FROM te CROSS JOIN cs " +
          s"QUALIFY row_number() OVER (PARTITION BY te.id ORDER BY ${cosSql("te.v", "cv")} DESC, cell ASC) <= 2), " +
          "st AS (SELECT pt.qid AS src_id, at.id AS tgt_id, " +
          s"CAST(round(round(${cosSql("se.v", "te.v")}, 6) * 1000000) AS BIGINT) AS c6 " +
          "FROM pt JOIN at USING (cell) JOIN se ON se.id = pt.qid JOIN te ON te.id = at.id " +
          "QUALIFY row_number() OVER (PARTITION BY pt.qid ORDER BY c6 DESC, at.id ASC) <= 4), " +
          "ts AS (SELECT ps.qid AS tgt_id, asg.id AS src_id, " +
          s"CAST(round(round(${cosSql("te.v", "se.v")}, 6) * 1000000) AS BIGINT) AS c6 " +
          "FROM ps JOIN asg USING (cell) JOIN te ON te.id = ps.qid JOIN se ON se.id = asg.id " +
          "QUALIFY row_number() OVER (PARTITION BY ps.qid ORDER BY c6 DESC, asg.id ASC) <= 4), " +
          "a_s AS (SELECT src_id, CAST(sum(c6) AS DOUBLE)/count(*) AS avg_src " +
          "FROM st GROUP BY src_id), " +
          "a_t AS (SELECT tgt_id, CAST(sum(c6) AS DOUBLE)/count(*) AS avg_tgt " +
          "FROM ts GROUP BY tgt_id), " +
          "m AS (SELECT st.src_id, st.tgt_id, " +
          "round(CAST(st.c6 AS DOUBLE) / ((avg_src + avg_tgt)/2.0), 6) + 0.0 AS margin " +
          "FROM st JOIN a_s USING (src_id) JOIN a_t USING (tgt_id) " +
          "WHERE avg_src + avg_tgt > 0.0), " +
          "r AS (SELECT *, row_number() OVER (PARTITION BY src_id " +
          "ORDER BY margin DESC, tgt_id ASC) AS rn FROM m) " +
          "SELECT src_id, tgt_id, margin FROM r WHERE rn = 1"),
      "q_ann_mmr" ->
        // the greedy selection as a recursive CTE: `sel` carries (ids,
        // integer mmr scores, unit vectors) per query; each step joins the
        // remaining shortlist, scores 700·rel₆ − 300·pen₆ on the integer
        // grid (pen₆ = 1e-6-rounded max dot against the selected set), and
        // QUALIFY row_number()=1 is the argmax with the (mmr, rel, id)
        // tie-break — bit-exact across engines by integer arithmetic
        ("WITH RECURSIVE " +
          "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
          "q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3), " +
          "sc AS (SELECT query_id, e.vec_id AS cand_id, " +
          s"CAST(round(round(${cosSql("e.v", "qv")}, 6) * 1000000) AS BIGINT) AS rel6, " +
          "list_transform(e.v, x -> x / sqrt(list_dot_product(e.v, e.v))) AS u " +
          "FROM e JOIN q ON e.vec_id <> q.query_id), " +
          "cand AS (SELECT * FROM sc QUALIFY row_number() OVER " +
          "(PARTITION BY query_id ORDER BY rel6 DESC, cand_id) <= 20), " +
          "sel AS ((SELECT query_id, 1 AS step, [cand_id] AS ids, " +
          "[700 * rel6] AS scores, [u] AS vecs FROM cand " +
          "QUALIFY row_number() OVER (PARTITION BY query_id " +
          "ORDER BY rel6 DESC, cand_id) = 1) " +
          "UNION ALL " +
          "(SELECT s.query_id, s.step + 1, list_append(s.ids, c.cand_id), " +
          "list_append(s.scores, 700 * c.rel6 - 300 * " +
          "CAST(round((SELECT max(list_dot_product(c.u, sv)) " +
          "FROM unnest(s.vecs) AS t(sv)) * 1000000) AS BIGINT)), " +
          "list_append(s.vecs, c.u) " +
          "FROM sel s JOIN cand c ON s.query_id = c.query_id " +
          "WHERE s.step < 5 AND NOT list_contains(s.ids, c.cand_id) " +
          "QUALIFY row_number() OVER (PARTITION BY s.query_id ORDER BY " +
          "700 * c.rel6 - 300 * CAST(round((SELECT max(list_dot_product(c.u, sv)) " +
          "FROM unnest(s.vecs) AS t(sv)) * 1000000) AS BIGINT) DESC, " +
          "c.rel6 DESC, c.cand_id) = 1)) " +
          "SELECT query_id, unnest(ids) AS cand_id, " +
          "unnest(list_transform(scores, s -> s / 1000000000.0)) AS mmr_score, " +
          "CAST(unnest(range(1, len(ids) + 1)) AS INT) AS rk FROM sel WHERE step = 5"),
      "q_ann_diverse" ->
        ("WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) qv " +
          "FROM embeddings WHERE vec_id < 3), " +
          "c AS (SELECT vec_id AS cand_id, label AS grp, " +
          "CAST(embedding AS DOUBLE[]) cv FROM embeddings), " +
          s"s AS (SELECT query_id, cand_id, grp, round(${cosSql("qv", "cv")}, 6) + 0.0 AS score " +
          "FROM q JOIN c ON cand_id <> query_id), " +
          "g AS (SELECT *, row_number() OVER (PARTITION BY query_id, grp " +
          "ORDER BY score DESC, cand_id ASC) AS gk FROM s) " +
          "SELECT query_id, cand_id, grp, score, CAST(rn AS INT) AS rk FROM " +
          "(SELECT query_id, cand_id, grp, score, row_number() OVER " +
          "(PARTITION BY query_id ORDER BY score DESC, cand_id ASC) AS rn " +
          "FROM g WHERE gk <= 2) WHERE rn <= 10"),
      "q_ann_lsh" -> annExactSql,
      "q_dedup_minhash_planted" ->
        (s"WITH $plantedPairCtes SELECT id_a, id_b FROM p WHERE j >= 0.8"),
      "q_dedup_minhash_portable" -> {
        // the permutation constants come from the SAME Scala source the
        // Spark kernel uses — interpolated as literals, they cannot drift
        // (sigGroupByCtes interpolates them). MATERIALIZED on every
        // multi-referenced CTE: DuckDB inlines plain CTEs per reference,
        // so `bb a JOIN bb b` re-ran the whole signature pipeline twice
        // and the verify legs re-ran the shingle pass again (r20: 4.7 s →
        // 0.2 s at sf0.01, identical rows).
        "WITH d AS (SELECT doc_id, " + ltoksSql + " AS ltoks FROM documents), " +
          "sh0 AS (SELECT doc_id, list_sort(list_distinct(list_transform(" +
          "generate_series(1, greatest(len(ltoks)-2, 0)), i -> " +
          strHashSql("(ltoks[i] || ' ' || ltoks[i+1] || ' ' || ltoks[i+2])") +
          "))) AS sh FROM d), " +
          "nz AS MATERIALIZED (SELECT * FROM sh0 WHERE len(sh) > 0), " +
          sigGroupByCtes(16) + ", " +
          "bn AS (SELECT doc_id, unnest(list_transform(range(0, 4), b -> struct_pack(band := b, " +
          "key := list_reduce(list_prepend(CAST(0 AS BIGINT), sig[b*4+1 : b*4+4] || [b]), " +
          "(a, x) -> (a*131 + x) % 2147483647)))) AS s FROM sg), " +
          "bands AS MATERIALIZED (SELECT doc_id, s.band AS band, s.key AS key FROM bn), " +
          "g AS (SELECT band, key FROM bands GROUP BY band, key HAVING count(*) <= 1000), " +
          "bb AS MATERIALIZED (SELECT bands.doc_id, bands.band, bands.key FROM bands JOIN g USING (band, key)), " +
          "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b " +
          "FROM bb a JOIN bb b USING (band, key) WHERE a.doc_id < b.doc_id), " +
          "v AS (SELECT id_a, id_b, round(CASE WHEN len(list_distinct(a.sh || b.sh)) = 0 THEN 0.0 " +
          "ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)/len(list_distinct(a.sh || b.sh)) END, 6) " +
          "AS jaccard FROM cand JOIN nz a ON a.doc_id = cand.id_a JOIN nz b ON b.doc_id = cand.id_b) " +
          "SELECT id_a, id_b, jaccard FROM v WHERE jaccard >= 0.3"
      },
      "q_dedup_prefix" ->
        // the prefix-filter join replayed stage by stage: portable shingle
        // hashes → global df → rarest-first rank → prefix slice → candidate
        // join with the length filter → exact Jaccard verify. Identical
        // double epsilons on both sides, so borderline pairs agree too.
        ("WITH d AS (SELECT doc_id, " + ltoksSql + " AS ltoks FROM documents), " +
          "sh0 AS (SELECT doc_id, list_sort(list_distinct(list_transform(" +
          "generate_series(1, greatest(len(ltoks)-2, 0)), i -> " +
          strHashSql("(ltoks[i] || ' ' || ltoks[i+1] || ' ' || ltoks[i+2])") +
          "))) AS sh FROM d), " +
          "nz AS MATERIALIZED (SELECT doc_id, sh FROM sh0 WHERE len(sh) > 0), " +
          "ex AS MATERIALIZED (SELECT doc_id, len(sh) AS sz, unnest(sh) AS h FROM nz), " +
          "dfq AS (SELECT h, count(*) AS df FROM ex GROUP BY h), " +
          "rk AS (SELECT doc_id, sz, h, row_number() OVER (PARTITION BY doc_id " +
          "ORDER BY df, h) AS rn FROM ex JOIN dfq USING (h)), " +
          "pf AS MATERIALIZED (SELECT doc_id, sz, h FROM rk WHERE rn <= sz - ceil(sz * 0.4 - 1.0E-9) + 1), " +
          "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b " +
          "FROM pf a JOIN pf b ON a.h = b.h AND a.doc_id < b.doc_id " +
          "AND least(a.sz, b.sz) >= greatest(a.sz, b.sz) * 0.4 - 1.0E-9), " +
          // threshold on the UNROUNDED jaccard like the engine; round only
          // the emitted column
          "v AS (SELECT id_a, id_b, CASE WHEN len(list_distinct(a.sh || b.sh)) = 0 " +
          "THEN 0.0 ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)" +
          "/len(list_distinct(a.sh || b.sh)) END AS j " +
          "FROM cand JOIN nz a ON a.doc_id = cand.id_a JOIN nz b ON b.doc_id = cand.id_b) " +
          "SELECT id_a, id_b, round(j, 6) AS jaccard FROM v WHERE j >= 0.4"),
      "q_dedup_span_rewrite" ->
        // rebuild toks mirror the operator: split then drop empty tokens
        // (= Java-trim semantics), so indices align with the fingerprint
        // windows even under leading/trailing non-space whitespace
        ("WITH d AS (SELECT doc_id, text, " +
          "CASE WHEN text IS NULL THEN [] " +
          "ELSE list_filter(string_split_regex(text, '\\s+'), t -> t <> '') END AS toks, " +
          ltoksSql + " AS ltoks FROM documents), " +
          s"th AS (SELECT doc_id, text, toks, list_transform(ltoks, t -> ${tokHashSql("t")}) AS th FROM d), " +
          "w AS (SELECT doc_id, text, toks, list_transform(range(0, CASE WHEN len(th) >= 16 " +
          "THEN (len(th)-16)//16 + 1 ELSE 0 END), j -> " +
          "list_reduce(list_prepend(CAST(0 AS BIGINT), th[j*16+1 : j*16+16]), " +
          "(a, x) -> (a*131 + x) % 2147483647)) AS wh FROM th), " +
          "e AS (SELECT doc_id, unnest(wh) AS h, unnest(range(0, len(wh))) AS j FROM w), " +
          "cnt AS (SELECT h, count(*) AS n FROM e GROUP BY h), " +
          "canon AS (SELECT h, doc_id AS ci, j AS cj FROM (SELECT *, row_number() OVER " +
          "(PARTITION BY h ORDER BY doc_id, j) AS rn FROM e) WHERE rn = 1), " +
          "dr AS (SELECT e.doc_id, list(e.j) AS dj FROM e JOIN cnt USING (h) JOIN canon USING (h) " +
          "WHERE cnt.n >= 2 AND NOT (e.doc_id = canon.ci AND e.j = canon.cj) GROUP BY e.doc_id) " +
          // coalesce: DuckDB's array_to_string of an EMPTY list is NULL,
          // but a fully-cut doc must become '' (what Spark's array_join emits)
          "SELECT w.doc_id, CASE WHEN dj IS NULL THEN w.text ELSE " +
          "coalesce(array_to_string(list_filter(list_transform(range(len(toks)), " +
          "i -> CASE WHEN NOT list_contains(dj, i//16) THEN toks[i+1] END), " +
          "x -> x IS NOT NULL), ' '), '') END AS new_text, " +
          "CAST(coalesce(len(dj), 0) AS INT) AS n_dropped " +
          "FROM w LEFT JOIN dr ON w.doc_id = dr.doc_id"),
      "q_dedup_spans" ->
        ("WITH d AS (SELECT doc_id, " + ltoksSql + " AS ltoks FROM documents), " +
          s"th AS (SELECT doc_id, list_transform(ltoks, t -> ${tokHashSql("t")}) AS th FROM d), " +
          "w AS (SELECT doc_id, list_transform(range(0, CASE WHEN len(th) >= 16 " +
          "THEN (len(th)-16)//8 + 1 ELSE 0 END), j -> " +
          "list_reduce(list_prepend(CAST(0 AS BIGINT), th[j*8+1 : j*8+16]), " +
          "(a, x) -> (a*131 + x) % 2147483647)) AS wh FROM th), " +
          "e AS (SELECT doc_id, unnest(wh) AS h FROM w), " +
          "c AS (SELECT h, count(*) AS n FROM e GROUP BY h), " +
          "dup AS (SELECT e.doc_id, count(*) AS n_dup FROM e JOIN c USING (h) " +
          "WHERE c.n >= 2 GROUP BY e.doc_id) " +
          "SELECT w.doc_id, CAST(len(wh) AS BIGINT) AS n_windows, " +
          "CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup_windows, " +
          "round(CASE WHEN len(wh) = 0 THEN 0.0 ELSE CAST(coalesce(n_dup, 0) AS DOUBLE)/len(wh) END, 6) " +
          "AS dup_frac FROM w LEFT JOIN dup ON w.doc_id = dup.doc_id"),
      "q_dedup_minhash_oph" ->
        (s"WITH $plantedPairCtes SELECT id_a, id_b FROM p WHERE j >= 0.8"),
      // full staged pipeline replayed in SQL: exact-collapse to
      // representatives, exact-Jaccard pairs among them, recursive-CTE
      // connected components, keep comp-min or unpaired representatives
      "q_dedup_pipeline" ->
        // exact-collapse reps → inverted-index exact-Jaccard pairs →
        // unrolled min-label components (same r20 rework as
        // plantedPairCtes/ccUnrolledCtes: the pairwise list_intersect join
        // + recursive reach cost ~8 s at sf0.01, this is 0.05 s, same rows)
        ("WITH reps AS MATERIALIZED (SELECT min(doc_id) AS doc_id FROM documents " +
          "WHERE doc_id < 200 GROUP BY lower(trim(text))), " +
          "d AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ltoks " +
          "FROM documents WHERE doc_id IN (SELECT doc_id FROM reps)), " +
          s"sh AS MATERIALIZED (SELECT doc_id, $shingles AS sh FROM d), " +
          "exd AS MATERIALIZED (SELECT doc_id, len(sh) AS sz, unnest(sh) AS h FROM sh), " +
          "iv AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS sza, b.sz AS szb, " +
          "count(*) AS inter FROM exd a JOIN exd b ON a.h = b.h AND a.doc_id < b.doc_id " +
          "GROUP BY 1, 2, 3, 4), " +
          "p AS MATERIALIZED (SELECT id_a, id_b FROM iv " +
          "WHERE round(CAST(inter AS DOUBLE) / (sza + szb - inter), 6) >= 0.8), " +
          "e AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM p " +
          "UNION SELECT id_b, id_a FROM p), " +
          ccUnrolledCtes("e") + " " +
          "SELECT doc_id, lang, source FROM documents " +
          "WHERE doc_id IN (SELECT doc_id FROM reps) " +
          "AND (doc_id NOT IN (SELECT id FROM c) " +
          "OR EXISTS (SELECT 1 FROM c WHERE c.id = doc_id AND c.comp = doc_id))"),
      "q_dedup_clusters" ->
        (s"WITH $plantedPairCtes, " +
          "e AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM p WHERE j >= 0.8 " +
          "UNION SELECT id_b, id_a FROM p WHERE j >= 0.8), " +
          ccUnrolledCtes("e") + " " +
          "SELECT comp, count(*) AS n_members FROM c GROUP BY comp HAVING count(*) >= 2"),
      "q_sample_stratified" ->
        ("SELECT doc_id, lang FROM documents WHERE " +
          "((doc_id % 2147483647) * 2654435761 + 42) % 2147483647 < " +
          "CAST(floor((CASE lang WHEN 'en' THEN 0.8 WHEN 'de' THEN 0.5 " +
          "WHEN 'fr' THEN 0.1 ELSE 0.0 END) * 2147483647.0) AS BIGINT)"),
      "q_sample_k_per_group" ->
        ("SELECT doc_id, lang FROM (SELECT doc_id, lang, row_number() OVER " +
          "(PARTITION BY lang ORDER BY ((doc_id % 2147483647) * 2654435761 + 42) " +
          "% 2147483647, doc_id) AS rk FROM documents) WHERE rk <= 30"),
      "q_sessionize" ->
        ("WITH e AS (SELECT user_id, event_id, value, ts, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events), " +
          "w AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM e), " +
          "s AS (SELECT *, sum(CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END) " +
          "OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id FROM w) " +
          "SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events, " +
          "round(sum(CAST(round(value * 1000000) AS BIGINT)) / 1000000.0, 2) AS session_value, " +
          "max(us) - min(us) AS duration_us FROM s GROUP BY user_id, session_id"),
      "q_resample_ffill" ->
        // identical grid: floor(us / 6h), last-by-(ts,id) per bucket,
        // per-key dense spine, IGNORE NULLS carry-forward
        ("WITH e AS (SELECT user_id, event_id, value, " +
          "epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events " +
          // value IS NOT NULL mirrors the engine: a null value is a
          // non-observation, never a bucket-winning observation of null
          "WHERE user_id % 50 = 0 AND user_id IS NOT NULL AND ts IS NOT NULL " +
          "AND value IS NOT NULL), " +
          "b AS (SELECT *, CAST(floor(us / 21600000000.0) AS BIGINT) AS bk FROM e), " +
          "lastv AS (SELECT user_id, bk, value AS v FROM " +
          "(SELECT *, row_number() OVER (PARTITION BY user_id, bk " +
          "ORDER BY us DESC, event_id DESC) AS rn FROM b) WHERE rn = 1), " +
          "span AS (SELECT user_id, min(bk) AS b0, max(bk) AS b1 FROM lastv GROUP BY user_id), " +
          "spine AS (SELECT user_id, unnest(range(b0, b1 + 1)) AS bk FROM span), " +
          "j AS (SELECT spine.user_id, spine.bk, lastv.v FROM spine " +
          "LEFT JOIN lastv ON spine.user_id = lastv.user_id AND spine.bk = lastv.bk) " +
          "SELECT user_id, bk * 21600000000 AS bucket_start_us, " +
          "last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bk " +
          "ROWS UNBOUNDED PRECEDING) AS value, v IS NOT NULL AS observed FROM j"),
      "q_session_transcripts" ->
        ("WITH e AS (SELECT user_id, event_id, event_type, ts, " +
          "epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events), " +
          "w AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM e), " +
          "s AS (SELECT *, sum(CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END) " +
          "OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id FROM w) " +
          "SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events, " +
          // coalesce mirrors the operator: null event types appear as
          // '(null)' entries, never silently shortening the transcript
          "string_agg(coalesce(event_type, '(null)'), ' -> ' ORDER BY us, event_id) AS transcript " +
          "FROM s GROUP BY user_id, session_id"),
      "q_session_window" ->
        ("WITH e AS (SELECT user_id, event_id, value, ts, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events), " +
          "w AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM e), " +
          "s AS (SELECT *, sum(CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END) " +
          "OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM w) " +
          "SELECT user_id, min(us) AS session_start_us, count(*) AS n_events, " +
          "round(sum(CAST(round(value * 1000000) AS BIGINT)) / 1000000.0, 2) AS session_value FROM s GROUP BY user_id, sid"),
      "q_funnel" ->
        ("WITH e AS (SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events), " +
          "u AS (SELECT DISTINCT user_id FROM e), " +
          "s1 AS (SELECT user_id, min(us) AS stage_1_us FROM e WHERE event_type = 'signup' GROUP BY user_id), " +
          "s2 AS (SELECT e.user_id, min(us) AS stage_2_us FROM e JOIN s1 USING (user_id) " +
          "WHERE event_type = 'click' AND us > stage_1_us GROUP BY e.user_id), " +
          "s3 AS (SELECT e.user_id, min(us) AS stage_3_us FROM e JOIN s2 USING (user_id) " +
          "WHERE event_type = 'purchase' AND us > stage_2_us GROUP BY e.user_id) " +
          "SELECT u.user_id, stage_1_us, stage_2_us, stage_3_us, " +
          "(CASE WHEN stage_1_us IS NULL THEN 0 ELSE 1 END + " +
          "CASE WHEN stage_2_us IS NULL THEN 0 ELSE 1 END + " +
          "CASE WHEN stage_3_us IS NULL THEN 0 ELSE 1 END) AS funnel_depth " +
          "FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id) " +
          "LEFT JOIN s3 USING (user_id)"),
      "q_mm_meta" ->
        ("SELECT doc_id AS media_id, 'text/plain' AS mime, " +
          "CAST(octet_length(encode(text)) AS BIGINT) AS byte_len, sha256(text) AS sha256 " +
          "FROM documents"),
      // replays Multimodal.syntheticPng's closed-form pixel math: with
      // e = rasterSeed(id) (the %17 twin plant), gray g(x,y) =
      // (e*31 + x*(7+e%11) + y*(13+(e/11)%13) + x*y*((e/143)%7)) % 256
      // in all 3 channels of an
      // 8/16-square PNG. lum_sum = 3·Σg (integer-exact); aHash bit
      // j = (y*8//h)*8 + (x*8//w) set iff blockSum·w·h > totalSum·blockPix
      // (the same exact rational compare the codec makes — the factor 3
      // cancels). A real ImageIO decode MUST reproduce these: PNG is
      // lossless.
      "q_mm_features" ->
        (mmImageCtes +
          " SELECT t.media_id, CAST(t.w AS INT) AS width, CAST(t.h AS INT) AS height, " +
          "3 AS channels, CAST(3 * t.ts AS BIGINT) AS lum_sum, h.ahash_bits " +
          "FROM tot t JOIN hsh h USING (media_id)"),
      // image near-dup pairs by exact aHash block: the 64-bit fingerprint
      // derived from REAL decoded pixels must collide exactly where the
      // closed-form math says it does
      "q_mm_ahash_dedup" ->
        (mmImageCtes +
          " SELECT a.media_id AS media_a, b.media_id AS media_b, a.ahash_bits " +
          "FROM hsh a JOIN hsh b ON a.ahash_bits = b.ahash_bits " +
          "AND a.media_id < b.media_id"),
      // banded Hamming near-dup: replays the engine's 4x16-bit bands
      // (bit j of the hash = char j of the bit string, band = j // 16),
      // candidate join per band, full Hamming verify <= 3 on candidates
      "q_mm_ahash_neardup" -> aHashNearDupSql(maxBucket = None),
      // the GUARDED variant: band buckets holding more than
      // AHashGateMaxBucket members are excluded from candidate generation
      // (the skew guard's exclusion, replayed as a HAVING over the same
      // band key via the SHARED builder — the bound is one constant, so
      // the Spark gate and its twin cannot drift)
      "q_mm_ahash_neardup_guarded" ->
        aHashNearDupSql(maxBucket = Some(AHashGateMaxBucket)),
      // replays Multimodal.syntheticWav's closed-form sample math:
      // s[k] = ((id*131 + k*17) % 65536) - 32768 over n = 64 + id%64
      // samples; zero crossings via lag (null first-row product never
      // counts, matching the codec's strict s[k-1]*s[k] < 0)
      "q_mm_audio" ->
        ("WITH d AS (SELECT doc_id AS media_id, 64 + doc_id % 64 AS n FROM documents), " +
          "sm AS (SELECT media_id, n, k, ((media_id * 131 + k * 17) % 65536) - 32768 AS s " +
          "FROM d CROSS JOIN range(0, 128) rk(k) WHERE k < n), " +
          "agg AS (SELECT media_id, min(n) AS n, sum(abs(s)) AS abs_sum, " +
          "sum(s * s) AS sq_sum FROM sm GROUP BY media_id), " +
          "zc AS (SELECT media_id, count(*) FILTER (WHERE prev * s < 0) AS zero_crossings " +
          "FROM (SELECT media_id, s, lag(s) OVER (PARTITION BY media_id ORDER BY k) AS prev " +
          "FROM sm) GROUP BY media_id) " +
          "SELECT a.media_id, 8000 AS sample_rate, 1 AS channels, " +
          "CAST(a.n AS INT) AS n_samples, CAST(abs_sum AS BIGINT) AS abs_sum, " +
          "CAST(sq_sum AS BIGINT) AS sq_sum, " +
          "CAST(coalesce(zero_crossings, 0) AS INT) AS zero_crossings " +
          "FROM agg a LEFT JOIN zc USING (media_id)"),
      // replays Multimodal.syntheticMp4's closed-form box fields: a real
      // ISO-BMFF parser must read them back exactly
      "q_mm_video" ->
        ("SELECT doc_id AS media_id, 'isom' AS brand, " +
          "CAST(1000 + doc_id % 9000 AS BIGINT) AS duration_ms, " +
          "CAST(1 + doc_id % 2 AS INT) AS n_tracks, " +
          "CAST(16 * (1 + doc_id % 4) AS INT) AS width, " +
          "CAST(16 * (1 + (doc_id // 4) % 4) AS INT) AS height " +
          "FROM documents"),
      // n_frames = parsed duration at 24 fps; sequence(0, n-1, 24) —
      // DuckDB range() is stop-exclusive, so range(0, n, 24) enumerates
      // the same indices
      "q_mm_frames" ->
        ("WITH m AS (SELECT doc_id AS media_id, " +
          "(1000 + doc_id % 9000) * 24 // 1000 AS n FROM documents) " +
          "SELECT media_id, CAST(n AS INT) AS n_frames, " +
          "array_to_string(range(0, n, 24), ',') AS sampled_frames_str FROM m"),
      "q_decontaminate" ->
        // totals come from the eval DOCS, not the exploded shingles: a
        // zero-shingle eval doc must still report (n_shingles 0,
        // containment 0.0) — one row per eval doc, same as the operator
        (s"WITH base AS (SELECT doc_id, $shingles AS sh FROM " +
          "(SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ltoks FROM documents)), " +
          "tsh AS (SELECT DISTINCT unnest(sh) AS s FROM base WHERE doc_id >= 20), " +
          "esh AS (SELECT doc_id, unnest(sh) AS s FROM base WHERE doc_id < 20), " +
          "tot AS (SELECT doc_id, CAST(coalesce(len(sh), 0) AS BIGINT) AS n_shingles " +
          "FROM base WHERE doc_id < 20), " +
          "shr AS (SELECT e.doc_id, count(*) AS n_shared FROM esh e " +
          "WHERE EXISTS (SELECT 1 FROM tsh t WHERE t.s = e.s) GROUP BY e.doc_id) " +
          "SELECT t.doc_id, n_shingles, coalesce(n_shared, 0) AS n_shared, " +
          "CASE WHEN n_shingles = 0 THEN 0.0 ELSE " +
          "round(CAST(coalesce(n_shared, 0) AS DOUBLE) / n_shingles, 6) END AS containment, " +
          "CASE WHEN n_shingles = 0 THEN 0.0 ELSE " +
          "round(CAST(coalesce(n_shared, 0) AS DOUBLE) / n_shingles, 6) END >= 0.5 AS contaminated " +
          "FROM tot t LEFT JOIN shr ON t.doc_id = shr.doc_id"),
      "q_decontaminate_semantic" ->
        ("WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings WHERE vec_id % 20 <> 0), " +
          "e AS (SELECT vec_id AS eid, CAST(embedding AS DOUBLE[]) v FROM embeddings WHERE vec_id % 20 = 0), " +
          s"p AS (SELECT t.vec_id, e.eid, round(${cosSql("t.v", "e.v")}, 6) AS c FROM t CROSS JOIN e), " +
          "r AS (SELECT vec_id, c, eid, row_number() OVER " +
          "(PARTITION BY vec_id ORDER BY c DESC, eid ASC) AS rn FROM p) " +
          "SELECT vec_id, c AS max_cosine, eid AS nearest_eval_id, " +
          "c >= 0.5 AS contaminated FROM r WHERE rn = 1"),
      "q_decontaminate_semantic_lsh" -> {
        // the gate's multi-seed DEFAULT: one 4-plane set per derived seed
        // (recallSeeds(0.5, 4) = seeds 7/8/9), each inlined from the SAME
        // generator the engine uses (dim 64); the oracle replays every
        // bucketing, unions the collision sets, and runs the argmax
        // tie-break bit by bit
        val passes = Similarity.recallSeeds(0.5, 4).zipWithIndex.map { case (seed, k) =>
          val bucket = Similarity.hyperplanes(4, 64, seed).zipWithIndex.map { case (p, j) =>
            val lit = p.mkString("[", ",", "]")
            s"(CASE WHEN list_dot_product(v, $lit) > 0 THEN ${1 << j} ELSE 0 END)"
          }.mkString(" + ")
          (s"tb$k AS (SELECT vec_id, v, $bucket AS bkt FROM t), " +
            s"eb$k AS (SELECT eid, v, $bucket AS bkt FROM e), " +
            s"p$k AS (SELECT tb$k.vec_id, eb$k.eid, " +
            s"round(${cosSql(s"tb$k.v", s"eb$k.v")}, 6) AS c " +
            s"FROM tb$k JOIN eb$k ON tb$k.bkt = eb$k.bkt)",
            s"SELECT * FROM p$k")
        }
        "WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings WHERE vec_id % 20 <> 0), " +
          "e AS (SELECT vec_id AS eid, CAST(embedding AS DOUBLE[]) v FROM embeddings WHERE vec_id % 20 = 0), " +
          passes.map(_._1).mkString(", ") + ", " +
          s"p AS (${passes.map(_._2).mkString(" UNION ")}), " +
          "r AS (SELECT vec_id, c, eid, row_number() OVER " +
          "(PARTITION BY vec_id ORDER BY c DESC, eid ASC) AS rn FROM p) " +
          "SELECT vec_id, c AS max_cosine, eid AS nearest_eval_id, " +
          "c >= 0.5 AS contaminated FROM r WHERE rn = 1"
      },
      "q_dedup_cosine_lsh_ms" -> {
        // the pairs face of the multi-seed default: recallSeeds(0.3, 4) =
        // seeds 7/8/9, union-distinct over the per-seed bucket joins
        // (cosine is pair-determined, so UNION is the pair dedup)
        val passes = Similarity.recallSeeds(0.3, 4).zipWithIndex.map { case (seed, k) =>
          val bucket = Similarity.hyperplanes(4, 64, seed).zipWithIndex.map { case (p, j) =>
            val lit = p.mkString("[", ",", "]")
            s"(CASE WHEN list_dot_product(v, $lit) > 0 THEN ${1 << j} ELSE 0 END)"
          }.mkString(" + ")
          (s"b$k AS (SELECT vec_id, v, $bucket AS bucket FROM e), " +
            s"p$k AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b, " +
            s"round(${cosSql("a.v", "c.v")}, 6) AS cosine " +
            s"FROM b$k a JOIN b$k c ON a.bucket = c.bucket AND a.vec_id < c.vec_id " +
            "WHERE " + s"round(${cosSql("a.v", "c.v")}, 6) >= 0.3)",
            s"SELECT * FROM p$k")
        }
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings), " +
          passes.map(_._1).mkString(", ") + " " +
          passes.map(_._2).mkString(" UNION ")
      },
      "q_wds_roundtrip" ->
        // shard = portable codepoint fold of the decimal key mod 8;
        // byte_len = UTF-8 byte length (DuckDB strlen is byte-counting)
        ("SELECT CAST(doc_id AS VARCHAR) AS key, " +
          s"'shard-' || lpad(CAST(${strHashSql("CAST(doc_id AS VARCHAR)")} % 8 AS VARCHAR), 5, '0') " +
          "|| '.tar' AS shard, 'txt' AS ext, " +
          "CAST(strlen(text) AS BIGINT) AS byte_len " +
          "FROM documents WHERE text IS NOT NULL"),
      "q_pack_sequences" ->
        // same portable shard hash + per-shard running sum; CAST the window
        // sum (DuckDB sums BIGINT into HUGEINT) and use // for int division
        ("WITH t AS (SELECT doc_id, " +
          "((doc_id % 2147483647) * 2654435761 + 42) % 2147483647 % 8 AS shard, " +
          s"CAST($ntok AS BIGINT) AS n_tokens FROM documents), " +
          "s AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id, n_tokens " +
          "ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS start_tok FROM t) " +
          "SELECT doc_id, shard, n_tokens, start_tok // 512 AS seq_id, " +
          "start_tok % 512 AS token_offset, " +
          "(start_tok % 512) + n_tokens > 512 AS spans_boundary FROM s"),
      "q_pack_stats" ->
        ("WITH t AS (SELECT doc_id, " +
          "((doc_id % 2147483647) * 2654435761 + 42) % 2147483647 % 8 AS shard, " +
          s"CAST($ntok AS BIGINT) AS n_tokens FROM documents), " +
          "s AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id, n_tokens " +
          "ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS start_tok FROM t), " +
          "p AS (SELECT shard, start_tok // 512 AS seq_id, n_tokens, " +
          "start_tok % 512 AS token_offset FROM s) " +
          "SELECT shard, seq_id, count(*) AS n_docs_starting, " +
          "least(CAST(max(token_offset + n_tokens) AS BIGINT), 512) AS filled_to " +
          "FROM p GROUP BY shard, seq_id"),
      "q_mix_sources" ->
        // binding source kept whole, others hash-downsampled: identical
        // double math (w*total/n, floor(rate*P)) and the portable bucket
        ("WITH w(source, wt) AS (SELECT * FROM (VALUES " +
          "('src0', CAST(0.5 AS DOUBLE)), ('src1', CAST(0.3 AS DOUBLE)), " +
          "('src2', CAST(0.2 AS DOUBLE)))), " +
          "c AS (SELECT d.source, CAST(count(*) AS DOUBLE) AS n, w.wt " +
          "FROM documents d JOIN w ON d.source = w.source GROUP BY d.source, w.wt), " +
          "t AS (SELECT min(n / wt) AS total FROM c), " +
          "r AS (SELECT source, least(CAST(1.0 AS DOUBLE), wt * total / n) AS rate FROM c, t) " +
          "SELECT d.doc_id, d.source FROM documents d JOIN r ON d.source = r.source " +
          "WHERE ((d.doc_id % 2147483647) * 2654435761 + 42) % 2147483647 < " +
          "CAST(floor(rate * 2147483647.0) AS BIGINT)"),
      "q_mix_token_budget" ->
        // per-source token budgets (floor(share*3000)), 16 portable-hash
        // buckets, prefix-cumsum cutoff — membership replayed row-for-row
        ("WITH d AS (SELECT doc_id, source, CAST(CASE WHEN text IS NULL OR " +
          "length(trim(text)) = 0 THEN 0 ELSE " +
          "len(string_split_regex(trim(lower(text)), '\\s+')) END AS BIGINT) AS n_tokens " +
          "FROM documents WHERE source IN ('src0', 'src1', 'src2')), " +
          "b AS (SELECT doc_id, source, n_tokens, " +
          "(((doc_id % 2147483647) * 2654435761 + 42) % 2147483647) % 16 AS bk FROM d), " +
          "s AS (SELECT source, bk, sum(n_tokens) AS t FROM b GROUP BY 1, 2), " +
          "c AS (SELECT source, bk, t, sum(t) OVER (PARTITION BY source ORDER BY bk) AS cum FROM s), " +
          "bud(source, budget) AS (SELECT * FROM (VALUES " +
          "('src0', 1500), ('src1', 900), ('src2', 600))), " +
          "cut AS (SELECT c.source, max(bk) AS ct FROM c JOIN bud ON c.source = bud.source " +
          "WHERE cum - t < budget GROUP BY 1) " +
          "SELECT doc_id, b.source, n_tokens FROM b JOIN cut ON b.source = cut.source " +
          "WHERE bk <= ct"),
      "q_layout_interleave" ->
        ("SELECT doc_id, source, CAST(row_number() OVER (PARTITION BY source " +
          "ORDER BY ((doc_id % 2147483647) * 2654435761 + 42) % 2147483647, doc_id) " +
          "AS INT) AS interleave_rank FROM documents " +
          "WHERE source IS NOT NULL AND doc_id IS NOT NULL"),
      "q_mix_temperature" ->
        // counts -> sqrt weights -> binding source -> rates -> portable
        // bucket membership, every double op identical
        ("WITH c AS (SELECT source, CAST(count(*) AS DOUBLE) AS n FROM documents " +
          "WHERE source IS NOT NULL GROUP BY source), " +
          "w AS (SELECT source, n, sqrt(n) AS wt FROM c), " +
          "t AS (SELECT min(n / wt) AS total FROM w), " +
          "r AS (SELECT source, least(CAST(1.0 AS DOUBLE), wt * total / n) AS rate FROM w, t) " +
          "SELECT d.doc_id, d.source FROM documents d JOIN r ON d.source = r.source " +
          "WHERE ((d.doc_id % 2147483647) * 2654435761 + 42) % 2147483647 < " +
          "CAST(floor(rate * 2147483647.0) AS BIGINT)"),
      "q_vec_outliers" ->
        // q_kmeans_assign's replay + a per-cluster quantile_cont cut over
        // the PRE-ROUNDED distances (Spark exact percentile = quantile_cont)
        ("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings), " +
          "c AS (SELECT vec_id AS center_id, v AS cv FROM e WHERE vec_id < 8), " +
          "s AS (SELECT e.vec_id, c.center_id, " +
          "sqrt(list_dot_product(list_transform(range(len(e.v)), i -> e.v[i+1]-c.cv[i+1]), " +
          "list_transform(range(len(e.v)), i -> e.v[i+1]-c.cv[i+1]))) AS dist " +
          "FROM e CROSS JOIN c), " +
          "a AS (SELECT vec_id, center_id AS cluster_id, round(dist, 6) AS dist FROM " +
          "(SELECT vec_id, center_id, dist, row_number() OVER " +
          "(PARTITION BY vec_id ORDER BY dist, center_id) AS rn FROM s) WHERE rn = 1), " +
          "qq AS (SELECT cluster_id, quantile_cont(dist, 0.9) AS cut " +
          "FROM a GROUP BY cluster_id) " +
          "SELECT vec_id, cluster_id, dist, dist > cut AS is_outlier " +
          "FROM a JOIN qq USING (cluster_id)"),
      "q_vec_cov" ->
        // parallel unnest pairs (index, value); the self-join enumerates
        // the same d² grid Spark's double posexplode does. ALL sums are
        // scaled-integer BIGINTs (sxy AND the marginals sx/sy) so no
        // accumulation order anywhere can move a cell across round(…, 6)
        ("WITH xi AS (SELECT vec_id, unnest(range(len(embedding))) AS i, " +
          "unnest(CAST(embedding AS DOUBLE[])) AS x FROM embeddings), " +
          "p AS (SELECT a.i AS i, b.i AS j, a.x AS x, b.x AS y " +
          "FROM xi a JOIN xi b USING (vec_id)), " +
          "s AS (SELECT i, j, count(*) AS n, " +
          "CAST(sum(CAST(round(x * y * 68719476736.0, 0) AS BIGINT)) AS BIGINT) AS sxy, " +
          "CAST(sum(CAST(round(x * 68719476736.0, 0) AS BIGINT)) AS BIGINT) AS sx, " +
          "CAST(sum(CAST(round(y * 68719476736.0, 0) AS BIGINT)) AS BIGINT) AS sy " +
          "FROM p GROUP BY i, j) " +
          // grid snap mirrors Pca.covariancePortable: floor(x*1e6+0.5)
          // through BIGINT then /1e6 — exact IEEE ops on both engines,
          // and an integer has no -0, unlike round() whose engine-specific
          // signed-zero behavior flipped two cells' bit patterns
          "SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j, " +
          "CAST(CAST(floor((CAST(sxy AS DOUBLE) / 68719476736.0 - " +
          "(CAST(sx AS DOUBLE) / 68719476736.0) * " +
          "(CAST(sy AS DOUBLE) / 68719476736.0) / n) / n " +
          "* 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS cov FROM s"),
      "q_layout_zorder" -> {
        // the interleave is GENERATED from the same (bits, k) loop the
        // Spark expression unrolls — identical term order, identical shifts
        val bits = 8
        val m = (1L << bits) - 1
        val interleave = (0 until bits).flatMap(i => Seq(
          s"(((bx >> $i) & 1) << ${i * 2})",
          s"(((by >> $i) & 1) << ${i * 2 + 1})")).mkString(" | ")
        "WITH s AS (SELECT min(o_custkey) AS minx, max(o_custkey) AS maxx, " +
          "min(o_orderkey) AS miny, max(o_orderkey) AS maxy FROM orders), " +
          s"b AS (SELECT o_orderkey, (o_custkey - minx) // ((maxx - minx) // $m + 1) AS bx, " +
          s"(o_orderkey - miny) // ((maxy - miny) // $m + 1) AS by FROM orders, s) " +
          s"SELECT o_orderkey, CAST($interleave AS BIGINT) AS z_value FROM b"
      },
      "q_sketch_heavyhitters" ->
        ("SELECT lang || ':' || source AS item, count(*) AS est, " +
          "CAST(0 AS BIGINT) AS err FROM documents GROUP BY 1"),
      "q_chunk_docs" ->
        // same windows: starts at k*48, width 64, count 1 + ceil((n-64)/48)
        ("WITH d AS (SELECT doc_id, CASE WHEN text IS NULL OR length(trim(text)) = 0 " +
          "THEN [] ELSE string_split_regex(trim(text), '\\s+') END AS toks FROM documents), " +
          "c AS (SELECT doc_id, toks, len(toks) AS n, " +
          "CASE WHEN len(toks) <= 64 THEN 1 ELSE (len(toks) - 64 + 47) // 48 + 1 END AS nc " +
          "FROM d WHERE len(toks) > 0), " +
          "e AS (SELECT doc_id, toks, unnest(range(0, nc)) AS k FROM c) " +
          "SELECT doc_id, CAST(k AS INT) AS chunk_idx, " +
          "CAST(len(toks[k*48+1 : k*48+64]) AS INT) AS n_tokens, " +
          "array_to_string(toks[k*48+1 : k*48+64], ' ') AS chunk_text FROM e"),
      "q_chunk_embed" -> chunkEmbedSql,
      // the streaming face emits the same chunk records (stateless
      // explode + row-local kernel), so the same replay adjudicates it
      "q_chunk_embed_stream" -> chunkEmbedSql,
      // streamingQualityFilter: the FIXED-threshold in-flight gate — the
      // same closed-form quality expression, cut at 0.5 on the 1e-6-
      // rounded score (both sides round before comparing)
      "q_quality_filter_stream" ->
        (s"WITH q AS (SELECT doc_id, $quality AS quality FROM documents) " +
          "SELECT doc_id, quality FROM q WHERE quality >= 0.5"),
      "q_fuzzy_names" -> {
        // Ed-Join replayed stage by stage: padded char 3-grams -> global df
        // -> rarest-first rank -> (q*k+1)-prefix -> candidate join with the
        // length filter -> exact Levenshtein verify (k=1, q=3, prefix 4)
        val gram = "substring(ps, CAST(i AS INT), 3)"
        "WITH s AS (SELECT c_custkey AS id, c_name AS str FROM customer " +
          "WHERE c_name IS NOT NULL), " +
          "p AS (SELECT id, repeat(chr(1), 2) || str || repeat(chr(2), 2) AS ps, " +
          "length(str) AS len FROM s), " +
          "g0 AS (SELECT id, len, list_distinct(list_transform(" +
          s"generate_series(1, length(ps) - 2), i -> $gram)) AS grams FROM p), " +
          "e AS (SELECT id, len, unnest(grams) AS g FROM g0), " +
          "dfq AS (SELECT g, count(*) AS df FROM e GROUP BY g), " +
          "rk AS (SELECT id, len, g, row_number() OVER (PARTITION BY id " +
          "ORDER BY df, g) AS rn FROM e JOIN dfq USING (g)), " +
          "pf AS (SELECT id, len, g FROM rk WHERE rn <= 4), " +
          // short pool mirrored: strings with < q*k+1 grams (len <= 1 at
          // k=1) can evade the prefix theorem; their pairs come from a
          // direct length-filtered self-join on both faces
          "sp AS (SELECT id, length(str) AS len FROM s WHERE length(str) <= 2), " +
          "cand AS (SELECT DISTINCT id_a, id_b FROM (" +
          "SELECT a.id AS id_a, b.id AS id_b FROM pf a " +
          "JOIN pf b ON a.g = b.g AND a.id < b.id AND abs(a.len - b.len) <= 1 " +
          "UNION ALL SELECT a.id, b.id FROM sp a JOIN sp b ON a.id < b.id " +
          "AND abs(a.len - b.len) <= 1 AND least(a.len, b.len) <= 1)), " +
          "v AS (SELECT id_a, id_b, levenshtein(sa.str, sb.str) AS dist " +
          "FROM cand JOIN s sa ON sa.id = cand.id_a JOIN s sb ON sb.id = cand.id_b) " +
          "SELECT id_a, id_b, CAST(dist AS INT) AS dist FROM v WHERE dist <= 1"
      },
      // the deletion-variant join replayed: {s} ∪ del1(s) keys, length
      // filter, exact Levenshtein verify (CTEs shared with the canonical-
      // variants gate below)
      "q_fuzzy_names_fastss" ->
        (s"WITH $fastssCtes " +
          "SELECT id_a, id_b, CAST(dist AS INT) AS dist FROM vf WHERE dist <= 1"),
      "q_fuzzy_canonical" ->
        // same pair graph, then min-label connected components via the
        // unrolled pointer-jumping CTEs (the q_dedup_clusters recipe) +
        // canonical names
        (s"WITH $fastssCtes, " +
          "pr AS (SELECT id_a, id_b FROM vf WHERE dist <= 1), " +
          "e AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pr " +
          "UNION SELECT id_b, id_a FROM pr), " +
          ccUnrolledCtes("e") + " " +
          "SELECT c.id AS c_custkey, s1.str AS c_name, c.comp AS canonical_id, " +
          "s2.str AS canonical FROM c " +
          "JOIN s s1 ON s1.id = c.id JOIN s s2 ON s2.id = c.comp"),
      "q_fn_array" ->
        ("SELECT vec_id, round(CAST(embedding[1] AS DOUBLE), 6) + 0.0 AS arr_first, " +
          "round(CAST(embedding[len(embedding)] AS DOUBLE), 6) + 0.0 AS arr_last, " +
          "round(list_aggregate(CAST(embedding[1:8] AS DOUBLE[]), 'sum'), 6) + 0.0 AS head_sum, " +
          "CAST(len(embedding) AS INT) AS n FROM embeddings")
    )
    val dsirSql =
      // bucket unigram models with Laplace smoothing; the log-ratio snaps
      // to the 1e-6 grid via floor(x*1e6+0.5) through BIGINT (exact IEEE,
      // no -0.0, no round-function divergence), and each doc's weight is
      // an exact integer sum over its tokens' buckets
      ("WITH d AS (SELECT doc_id, lang, CASE WHEN text IS NULL OR length(trim(text)) = 0 " +
        s"THEN [] ELSE $tokHashListSql END AS th FROM documents), " +
        "tb AS (SELECT doc_id, lang, unnest(list_transform(th, h -> h % 64)) AS b FROM d), " +
        "tc AS (SELECT b, count(*) AS ct FROM tb WHERE lang = 'en' GROUP BY b), " +
        "sc AS (SELECT b, count(*) AS cs FROM tb GROUP BY b), " +
        "tt AS (SELECT count(*) AS t FROM tb WHERE lang = 'en'), " +
        "ts AS (SELECT count(*) AS s FROM tb), " +
        "spine AS (SELECT CAST(unnest(range(0, 64)) AS BIGINT) AS b), " +
        "lr AS (SELECT spine.b AS b, " +
        "CAST(floor((ln(CAST(coalesce(ct, 0) + 1 AS DOUBLE) / (t + 64)) - " +
        "ln(CAST(coalesce(cs, 0) + 1 AS DOUBLE) / (s + 64))) * 1000000.0 + 0.5) AS BIGINT) AS lr6 " +
        "FROM spine LEFT JOIN tc ON spine.b = tc.b LEFT JOIN sc ON spine.b = sc.b, tt, ts), " +
        "w AS (SELECT doc_id, sum(lr6) AS lw6 FROM tb JOIN lr USING (b) GROUP BY doc_id) " +
        "SELECT d.doc_id, CAST(coalesce(w.lw6, 0) AS BIGINT) AS lw6 " +
        "FROM d LEFT JOIN w USING (doc_id)")
    // the tiered-shortlist MMR must reproduce the default path exactly
    // (membership ⊇ brute-force top-nCand ⇒ identical greedy), so the
    // same recursive-CTE oracle adjudicates it
    val hardNegSql =
      // brute-force scores → top-50 shortlist → positives excluded → the
      // 0.05 margin below the weakest positive applied on grid integers →
      // per-query top-5; tie-breaks and rounding identical to the op
      ("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings), " +
        "q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5), " +
        "p AS (SELECT query_id, query_id + 7 AS pos_id FROM q), " +
        "s AS (SELECT query_id, e.vec_id AS cand_id, " +
        s"round(${cosSql("e.v", "qv")}, 6) + 0.0 AS score " +
        "FROM e JOIN q ON e.vec_id <> q.query_id), " +
        "top AS (SELECT * FROM s QUALIFY row_number() OVER " +
        "(PARTITION BY query_id ORDER BY score DESC, cand_id) <= 100), " +
        "pf AS (SELECT p.query_id, " +
        s"min(CAST(round(round(${cosSql("pe.v", "q.qv")}, 6) * 1000000) AS BIGINT)) " +
        "AS pos_floor6 FROM p JOIN e pe ON pe.vec_id = p.pos_id " +
        "JOIN q ON q.query_id = p.query_id GROUP BY p.query_id), " +
        "neg AS (SELECT t.query_id, t.cand_id, t.score, " +
        "CAST(round(t.score * 1000000) AS BIGINT) AS score6 FROM top t " +
        "LEFT JOIN p ON p.query_id = t.query_id AND p.pos_id = t.cand_id " +
        "WHERE p.pos_id IS NULL), " +
        "f AS (SELECT neg.query_id, neg.cand_id, neg.score, neg.score6 FROM neg " +
        "JOIN pf ON pf.query_id = neg.query_id " +
        "WHERE neg.score6 <= pf.pos_floor6 - 20000) " +
        "SELECT query_id, cand_id, score, CAST(rn AS INT) AS rk FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY query_id " +
        "ORDER BY score6 DESC, cand_id) AS rn FROM f) WHERE rn <= 10")
    val chunkPoolSql = {
      // the q_chunk_embed pipeline (same windows, same hashed embedding,
      // same 1e-6 rounding) + the mean-pool aggregate: components snap to
      // exact micro-unit integers, so sum/n + floor re-snap is bit-exact
      val dim = 16
      val counts = (0 until dim)
        .map(j => s"CAST(len(list_filter(ch, h -> h % $dim = $j)) AS DOUBLE)")
        .mkString("[", ", ", "]")
      "WITH d AS (SELECT doc_id, CASE WHEN text IS NULL OR length(trim(text)) = 0 " +
        "THEN [] ELSE string_split_regex(trim(text), '\\s+') END AS toks FROM documents), " +
        s"h AS (SELECT doc_id, list_transform(toks, t -> ${tokHashSql("t")}) AS hl, " +
        "len(toks) AS n FROM d WHERE len(toks) > 0), " +
        "c AS (SELECT doc_id, hl, " +
        "CASE WHEN n <= 64 THEN 1 ELSE (n - 64 + 47) // 48 + 1 END AS nc FROM h), " +
        "e AS (SELECT doc_id, CAST(k AS INT) AS chunk_idx, " +
        "hl[k*48+1 : k*48+64] AS ch FROM " +
        "(SELECT doc_id, hl, unnest(range(0, nc)) AS k FROM c)), " +
        s"cnt AS (SELECT doc_id, chunk_idx, $counts AS cnt FROM e), " +
        "nrm AS (SELECT doc_id, chunk_idx, cnt, " +
        "sqrt(list_aggregate(list_transform(cnt, x -> x*x), 'sum')) AS nn FROM cnt), " +
        "v6 AS (SELECT doc_id, CAST(unnest(range(len(cnt))) AS INT) AS i, " +
        "unnest(list_transform(cnt, x -> CAST(round(round(x / nn, 6) * 1000000) AS BIGINT))) " +
        "AS v6 FROM nrm) " +
        "SELECT doc_id, i + 1 AS pos, " +
        "CAST(floor(CAST(sum(v6) AS DOUBLE) / count(v6) + 0.5) AS BIGINT) AS pooled6 " +
        "FROM v6 GROUP BY doc_id, i"
    }
    val incrementalSql = {
      // both sides' portable signatures from ONE replayed kernel, banded
      // with the polynomial fold, corpus-side bucket guard, batch×corpus
      // candidate join, signature-match-fraction verify at 0.3.
      // r20: sigGroupByCtes replaces the per-element lambda signature and
      // every multi-referenced CTE is MATERIALIZED (DuckDB inlines plain
      // CTEs per reference — the verify legs re-ran the whole signature
      // pipeline; 3.6-4.0 s → 0.3 s per incremental gate at sf0.01,
      // identical rows, and this oracle runs for all THREE trio gates).
      def bandsOf(src: String, out: String) =
        s"$out AS MATERIALIZED (SELECT doc_id, s.band AS band, s.key AS key FROM " +
          s"(SELECT doc_id, unnest(list_transform(range(0, 4), b -> struct_pack(band := b, " +
          "key := list_reduce(list_prepend(CAST(0 AS BIGINT), sig[b*4+1 : b*4+4] || [b]), " +
          s"(a, x) -> (a*131 + x) % 2147483647)))) AS s FROM $src))"
      "WITH d AS (SELECT doc_id, " + ltoksSql + " AS ltoks FROM documents), " +
        "sh0 AS (SELECT doc_id, list_sort(list_distinct(list_transform(" +
        "generate_series(1, greatest(len(ltoks)-2, 0)), i -> " +
        strHashSql("(ltoks[i] || ' ' || ltoks[i+1] || ' ' || ltoks[i+2])") +
        "))) AS sh FROM d), " +
        "nz AS MATERIALIZED (SELECT * FROM sh0 WHERE len(sh) > 0), " +
        sigGroupByCtes(16) + ", " +
        "corp AS MATERIALIZED (SELECT * FROM sg WHERE doc_id % 2 = 0), " +
        "bat AS MATERIALIZED (SELECT * FROM sg WHERE doc_id % 2 = 1), " +
        bandsOf("corp", "cb") + ", " + bandsOf("bat", "bb") + ", " +
        "g AS (SELECT band, key FROM cb GROUP BY band, key HAVING count(*) <= 1000), " +
        "cbg AS MATERIALIZED (SELECT cb.doc_id, cb.band, cb.key FROM cb JOIN g USING (band, key)), " +
        "cand AS (SELECT DISTINCT bb.doc_id AS batch_id, cbg.doc_id AS corpus_id " +
        "FROM cbg JOIN bb USING (band, key) WHERE cbg.doc_id <> bb.doc_id), " +
        "v AS (SELECT batch_id, corpus_id, " +
        "round(CAST(len(list_filter(range(16), j -> b.sig[j+1] = c.sig[j+1])) AS DOUBLE)/16, 6) " +
        "AS jaccard FROM cand JOIN bat b ON b.doc_id = cand.batch_id " +
        "JOIN corp c ON c.doc_id = cand.corpus_id) " +
        "SELECT batch_id, corpus_id, jaccard FROM v WHERE jaccard >= 0.3"
    }
    val extractSql =
      // the same Java∩RE2 regex chain, stage by stage, DuckDB 'g' flag =
      // Spark's replace-all default; entity decode order matters (&amp;
      // last) and is identical
      ("WITH h AS (SELECT doc_id, '<html><head><title>T</title><style>p{color:red}</style>" +
        "</head><body><!-- nav --><h1>Doc</h1><p>' || text || " +
        "'</p><script>var x = 1 < 2;</script>&amp; &lt;tail&gt;</body></html>' AS html " +
        "FROM documents), " +
        "x1 AS (SELECT doc_id, regexp_replace(html, '(?is)<script\\b.*?</script\\s*>', ' ', 'g') " +
        "AS t FROM h), " +
        "x2 AS (SELECT doc_id, regexp_replace(t, '(?is)<style\\b.*?</style\\s*>', ' ', 'g') " +
        "AS t FROM x1), " +
        "x3 AS (SELECT doc_id, regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM x2), " +
        "x4 AS (SELECT doc_id, regexp_replace(t, '<[^>]+>', ' ', 'g') AS t FROM x3), " +
        "e1 AS (SELECT doc_id, regexp_replace(t, '&nbsp;', ' ', 'g') AS t FROM x4), " +
        "e2 AS (SELECT doc_id, regexp_replace(t, '&lt;', '<', 'g') AS t FROM e1), " +
        "e3 AS (SELECT doc_id, regexp_replace(t, '&gt;', '>', 'g') AS t FROM e2), " +
        "e4 AS (SELECT doc_id, regexp_replace(t, '&quot;', '\"', 'g') AS t FROM e3), " +
        "e5 AS (SELECT doc_id, regexp_replace(t, '&#39;', '''', 'g') AS t FROM e4), " +
        "e6 AS (SELECT doc_id, regexp_replace(t, '&amp;', '&', 'g') AS t FROM e5), " +
        "c AS (SELECT doc_id, trim(regexp_replace(t, '\\s+', ' ', 'g')) AS extracted FROM e6) " +
        "SELECT doc_id, extracted, " +
        "len(string_split_regex(trim(extracted), '\\s+')) AS n_tokens FROM c")
    val dataCardSql =
      // count/sum aggregates are exact integers; the mean quality is the
      // same floor(sum(q6)/n + 0.5) grid move as the Spark side
      ("SELECT source, lang, count(*) AS n_docs, " +
        s"CAST(sum($ntok) AS BIGINT) AS n_tokens, " +
        "CAST(sum(length(text)) AS BIGINT) AS n_chars, " +
        s"CAST(sum(CASE WHEN $quality >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_pass, " +
        // exact integer rounding (2s+n) div 2n, mirroring the operator
        s"CAST((CAST(sum(CAST(round($quality * 1000000) AS BIGINT)) AS HUGEINT) * 2 " +
        "+ count(*)) // (count(*) * 2) AS BIGINT) AS mean_quality6 " +
        "FROM documents GROUP BY source, lang")
    m + ("q_ann_mmr_tiered" -> m("q_ann_mmr")) + ("q_dsir_weights" -> dsirSql) +
      ("q_ann_hard_negatives" -> hardNegSql) + ("q_chunk_pool" -> chunkPoolSql) +
      ("q_url_canonical" ->
        ("SELECT doc_id, 'http://' || lower(source) || '.example.com/doc/' || " +
          "CAST(doc_id AS VARCHAR) || '?a=1&b=2' AS canonical_url, " +
          "lower(source) || '.example.com' AS host FROM documents")) +
      ("q_dedup_incremental" -> incrementalSql) +
      // same oracle: the stale-widths gate must return the FRESH answer
      ("q_dedup_incremental_stale" -> incrementalSql) +
      // same oracle again: the streaming replay must equal the batch twin
      ("q_dedup_incremental_stream" -> incrementalSql) +
      // fingerprint-set identity: the streaming near-dedup survivors carry
      // exactly the distinct portable-SimHash fingerprints of the corpus
      ("q_dedup_near_stream" ->
        ("WITH fps AS (" + m("q_dedup_simhash") + ") " +
          "SELECT DISTINCT fp AS simhash_fp FROM fps")) +
      // same oracle as the batch twin: streaming ≡ batch, row for row
      ("q_decontaminate_semantic_stream" -> m("q_decontaminate_semantic")) +
      ("q_text_extract" -> extractSql) +
      ("q_corpus_datacard" -> dataCardSql)
  }
}
