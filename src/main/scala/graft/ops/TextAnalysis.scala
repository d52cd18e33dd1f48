package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Document-level text analysis: stats, quality, language-ID, fingerprints.
  * Thin compositions of [[graft.functions.TextFunctions]] — all codegen'd
  * column expressions, embarrassingly parallel at any scale. */
object TextAnalysis {

  /** Per-document token/char statistics. */
  def documentStats(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol),
      TextFunctions.tokenCount(col(textCol)).as("n_tokens"),
      TextFunctions.subwordCount(col(textCol)).as("n_subwords"),
      length(col(textCol)).as("n_chars_actual"),
      round(TextFunctions.punctRatio(col(textCol)), 6).as("punct_ratio"),
      round(TextFunctions.stopwordRatio(col(textCol)), 6).as("stopword_ratio"),
      round(TextFunctions.meanTokenLength(col(textCol)), 6).as("mean_tok_len"))

  /** Quality scoring + keep/drop verdict at `minScore`. */
  def qualityFilter(docs: DataFrame, minScore: Double,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol),
      TextFunctions.qualityScore(col(textCol)).as("quality"),
      (TextFunctions.qualityScore(col(textCol)) >= minScore).as("keep"))

  /** Keep the top `keepTop` fraction of documents by quality score — the
    * dynamic-threshold form real pipelines use (a fixed cutoff drifts as
    * the corpus mix changes). The cutoff is ONE exact-percentile aggregate
    * broadcast back over the scan: two passes total, nothing driver-side.
    * Exact `percentile` sorts per group — at extreme scale swap in
    * `approx_percentile`, which the same plan shape accepts. */
  def qualityFilterByQuantile(docs: DataFrame, keepTop: Double,
                              idCol: String = "doc_id",
                              textCol: String = "text"): DataFrame = {
    require(keepTop > 0 && keepTop <= 1, s"keepTop out of range: $keepTop")
    val scored = docs.select(col(idCol),
      TextFunctions.qualityScore(col(textCol)).as("quality"))
    val cutoff = scored.agg(percentile(col("quality"), lit(1 - keepTop)).as("cut"))
    scored.crossJoin(broadcast(cutoff))
      .filter(col("quality") >= col("cut"))
      .select(col(idCol), col("quality"))
  }

  /** Marker-word language identification. */
  def languageId(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol), TextFunctions.langId(col(textCol)).as("lang_pred"))

  /** Corpus vocabulary: the `topK` most frequent whitespace tokens with
    * document frequencies — the input to tokenizer training / stopword
    * derivation. Canonical word-count shape: explode + partial-agg (map-
    * side combine collapses each partition to its distinct tokens before
    * the shuffle) + TakeOrdered(topK); ties break lexicographically so
    * the result is deterministic under any partitioning. */
  def vocabulary(docs: DataFrame, topK: Int, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol), explode(TextFunctions.tokens(graft.functions.BpeExpressions.lowerRoot(col(textCol)))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("tf"), count_distinct(col(idCol)).as("df"))
      .orderBy(col("tf").desc, col("token").asc)
      .limit(topK)

  /** Content + order-sensitive fingerprints. */
  def fingerprints(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol),
      md5(col(textCol)).as("content_md5"),
      TextFunctions.fingerprint(col(textCol)).as("content_xxh64"),
      TextFunctions.rollingHash(col(textCol)).as("rolling_hash"))

  /** Engine-portable twin of [[fingerprints]]: md5 + the codepoint-
    * polynomial rolling hash, both reproducible bit-exactly by any SQL
    * engine — the auditable fingerprint set (xxhash64 has no cross-engine
    * twin, so the variant above is Spark-verifiable only). */
  def fingerprintsPortable(docs: DataFrame, idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol),
      md5(col(textCol)).as("content_md5"),
      TextFunctions.rollingHashPortable(col(textCol)).as("rolling_hash"))

  /** Intra-document repetition metrics in the Gopher/C4 filter family:
    * duplicate word-bigram / 5-gram mass and the fraction of bigram
    * occurrences taken by the single most frequent bigram. The duplicate
    * ratios are pure array math (codegen'd, no shuffle); the top-bigram
    * fraction is an explode + two-level aggregate keyed on (doc, gram) —
    * well-spread keys, one shuffle, no per-doc state beyond counters.
    *
    * The per-document columns are computed in projections BELOW the
    * explode: Spark evaluates a column that sits next to a generator in
    * the same `select` in a Project above the `Generate`, once per
    * exploded bigram — O(len²) per document once the output is
    * materialized. Below it, each n-gram array is built once per
    * document and only the bigram array reaches the `Generate`. */
  def repetitionStats(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    def dupRatio(grams: org.apache.spark.sql.Column) =
      when(size(grams) === 0, 0.0)
        .otherwise(lit(1.0) - size(array_distinct(grams)).cast("double") / size(grams))
    // Two projections, not one: each array is referenced several times
    // in the second, so the optimizer keeps it as one attribute instead
    // of inlining (and re-evaluating) the kernel per reference. Single
    // scan: the per-doc ratios ride the exploded (doc, gram) rows through
    // one shuffle (a few constant bytes per row) instead of a second
    // scan+tokenize branch joined back on doc id. explode_OUTER keeps
    // empty documents (null gram → excluded from the top-count).
    docs.select(col(idCol),
        TextFunctions.wordNgrams(col(textCol), 2).as("__g2"),
        TextFunctions.wordNgrams(col(textCol), 5).as("__g5"))
      .select(col(idCol), col("__g2"),
        size(col("__g2")).as("n_bigrams"),
        round(dupRatio(col("__g2")), 6).as("dup_bigram_ratio"),
        round(dupRatio(col("__g5")), 6).as("dup_5gram_ratio"))
      .select(col(idCol), col("n_bigrams"), col("dup_bigram_ratio"), col("dup_5gram_ratio"),
        explode_outer(col("__g2")).as("__g"))
      .groupBy(col(idCol), col("__g"))
      .agg(first("n_bigrams").as("n_bigrams"),
        first("dup_bigram_ratio").as("dup_bigram_ratio"),
        first("dup_5gram_ratio").as("dup_5gram_ratio"),
        count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(first("n_bigrams").as("n_bigrams"),
        first("dup_bigram_ratio").as("dup_bigram_ratio"),
        first("dup_5gram_ratio").as("dup_5gram_ratio"),
        max(when(col("__g").isNotNull, col("__c"))).as("__top"),
        sum(when(col("__g").isNotNull, col("__c"))).as("__tot"))
      .select(col(idCol), col("n_bigrams"), col("dup_bigram_ratio"), col("dup_5gram_ratio"),
        round(coalesce(col("__top").cast("double") / col("__tot"), lit(0.0)), 6)
          .as("top_bigram_frac"))
  }

  /** PII scrubbing pass: typed placeholder tags for emails/IPs/phones plus
    * a `had_pii` flag. Pure regexp_replace chain — embarrassingly parallel. */
  def redactPii(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol),
      TextFunctions.redactPii(col(textCol)).as("redacted"),
      (TextFunctions.redactPii(col(textCol)) =!= col(textCol)).as("had_pii"))

  /** Corpus data card: the per-(source, language) statistics table every
    * pretraining-mixture decision starts from — document and token counts,
    * character volume, quality-gate pass rate, and the mean quality score
    * on the 1e-6 grid (exact integer mean — floor(sum(q6)/n + 0.5) — so
    * the card is engine-portable and auditable, not an estimate).
    *
    * One hash aggregation over the corpus: partials combine map-side, the
    * shuffle carries |sources×langs| skinny rows — the cheapest possible
    * full-corpus pass, safe at any scale. */
  def corpusDataCard(docs: DataFrame, sourceCol: String = "source",
                     langCol: String = "lang", textCol: String = "text"): DataFrame = {
    val q6 = round(TextFunctions.qualityScore(col(textCol)) * 1e6).cast("long")
    docs.groupBy(col(sourceCol), col(langCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TextFunctions.tokenCount(col(textCol)).cast("long")).as("n_tokens"),
        sum(length(col(textCol)).cast("long")).as("n_chars"),
        sum(when(TextFunctions.qualityScore(col(textCol)) >= 0.5, 1L).otherwise(0L))
          .as("n_quality_pass"),
        // floor(s/n + 0.5) in EXACT integer form, (2s+n) div 2n: the
        // double-division form loses low bits once sum(q6) passes 2^53
        // (~9e9 docs in one group at the 100 TB regime), where different
        // engines' double rounding can disagree by one grid step —
        // decimal arithmetic keeps the card bit-exact at any size
        floor((sum(q6).cast("decimal(38,0)") * 2 + count(lit(1))) /
          (count(lit(1)) * 2)).cast("long").as("mean_quality6"))
  }

  /** Markup-stripping text extraction — the first stage of every
    * web-crawl→training-corpus pipeline (the trafilatura/boilerplate step,
    * reduced to its deterministic core): drop `<script>`/`<style>` payloads
    * and comments wholesale, flatten every remaining tag to a space, decode
    * the six ubiquitous character entities, and collapse whitespace.
    *
    * A pure `regexp_replace` chain — codegen'd, embarrassingly parallel,
    * zero shuffles — and deliberately restricted to the regex subset Java
    * and RE2 agree on (lazy quantifiers and inline `(?is)` flags; no
    * lookaround, no backreferences), so a DuckDB oracle replays extraction
    * byte-for-byte. Numeric character references and full HTML5 entity
    * tables are out of scope by contract (a real pipeline bolts a decoder
    * stage after this one). */
  def stripMarkup(html: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val noScript = regexp_replace(html, "(?is)<script\\b.*?</script\\s*>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style\\b.*?</style\\s*>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]+>", " ")
    val ent = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&") // &amp; last: &amp;lt; → &lt;
      .foldLeft(noTags) { case (c, (e, r)) => regexp_replace(c, e, r) }
    trim(regexp_replace(ent, "\\s+", " "))
  }

  /** [[stripMarkup]] over a corpus: (id, extracted text + its token count). */
  def extractText(docs: DataFrame, idCol: String = "doc_id",
                  htmlCol: String = "html"): DataFrame =
    docs.select(col(idCol), stripMarkup(col(htmlCol)).as("extracted"))
      .withColumn("n_tokens", TextFunctions.tokenCount(col("extracted")))

  /** Cross-document duplicate-span detection — the token-granular
    * approximation of exact substring dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): fingerprint every
    * `width`-token window (stride `stride`) of the lowercased token stream
    * with a portable rolling hash, count each fingerprint corpus-wide, and
    * report per document how much of it is covered by spans that occur at
    * least `minCount` times anywhere in the corpus.
    *
    * Scale shape: the window pass is one codegen'd map over the corpus
    * ([[graft.functions.RollingWindowHashesExpr]]); the only shuffles are
    * the fingerprint count (map-side combinable — repeated spans collapse
    * per partition first) and the count join back, both keyed on the same
    * well-spread 31-bit hash so AQE reuses one exchange. Nothing is ever
    * pairwise: a span shared by k documents costs k rows, not k² pairs.
    *
    * @return (id, n_windows, n_dup_windows, dup_frac) — docs shorter than
    *         `width` tokens have zero windows and dup_frac 0.
    */
  def duplicateSpans(docs: DataFrame, width: Int = 16, stride: Int = 8,
                     minCount: Long = 2, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val wh = graft.functions.HashExpressions.rollingWindowHashes(
      graft.functions.HashExpressions.portableTokenHashes(graft.functions.BpeExpressions.lowerRoot(col(textCol))), width, stride)
    // Explicit repartition on the fingerprint: the count aggregate and the
    // count join-back below both need hash(h) partitioning, and without a
    // shared exchange each would re-run the scan+tokenize+fingerprint pass
    // over the corpus — the expensive part (the (id, h) rows are a few
    // bytes). With it, AQE resolves the second consumer to ReusedExchange:
    // ONE corpus scan (asserted by the plan spec). Two details make the
    // subtrees canonicalize equal: (a) count(idCol), not count(1), so both
    // branches project the same columns through the exchange; (b) docs
    // shorter than `width` keep a SENTINEL window (-1 — real fingerprints
    // lie in [0, P)) instead of a null, so the join-back can be INNER: a
    // left-outer join would infer isnotnull(h) on the build side only,
    // push it below the exchange, and break the reuse.
    val windows = docs
      .select(col(idCol), explode_outer(wh).as("__h0"))
      .select(col(idCol), coalesce(col("__h0"), lit(-1L)).as("h"))
      .repartition(col("h"))
    val counts = windows.groupBy("h").agg(count(col(idCol)).as("__n"))
    val real = col("h") =!= -1L
    windows
      .join(counts, Seq("h"))
      .groupBy(idCol)
      .agg(
        count(when(real, 1)).as("n_windows"),
        count(when(real && col("__n") >= minCount, 1)).as("n_dup_windows"))
      .select(col(idCol), col("n_windows"), col("n_dup_windows"),
        round(when(col("n_windows") === 0, 0.0)
          .otherwise(col("n_dup_windows").cast("double") / col("n_windows")), 6).as("dup_frac"))
  }

  /** CCNet-style language-model quality scoring: per-document perplexity
    * under a Laplace-smoothed unigram LM trained on the corpus itself
    * (rare-token documents — boilerplate codes, mojibake, wrong-language
    * text — surface as high-perplexity outliers). `lm` defaults to the
    * scored corpus; pass a reference corpus to score against an external
    * distribution (OOV tokens take the smoothed unseen probability
    * 1/(T+V), so a disjoint vocabulary still scores finitely).
    *
    * Scale shape: the LM is one explode + map-side-combined count
    * aggregate; scoring joins the token stream to the LM on the token key
    * (Spark broadcasts it while it fits, shuffles on the well-spread token
    * key beyond that) and reduces per document. Determinism across
    * engines/partitionings: each token's log-probability is rounded to a
    * 1e-6-scaled long, so the per-doc sum is exact integer math — a plain
    * `sum(double)` would depend on aggregation order.
    *
    * @return (id, n_tokens, ppl) for every input document; token-less
    *         documents score ppl 0.0 by convention.
    */
  def unigramPerplexity(docs: DataFrame, lm: Option[DataFrame] = None,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    def tokenRows(d: DataFrame, cols: org.apache.spark.sql.Column*) =
      d.select(cols :+ explode(TextFunctions.tokens(graft.functions.BpeExpressions.lowerRoot(col(textCol)))).as("token"): _*)
    // NOT staged, by measurement: the totals aggregate and the log-prob
    // projection both sit on the counts aggregate's exchange, which AQE
    // reuses — a Materialize here ran 20% SLOWER at the 30× probe (4.0 s
    // vs 3.3 s warm), pure checkpoint overhead. (bigramPerplexity's uni
    // table IS staged: three consumers, and the probe showed the win.)
    val counts =
      tokenRows(lm.getOrElse(docs)).groupBy("token").agg(count(lit(1)).as("c"))
    val totals = counts.agg(sum(col("c")).as("t"), count(lit(1)).as("v"))
    // scaled log-probs: seen tokens ln((c+1)/(T+V)), the unseen floor ln(1/(T+V))
    val lp = counts.crossJoin(broadcast(totals))
      .select(col("token"),
        round(log((col("c") + 1).cast("double") / (col("t") + col("v"))) * 1e6)
          .cast("long").as("lp6"))
    val scored = tokenRows(docs, col(idCol))
      .join(lp, Seq("token"), "left_outer")
      .crossJoin(broadcast(totals))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("lp6"),
          round(log(lit(1.0) / (col("t") + col("v"))) * 1e6).cast("long"))).as("slp"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(round(exp(-col("slp").cast("double") / 1e6 / col("n_tokens")), 6),
          lit(0.0)).as("ppl"))
  }

  /** MLM training-data prep: replace ~`rate` of each document's tokens
    * with `maskTok`, choosing positions as a PURE FUNCTION of
    * (id, position) — the portable-bucket recipe, so the mask set is
    * reproducible across runs/partitionings, auditable from any SQL
    * engine, and never the same positions for two documents. Pure
    * column expressions over the token array — embarrassingly parallel,
    * no shuffle.
    *
    * @return (id, masked_text, n_masked)
    */
  def maskTokens(docs: DataFrame, rate: Double = 0.15, maskTok: String = "[MASK]",
                 seed: Long = 42L, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    require(rate >= 0 && rate <= 1, s"rate out of range: $rate")
    val P = Sampling.PortableP
    val cut = math.floor(rate * P.toDouble).toLong
    // id reduced like Sampling.portableBucket: string/UUID ids fold via
    // the portable codepoint hash instead of nulling out under the long
    // cast — a bare cast made hit() NULL at every position and the op
    // silently masked NOTHING for an entire non-numeric-id corpus
    val reducedId = coalesce(
      pmod(col(idCol).cast("long"), lit(P)),
      graft.functions.HashExpressions.portableStringFold(col(idCol).cast("string")))
    // per-(doc, position) bucket: fold the position into the reduced id
    // before the multiplicative mix; all intermediates stay < 2^63
    def hit(i: org.apache.spark.sql.Column) =
      pmod(pmod(reducedId * 131 + i, lit(P)) *
        lit(2654435761L) + lit(seed), lit(P)) < cut
    val toks = TextFunctions.tokens(col(textCol))
    val masked = transform(toks, (x, i) => when(hit(i), lit(maskTok)).otherwise(x))
    docs.select(
      col(idCol),
      array_join(masked, " ").as("masked_text"),
      when(size(toks) === 0, 0)
        .otherwise(size(filter(sequence(lit(0), size(toks) - 1), i => hit(i))))
        .as("n_masked"))
  }

  /** Mixture auditing: per-group KL divergence KL(P_g ‖ P) between each
    * group's unigram token distribution and the whole corpus's — a
    * domain-drift meter ("which source/language/shard is distributionally
    * unlike the rest"), the quantity mixture-rebalancing decisions read.
    * KL = Σ_t p_g(t)·ln(p_g(t)/p(t)), summed over the group's own tokens
    * only (p_g(t) = 0 terms contribute 0; p(t) > 0 whenever p_g(t) > 0
    * since the corpus contains the group).
    *
    * Scale shape: one explode into a (group, token) count aggregate
    * (map-side combined), a token-keyed join to the corpus counts, one
    * group reduce. Per-term contributions are 1e-9-scaled integers
    * weighted by the term count and summed as decimal(38,0) — |Σ| is
    * bounded by ln(T)·1e9·tg, which outgrows int64 near trillion-token
    * groups but never decimal38 — so the reduction is exact integer math,
    * order-independent, and the oracle replays it bit-for-bit.
    *
    * @return (group, n_tokens, kl) — kl >= 0, 0 iff the group's
    *         distribution equals the corpus's.
    */
  def tokenKlDivergence(docs: DataFrame, groupCol: String = "source",
                        textCol: String = "text"): DataFrame = {
    val tok = docs.select(col(groupCol).as("__g"),
      explode(TextFunctions.tokens(graft.functions.BpeExpressions.lowerRoot(col(textCol)))).as("token"))
    // ONE corpus tokenize: the staged (group, token) counts are the root
    // every other table derives from — corpus counts are the group-sum,
    // not a second scan
    val grp = Materialize(tok.groupBy(col("__g"), col("token")).agg(count(lit(1)).as("cg")))
    val corpus = grp.groupBy("token").agg(sum(col("cg")).as("c"))
    val totals = grp.groupBy(col("__g")).agg(sum(col("cg")).as("tg"))
    val corpusTotal = corpus.agg(sum(col("c")).as("t"))
    // p_g·ln(p_g/p) = (cg/tg)·ln((cg·t)/(c·tg)); each factor is cast to
    // double BEFORE the multiply — an int64 product cg·t overflows past
    // ~9.2e18 (a 2e11-token corpus × a 5e7-count token), wrapping
    // negative → log(NaN) → the dominant high-count terms silently
    // vanishing from the sum. The log argument needs no exactness (it is
    // rounded to the 1e-9 grid); the weight is applied AFTER scaling so
    // each term is round(ln(...)·1e9)·cg — exact integer math until the
    // final divide by tg
    grp.join(corpus, Seq("token"))
      .join(broadcast(totals), Seq("__g"))
      .crossJoin(broadcast(corpusTotal))
      .select(col("__g"), col("tg"),
        (round(log((col("cg").cast("double") * col("t").cast("double")) /
            (col("c").cast("double") * col("tg").cast("double"))) * 1e9)
          .cast("decimal(38,0)") * col("cg")).as("w9"))
      .groupBy(col("__g"))
      .agg(first(col("tg")).as("n_tokens"), sum(col("w9")).as("sw"))
      .select(col("__g").as(groupCol), col("n_tokens"),
        round(col("sw").cast("double") / 1e9 / col("n_tokens"), 6).as("kl"))
  }

  /** Order-2 refinement of [[unigramPerplexity]]: the first token scores
    * under the Laplace unigram LM, every later token under the bigram
    * conditional p(tok|prev) = (c(prev,tok)+1)/(c(prev)+V) — one step
    * toward the n-gram LM filters CCNet runs, and enough to separate
    * "common words in impossible order" from real prose, which a unigram
    * score cannot. `lm` (default: the scored corpus) supplies the counts;
    * unseen contexts and tokens fall back to the smoothed floors, so an
    * external LM with disjoint vocabulary still scores finitely.
    *
    * Scale shape: bigram pairs are built as per-row struct arrays (NOT by
    * carrying the token array through the explode, which would copy it
    * once per token — O(len²) bytes per doc); the LM joins key on the
    * well-spread (prev, tok) / prev, broadcast while the LM fits; the
    * per-doc reduce uses the same 1e-6-scaled-long log-probs as the
    * unigram op, so results are aggregation-order-independent and the
    * oracle replays them exactly.
    *
    * @return (id, n_tokens, ppl); token-less documents score ppl 0.0.
    */
  def bigramPerplexity(docs: DataFrame, lm: Option[DataFrame] = None,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toksOf = TextFunctions.tokens(graft.functions.BpeExpressions.lowerRoot(col(textCol)))
    val pairsOf = when(size(col("__t")) <= 1,
        array().cast("array<struct<prev:string,tok:string>>"))
      .otherwise(transform(sequence(lit(1), size(col("__t")) - 1),
        i => struct(element_at(col("__t"), i).as("prev"),
          element_at(col("__t"), i + 1).as("tok"))))
    val train = lm.getOrElse(docs).select(toksOf.as("__t"))
    // both LM tables staged: uni feeds the totals aggregate, the
    // first-token join, AND the context join — each re-tokenizing the
    // train corpus without the checkpoint; the tables are vocabulary-sized
    val uni = Materialize(train.select(explode(col("__t")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c1")))
    val totals = uni.agg(sum(col("c1")).as("t"), count(lit(1)).as("v"))
    val bi = Materialize(train.select(explode(pairsOf).as("p"))
      .select(col("p.prev").as("prev"), col("p.tok").as("tok"))
      .groupBy("prev", "tok").agg(count(lit(1)).as("c2")))
    val toked = docs.select(col(idCol), toksOf.as("__t"))
    // first token: unigram Laplace (identical to unigramPerplexity's lp)
    val firsts = toked.filter(size(col("__t")) > 0)
      .select(col(idCol), element_at(col("__t"), 1).as("tok"))
      .join(uni, Seq("tok"), "left_outer")
      .crossJoin(broadcast(totals))
      .select(col(idCol),
        round(log((coalesce(col("c1"), lit(0L)) + 1).cast("double") /
          (col("t") + col("v"))) * 1e6).cast("long").as("lp6"))
    // later tokens: bigram conditional with unseen-context/-pair floors
    val bigrams = toked.select(col(idCol), explode(pairsOf).as("p"))
      .select(col(idCol), col("p.prev").as("prev"), col("p.tok").as("tok"))
      .join(bi, Seq("prev", "tok"), "left_outer")
      .join(uni.select(col("tok").as("prev"), col("c1").as("c1p")), Seq("prev"), "left_outer")
      .crossJoin(broadcast(totals))
      .select(col(idCol),
        round(log((coalesce(col("c2"), lit(0L)) + 1).cast("double") /
          (coalesce(col("c1p"), lit(0L)) + col("v"))) * 1e6).cast("long").as("lp6"))
    val scored = firsts.unionByName(bigrams)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"), sum(col("lp6")).as("slp"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(round(exp(-col("slp").cast("double") / 1e6 / col("n_tokens")), 6),
          lit(0.0)).as("ppl"))
  }

  /** The remediation half of substring dedup: REWRITE documents by cutting
    * every non-overlapping `width`-token span whose fingerprint occurs at
    * least `minCount` times corpus-wide, keeping exactly ONE canonical
    * occurrence (the lowest (id, position) — deterministic under any
    * partitioning). Matching is on lowercased tokens; the rewrite emits
    * the ORIGINAL tokens space-joined. Trailing tokens that don't fill a
    * window are always kept, and untouched documents pass through with
    * their text byte-identical.
    *
    * Two corpus passes by design: pass 1 ships only (id, position,
    * fingerprint) rows through one hash-keyed shuffle to decide what to
    * drop; pass 2 re-reads the text and rebuilds it locally against the
    * per-doc drop list (output-bound, joined back). The alternative —
    * carrying the token arrays through the fingerprint shuffle — would
    * push the whole corpus through the exchange to save a columnar scan
    * that reads only affected columns; scanning twice is the cheaper side
    * at any scale where this op matters.
    *
    * @return (id, new_text, n_dropped)
    */
  def removeDuplicateSpans(docs: DataFrame, width: Int = 16, minCount: Long = 2,
                           idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val wh = graft.functions.HashExpressions.rollingWindowHashes(
      graft.functions.HashExpressions.portableTokenHashes(graft.functions.BpeExpressions.lowerRoot(col(textCol))), width, width)
    // upfront not-null filters: the INNER join below infers isnotnull(h)
    // on its probe side only — without the explicit filter the count/canon
    // aggregate's subtree canonicalizes differently and the shared wpos
    // exchange is NOT reused, re-running the tokenize+fingerprint scan
    // (measured: 3 parquet scans instead of 2; same trap duplicateSpans
    // documents). posexplode can't emit nulls, so the filters are free.
    val wpos = docs.select(col(idCol), posexplode(wh).as(Seq("j", "h")))
      .filter(col("h").isNotNull && col(idCol).isNotNull)
      .repartition(col("h"))
    // per fingerprint: occurrence count + the canonical (kept) occurrence;
    // min(struct) orders by (id, j) lexicographically — deterministic
    val agg = wpos.groupBy("h").agg(
      count(col(idCol)).as("__n"),
      min(struct(col(idCol).as("i"), col("j").as("j"))).as("__canon"))
    val dropped = wpos.join(agg, "h")
      .filter(col("__n") >= minCount &&
        !(col("__canon.i") === col(idCol) && col("__canon.j") === col("j")))
      .groupBy(idCol).agg(collect_list(col("j")).as("__dj"))
    // rebuild tokenization MUST equal pass-1's (PortableTokenHashesExpr =
    // Java String.trim + split): Spark's trim strips only ' ' — a leading
    // newline would leave a phantom "" first token, shifting every index
    // and cutting spans OFFSET BY ONE from the fingerprinted windows.
    // Filtering empties equals Java-trim semantics for all inputs (split
    // on \s+ can only produce "" at the ends).
    // kept windows' token slices: a set difference, not a per-token scan
    // of the dropped list (O(len²) on repetitive text); the tokens are a
    // column below, so the lambda does not split the text once per window
    val toks = col("__toks")
    val windows = sequence(lit(0), ((size(toks) + (width - 1)) / width).cast("int") - 1)
    val kept = flatten(transform(array_except(windows, col("__dj")),
      w => slice(toks, w * width + 1, lit(width))))
    docs.join(dropped, Seq(idCol), "left_outer")
      .withColumn("__toks", when(col("__dj").isNotNull,
        filter(split(col(textCol), "\\s+"), t => t =!= "")))
      .select(col(idCol),
        when(col("__dj").isNull, col(textCol))
          .otherwise(array_join(kept, " ")).as("new_text"),
        when(col("__dj").isNull, 0).otherwise(size(col("__dj"))).as("n_dropped"))
  }
}
