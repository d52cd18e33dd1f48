package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{FeatureExpressions, HashExpressions}

/** Hashed-feature logistic quality classifier.
  *
  * Rule-based quality scores ([[TextAnalysis.qualityFilter]]) and LM
  * perplexity catch the easy garbage; production corpus pipelines
  * additionally train a LEARNED quality model (a fasttext-style linear
  * classifier over hashed bag-of-words) against labeled seed sets —
  * "looks like Wikipedia" vs "looks like spam". This is that trainer,
  * Spark-shaped:
  *
  *  - features are implicit: token → portable hash → bucket `h mod dim`;
  *    the w·x product is ONE compiled loop over the token-hash array
  *    ([[graft.functions.BucketWeightSumExpr]]) — no feature vector is
  *    ever materialized, no join, a pure map over the corpus;
  *  - a gradient step is ONE distributed pass: per-doc residual
  *    `sigmoid(w·x + b) − y` fans out to its tokens' buckets (explode →
  *    groupBy bucket, map-side combined — dim+1 result rows), and the
  *    driver folds the dim-sized gradient into the next weight vector;
  *  - scoring is the same compiled kernel with the learned weights.
  *
  * At 100 TB: iterations scan the corpus once each (the explode ships one
  * tiny (residual, bucket) pair per token, combined map-side into at most
  * dim+1 rows per task); the model itself (dim doubles) broadcasts as a
  * codegen reference object. Train on a SAMPLE ([[Sampling]]) and score
  * the full corpus — the standard shape.
  *
  * The first step from a zero model is exactly replayable in SQL
  * (sigmoid(0) = 1/2 exactly, so residuals are ±1/2 — every partial sum
  * is a multiple of 2^-1, exact in double in any order), which gives the
  * trainer a bit-exact DuckDB oracle (`q_quality_lr`).
  */
object QualityModel {

  /** Linear model over `dim` hashed token buckets + bias. */
  case class LogisticModel(weights: Array[Double], bias: Double) {
    def dim: Int = weights.length
  }

  def zero(dim: Int): LogisticModel = LogisticModel(new Array[Double](dim), 0.0)

  /** Token hashes with NULL text behaving like empty text (bias still
    * applies to every row — a null doc is still a training example). */
  private def tokenHashes(text: Column): Column =
    coalesce(HashExpressions.portableTokenHashes(text),
      array().cast("array<bigint>"))

  /** w·x + b for one document. */
  def margin(text: Column, model: LogisticModel): Column =
    FeatureExpressions.bucketWeightSum(tokenHashes(text), model.weights) + lit(model.bias)

  private def sigmoid(m: Column): Column = lit(1.0) / (lit(1.0) + exp(-m))

  /** P(label = 1 | text) as a pure column expression — stateless, so it
    * drops into streaming plans unchanged. */
  def probability(text: Column, model: LogisticModel): Column =
    round(sigmoid(margin(text, model)), 6)

  /** P(label = 1 | text) per document. */
  def score(docs: DataFrame, model: LogisticModel, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame =
    docs.select(col(idCol), probability(col(textCol), model).as("quality_prob"))

  /** One distributed gradient step, exposed as a relation for auditing:
    * rows (j, grad, w_next) for each bucket j in [0, dim) plus the bias
    * row j = dim. `grad` is the UN-normalized residual sum Σ x_j·(p − y);
    * `w_next = w_j − lr·grad/n` (n = docs contributing to the bias row —
    * i.e. all of them). */
  def gradientStep(docs: DataFrame, labelCol: String, model: LogisticModel,
                   lr: Double = 0.1, textCol: String = "text"): DataFrame = {
    val g = gradientRaw(docs, labelCol, model, textCol)
    val n = g.filter(col("j") === model.dim).select(col("__cnt").as("__n"))
    val wLit = typedlit(model.weights.toSeq :+ model.bias)
    g.crossJoin(broadcast(n))
      .select(col("j").cast("int").as("j"),
        round(col("grad"), 6).as("grad"),
        round(element_at(wLit, col("j").cast("int") + 1)
          - lit(lr) * col("grad") / col("__n"), 6).as("w_next"))
  }

  /** (j, grad, __cnt) with full double precision — the fit loop's face. */
  private def gradientRaw(docs: DataFrame, labelCol: String, model: LogisticModel,
                          textCol: String): DataFrame = {
    val hs = col("__hs")
    val r = sigmoid(FeatureExpressions.bucketWeightSum(hs, model.weights) + lit(model.bias)) -
      col(labelCol).cast("double")
    // each token contributes the doc residual at its bucket; the appended
    // `dim` sentinel is the always-on bias feature. The residual is a column
    // BELOW the explode: beside the generator it would run once per token
    docs
      .select(col(labelCol), tokenHashes(col(textCol)).as("__hs"))
      .select(r.as("r"), hs)
      .select(col("r"), explode(concat(transform(hs, h => pmod(h, lit(model.dim.toLong))),
        array(lit(model.dim.toLong)))).as("j"))
      .groupBy("j")
      .agg(sum("r").as("grad"), count(lit(1)).as("__cnt"))
  }

  /** Batch gradient descent: `iters` full-corpus passes. Deterministic —
    * per-bucket sums are collected and folded on the driver in bucket
    * order, so executor scheduling cannot reorder the arithmetic. */
  def fit(docs: DataFrame, labelCol: String, dim: Int = 256, iters: Int = 20,
          lr: Double = 0.5, textCol: String = "text"): LogisticModel = {
    var model = zero(dim)
    var it = 0
    while (it < iters) {
      val rows = gradientRaw(docs, labelCol, model, textCol)
        .collect().map(r => (r.getLong(0).toInt, r.getDouble(1), r.getLong(2)))
      val n = rows.find(_._1 == dim).map(_._3.toDouble).getOrElse(1.0)
      val w = model.weights.clone()
      var b = model.bias
      rows.sortBy(_._1).foreach { case (j, grad, _) =>
        if (j < dim) w(j) -= lr * grad / n else b -= lr * grad / n
      }
      model = LogisticModel(w, b)
      it += 1
    }
    model
  }
}
