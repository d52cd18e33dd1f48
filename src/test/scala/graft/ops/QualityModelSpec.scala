package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.FeatureExpressions

class QualityModelSpec extends SparkSpec {
  import spark.implicits._

  test("bucketWeightSum routes each hash to floorMod(h, dim)") {
    val w = Array(1.0, 10.0, 100.0)
    val df = Seq((Seq(0L, 1L, 2L, 3L, 4L), 0)).toDF("hs", "x")
      .select(FeatureExpressions.bucketWeightSum(col("hs"), w).as("s"))
    // buckets: 0,1,2,0,1 -> 1 + 10 + 100 + 1 + 10 = 122
    assert(df.head().getDouble(0) == 122.0)
  }

  test("one gradient step from zero matches hand math") {
    // two docs, one token each, same bucket iff same token
    val docs = Seq((1L, "aaa", 1.0), (2L, "aaa", 0.0), (3L, "bbb", 0.0))
      .toDF("doc_id", "text", "label")
    val step = QualityModel.gradientStep(docs, "label", QualityModel.zero(8), lr = 0.1)
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2))).toList
    // residual from w=0 is 0.5 - y: doc1 -0.5, doc2 +0.5, doc3 +0.5
    // token 'aaa' bucket: -0.5 + 0.5 = 0; token 'bbb' bucket: +0.5
    // bias (j=8): 0.5; n = 3
    val byJ = step.map(t => t._1 -> (t._2, t._3)).toMap
    assert(byJ(8)._1 == 0.5)
    assert(byJ(8)._2 == BigDecimal(-0.1 * 0.5 / 3).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble)
    val nonBias = step.filter(_._1 < 8)
    assert(nonBias.map(_._2).sorted == List(0.0, 0.5))
  }

  test("fit separates a planted good/spam corpus") {
    val good = (1 to 40).map(i =>
      (i.toLong, s"informative well researched article about engines topic$i", 1.0))
    val spam = (41 to 80).map(i =>
      (i.toLong, s"buy now click here free offer winner prize$i", 0.0))
    val docs = (good ++ spam).toDF("doc_id", "text", "label")
    val model = QualityModel.fit(docs, "label", dim = 64, iters = 30, lr = 1.0)
    val scored = QualityModel.score(docs, model)
      .join(docs.select("doc_id", "label"), "doc_id")
    val acc = scored.filter((col("quality_prob") > 0.5) === (col("label") === 1.0)).count()
    assert(acc == 80L, s"expected full separation, got $acc/80")
    // and the probabilities are confidently apart
    val gAvg = scored.filter(col("label") === 1.0).agg(avg("quality_prob")).head().getDouble(0)
    val sAvg = scored.filter(col("label") === 0.0).agg(avg("quality_prob")).head().getDouble(0)
    assert(gAvg > 0.9 && sAvg < 0.1)
  }

  test("null and empty texts train through the bias only") {
    val docs = Seq(
      (1L, null.asInstanceOf[String], 1.0),
      (2L, "", 0.0),
      (3L, "   ", 1.0)
    ).toDF("doc_id", "text", "label")
    val step = QualityModel.gradientStep(docs, "label", QualityModel.zero(4), lr = 0.1)
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toMap
    // only the bias row exists: residuals -0.5 + 0.5 - 0.5 = -0.5
    assert(step == Map(4 -> -0.5))
    // scoring a null text is defined (bias-only margin)
    val s = QualityModel.score(docs, QualityModel.zero(4))
    assert(s.collect().forall(_.getDouble(1) == 0.5))
  }

  test("gradientStep scores each document ONCE, below the explode " +
    "(a per-doc margin above the Generate re-runs per token: O(len²))") {
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    import graft.functions.BucketWeightSumExpr
    // the gate's own input: a file scan (a local Seq would be folded away)
    val docs = graft.Tables(spark, sf(), "documents")
      .withColumn("label", (col("lang") === "en").cast("double"))
    val plan = QualityModel.gradientStep(docs, "label", QualityModel.zero(64))
      .queryExecution.optimizedPlan
    def margins(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      e.collect { case m: BucketWeightSumExpr => m }
    val aboveGenerate = plan.collect {
      case p if !p.isInstanceOf[Generate] && p.exists(_.isInstanceOf[Generate]) => p
    }
    assert(aboveGenerate.nonEmpty, s"no Generate in the plan:\n$plan")
    aboveGenerate.foreach(p => assert(p.expressions.flatMap(margins).isEmpty,
      s"the margin is evaluated above the Generate in ${p.nodeName}:\n$plan"))
  }
}
