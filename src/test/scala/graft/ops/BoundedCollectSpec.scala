package graft.ops

import graft.SparkSpec

/** The driver-side collects in the ANN/clustering family are bounded BY
  * CONTRACT (centers, codebooks, query sets are small by construction) —
  * these specs pin that each contract is now ENFORCED with a require that
  * names its knob, so a mis-scaled or swapped argument fails fast with the
  * fix instead of a driver OOM mid-collect (the same shape as
  * `Decontaminate.MaxEvalRows`). */
class BoundedCollectSpec extends SparkSpec {

  private def vecsDf(n: Long, dim: Int = 4) =
    spark.range(n).selectExpr("id as vec_id",
      s"transform(sequence(1, $dim), i -> cast(id % 7 + i as float)) as embedding")

  test("fitCenters: k past MaxCenters fails naming the knob, before any job") {
    val e = intercept[IllegalArgumentException] {
      Clustering.fitCenters(vecsDf(10), k = Clustering.MaxCenters + 1, iters = 2)
    }
    assert(e.getMessage.contains("MaxCenters"), e.getMessage)
  }

  test("assign: an uncollectable center relation fails naming MaxCenters") {
    val centers = spark.range(Clustering.MaxCenters + 5L)
      .selectExpr("id as center_id",
        "array(cast(id as double), 0.0d, 0.0d, 0.0d) as center")
    val e = intercept[IllegalArgumentException] {
      Clustering.assign(vecsDf(3), centers).collect()
    }
    assert(e.getMessage.contains("MaxCenters"), e.getMessage)
    assert(e.getMessage.contains("assignViaShuffle"), e.getMessage) // names the fallback
  }

  test("pqTrain: ksub past MaxKsub fails naming the knob") {
    val e = intercept[IllegalArgumentException] {
      Quantization.pqTrain(vecsDf(10), m = 2, ksub = Quantization.MaxKsub + 1)
    }
    assert(e.getMessage.contains("MaxKsub"), e.getMessage)
  }

  test("pqTrain: a training vector of another dimension fails typed, not in the encode") {
    // odd ids at half the dimension: the lowest-id seeds mix 4 and 2
    val mixed = vecsDf(10).selectExpr("vec_id",
      "IF(vec_id % 2 = 1, slice(embedding, 1, 2), embedding) AS embedding")
    val e = intercept[IllegalArgumentException] {
      Quantization.pqTrain(mixed, m = 2, ksub = 4)
    }
    assert(e.getMessage.contains("dim 4"), e.getMessage)
  }

  test("k-means seeds skip null vectors; an all-null input fails typed") {
    val someNull = vecsDf(10).selectExpr("vec_id",
      "IF(vec_id < 2, CAST(NULL AS array<float>), embedding) AS embedding")
    val centers = Clustering.fitCenters(someNull, k = 3, iters = 2).collect()
    assert(centers.length == 3 && centers.forall(!_.isNullAt(1)))
    val allNull = vecsDf(4).selectExpr("vec_id", "CAST(NULL AS array<float>) AS embedding")
    val e = intercept[IllegalArgumentException] {
      Clustering.kmeans(allNull, k = 2, iters = 2).collect()
    }
    assert(e.getMessage.contains("empty center set"), e.getMessage)
  }

  test("pqTopK: an oversized query set fails naming MaxQueryRows, not an OOM") {
    val e = intercept[IllegalArgumentException] {
      Quantization.pqTopK(vecsDf(8), queries = vecsDf(Quantization.MaxQueryRows + 5L),
        k = 2, m = 2, ksub = 4, iters = 1)
    }
    assert(e.getMessage.contains("MaxQueryRows"), e.getMessage)
    assert(e.getMessage.contains("swapped"), e.getMessage) // diagnoses the likely cause
  }

  test("pqTopK: string query ids fail loudly, not as an opaque NPE") {
    import spark.implicits._
    val cands = vecsDf(16)
    val strQueries = Seq(("a-uuid-like-id", Seq(0.1f, 0.2f, 0.3f, 0.4f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Quantization.pqTopK(cands, strQueries, k = 2, m = 2, ksub = 4, iters = 1)
    }
    assert(e.getMessage.contains("castable to long"), e.getMessage)
    assert(e.getMessage.contains("bruteForceTopK"), e.getMessage) // names the alternative
  }

  test("searchIvfPq: the per-cell-table face enforces the same query ceiling") {
    val (index, coded) = Quantization.buildIvfPqIndex(vecsDf(8), nCells = 2,
      m = 2, ksub = 4)
    val e = intercept[IllegalArgumentException] {
      Quantization.searchIvfPq(index, coded,
        queries = vecsDf(Quantization.MaxQueryRows + 5L), k = 2, nProbe = 1)
    }
    assert(e.getMessage.contains("MaxQueryRows"), e.getMessage)
  }

  test("the guards leave in-contract workloads untouched (smoke)") {
    val out = Quantization.pqTopK(vecsDf(32), queries = vecsDf(2), k = 3,
      m = 2, ksub = 4, iters = 2)
    assert(out.count() > 0)
  }
}
