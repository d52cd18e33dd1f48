package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{VectorAggFunctions, VectorExpressions}

/** Distributed Lloyd's k-means over an embedding column — the clustering
  * primitive under IVF index construction and semantic (centroid-bucket)
  * dedup. Reference scope stops at store-to-store migration; this serves
  * the index-building side of the stores it migrates (IVF cell lists).
  *
  * Scale shape per iteration: the k centers (k·dim doubles — bounded,
  * driver-collected like the IVF seeds) ride into a single codegen'd
  * argmin expression, so assignment is ONE corpus scan with no join, no
  * row inflation, and no shuffle; the centroid update is one vecCentroid
  * aggregate (a single dim-length buffer per cluster through the shuffle).
  * Centers stay a DataFrame between rounds, eagerly checkpointed so
  * lineage stays flat.
  */
object Clustering {

  /** Driver-materialization ceiling for the center set: every k-means
    * round collects k·dim doubles into the fused argmin kernel's reference
    * object — at 768-dim that's ~400 MB of codegen literals at this cap,
    * already past sensible. A k above it is virtually always a swapped or
    * mis-scaled argument (k should be cells/clusters, not rows); failing
    * with the knob's name beats a driver OOM mid-collect — the same
    * contract-enforcement shape as `Decontaminate.MaxEvalRows`. */
  private[graft] val MaxCenters = 65536

  /** Deterministic seed centers: the k lowest-id non-null vectors
    * (k-means++ is a quality upgrade, not a scale requirement — sorted ids
    * keep the gate SQL-replayable). */
  def initCenters(df: DataFrame, k: Int, vecCol: String = "embedding",
                  idCol: String = "vec_id"): DataFrame =
    df.filter(col(vecCol).isNotNull).orderBy(col(idCol)).limit(k)
      .select(col(idCol).as("center_id"),
        transform(col(vecCol), _.cast("double")).as("center"))

  /** Farthest-point (k-center) seeding: start from the lowest-id vector,
    * repeatedly add the point with the LARGEST distance to its nearest
    * chosen center (ties break to the lowest id). Deterministic — no RNG —
    * and spreads seeds across the data's extent where lowest-id seeding
    * can clump. Cost: k-1 assign passes over the corpus (each one
    * broadcast-scored, no shuffle beyond the 1-row TakeOrdered), the
    * known price of this init; at large k use [[initCentersParallel]]
    * (k-means|| — O(rounds) passes). The per-round 1-row limit is the
    * same bounded pattern as the IVF seed collect. */
  def initCentersFarthest(df: DataFrame, k: Int, vecCol: String = "embedding",
                          idCol: String = "vec_id"): DataFrame = {
    require(k > 0)
    val vecs = df.select(col(idCol), col(vecCol))
    var centers = Materialize(initCenters(vecs, 1, vecCol, idCol))
    var i = 1
    while (i < k) {
      // !isnan: a corrupt (NaN-component) vector sorts ABOVE every finite
      // distance under desc and would be re-picked forever; left_anti on
      // the chosen set: when k exceeds the number of distinct points all
      // remaining dists are 0 and the max would re-pick an existing
      // center — dedup makes the round come up EMPTY instead, and the
      // loop stops with the centers that exist (fewer than k)
      val next = Materialize(assign(vecs, centers, vecCol, idCol)
        .filter(!isnan(col("dist")))
        .join(centers.select(col("center_id").as(idCol)), Seq(idCol), "left_anti")
        .orderBy(col("dist").desc, col(idCol).asc).limit(1)
        .join(vecs, idCol)
        .select(col(idCol).as("center_id"),
          transform(col(vecCol), _.cast("double")).as("center")))
      if (next.isEmpty) i = k
      else { centers = Materialize(centers.union(next)); i += 1 }
    }
    centers
  }

  /** k-means|| oversampling init (Bahmani, Moseley, Vattani, Kumar &
    * Vassilvitskii 2012): the scale replacement for
    * [[initCentersFarthest]]'s k−1 sequential passes. Each of `rounds`
    * passes samples every point INDEPENDENTLY with probability
    * min(1, oversample·d²(x)/cost) — one distributed assign + one agg per
    * round, so the pass count is O(rounds), not O(k). The oversampled
    * candidate set (~1 + rounds·oversample points) is then weighted by
    * coverage (how many corpus points each candidate is nearest to) and
    * reduced to k on the driver with a deterministic weighted
    * farthest-point sweep — the candidate set is BY CONSTRUCTION small, so
    * the driver step is bounded exactly like the codebook collects.
    *
    * Deterministic: the per-point coin is xxhash64(id, round) mapped into
    * [0, 1) — no RNG state, identical on any partitioning. If sampling
    * leaves fewer than k candidates (tiny inputs), the lowest-id vectors
    * not already sampled fill the gap. */
  def initCentersParallel(df: DataFrame, k: Int, rounds: Int = 3, oversample: Int = -1,
                          vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    require(k > 0 && rounds > 0)
    require(k <= MaxCenters,
      s"k = $k exceeds Clustering.MaxCenters ($MaxCenters) — same " +
        "collectable-centers contract as fitCenters")
    // the driver-side weighted reduction keys candidates by LONG id;
    // INTEGRAL only: a string id would cast to null and NPE in the collect
    // below, and a FRACTIONAL id (1.7) truncates to a long (1) that the
    // fill path's anti-join then fails to match — re-adding the same
    // vector under a fabricated id. Fail loudly and name the
    // any-id-type-capable path.
    require({
      import org.apache.spark.sql.types._
      Seq(LongType, IntegerType, ShortType, ByteType).contains(df.schema(idCol).dataType)
    },
      s"initCentersParallel requires an integral '$idCol' (got " +
        s"${df.schema(idCol).dataType.simpleString}); for string/fractional ids use " +
        "fitCenters/initCenters, whose centers stay DataFrames end to end")
    val l = if (oversample > 0) oversample else 2 * k
    val spark = df.sparkSession
    val vecs = df.select(col(idCol), col(vecCol))
    val P = 2147483647L // the MinHash Mersenne prime doubles as the coin modulus
    // __r tags the round each candidate FIRST appeared in, so the cap
    // below can evict oldest-first instead of keeping lowest ids
    var cands = Materialize(initCenters(vecs, 1, vecCol, idCol)
      .withColumn("__r", lit(0)))
    var r = 0
    while (r < rounds) {
      val assigned = assign(vecs, cands.drop("__r"), vecCol, idCol)
      // NaN-dist rows (corrupt embeddings) are excluded from the cost: a
      // single NaN would make cost NaN, every `cost > 0` false, and ALL
      // k-means|| sampling silently skipped — degrading to lowest-id
      // seeds while claiming parallel-init quality. (Such rows also never
      // sample themselves: NaN > coin is false.)
      val costRow = assigned
        .agg(sum(when(!isnan(col("dist")), col("dist") * col("dist")))).head()
      val cost = if (costRow.isNullAt(0)) 0.0 else costRow.getDouble(0)
      if (cost > 0) {
        val coin = pmod(xxhash64(col(idCol), lit(r)), lit(P)).cast("double") / lit(P.toDouble)
        val picked = assigned
          .filter(col("dist") * col("dist") * lit(l.toDouble) / lit(cost) > coin)
          .select(col(idCol))
        val next = vecs.join(picked, idCol)
          .select(col(idCol).as("center_id"),
            transform(col(vecCol), _.cast("double")).as("center"))
          .withColumn("__r", lit(r + 1))
        // cap the candidate set at MaxCenters: expected size ~1 + rounds·2k
        // can exceed the per-round assign's collect contract for large-but-
        // valid k. Trim FRESHEST-ROUND-FIRST (then lowest id, for
        // determinism): the round's new picks were sampled far from the
        // current candidates — evicting them (as a lowest-id trim did once
        // higher ids dominated new picks) would spend every round's
        // sampling on candidates the cap immediately discards, degrading
        // k-means|| spread toward lowest-id seeds. A re-picked candidate
        // keeps its ORIGINAL round tag (min) — it is not fresh.
        cands = Materialize(cands.union(next)
          .groupBy(col("center_id"))
          .agg(min(col("__r")).as("__r"), first(col("center")).as("center"))
          .orderBy(col("__r").desc, col("center_id"))
          .limit(MaxCenters)
          .select(col("center_id"), col("center"), col("__r")))
      }
      r += 1
    }
    // coverage weights: one more assign pass, counts per candidate
    val candsFinal = cands.drop("__r")
    val weights = assign(vecs, candsFinal, vecCol, idCol)
      .groupBy(col("cluster_id").as("center_id")).agg(count(lit(1)).as("w"))
    val weighted = candsFinal.join(weights, Seq("center_id"), "left_outer")
      .select(col("center_id").cast("long"),
        transform(col("center"), _.cast("double")), coalesce(col("w"), lit(0L)))
      .collect()
      .map(row => (row.getLong(0), row.getSeq[Double](1).toArray, row.getLong(2)))
    val chosen = reduceWeighted(weighted, k)
    // fill from lowest ids if sampling under-shot k (tiny inputs only)
    val base = spark.createDataFrame(
      spark.sparkContext.parallelize(chosen.toIndexedSeq.map(c =>
        org.apache.spark.sql.Row(c._1, c._2.toSeq)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("center_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("center",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, containsNull = false), nullable = false))))
    if (chosen.length >= k) Materialize(base)
    else {
      // orderBy BEFORE limit: the left_anti join destroys initCenters'
      // ordering, and an unordered limit picks an arbitrary subset —
      // breaking the documented determinism on exactly the tiny inputs
      // this fill path exists for
      val fill = initCenters(vecs, k, vecCol, idCol)
        .join(base.select(col("center_id")), Seq("center_id"), "left_anti")
        .orderBy(col("center_id"))
        .limit(k - chosen.length)
      Materialize(base.union(fill))
    }
  }

  /** Deterministic weighted farthest-point reduction of an oversampled
    * candidate set: start from the heaviest candidate (ties → lowest id),
    * then greedily add the candidate maximizing weight·d²(c, nearest
    * chosen) (ties → lowest id). Pure driver code over the SMALL candidate
    * array — the k-means|| paper's final clustering step, done greedily
    * for determinism. */
  private def reduceWeighted(cands: Array[(Long, Array[Double], Long)],
                             k: Int): Array[(Long, Array[Double])] = {
    if (cands.isEmpty) return Array.empty
    val sorted = cands.sortBy(_._1)
    val n = sorted.length
    val chosen = scala.collection.mutable.ArrayBuffer.empty[Int]
    // membership as a mask, not chosen.contains (a linear buffer scan
    // inside the candidate loop made the reduction O(k²·n) at exactly the
    // large k this path targets)
    val chosenMask = new Array[Boolean](n)
    var first = 0
    var i = 1
    while (i < n) { if (sorted(i)._3 > sorted(first)._3) first = i; i += 1 }
    chosen += first
    chosenMask(first) = true
    val minD2 = Array.tabulate(n)(j => d2(sorted(j)._2, sorted(first)._2))
    while (chosen.length < math.min(k, n)) {
      var best = -1
      var bestScore = -1.0
      var j = 0
      while (j < n) {
        if (!chosenMask(j)) {
          val score = sorted(j)._3.toDouble * minD2(j)
          if (score > bestScore) { bestScore = score; best = j }
        }
        j += 1
      }
      chosen += best
      chosenMask(best) = true
      var t = 0
      while (t < n) {
        val d = d2(sorted(t)._2, sorted(best)._2)
        if (d < minD2(t)) minD2(t) = d
        t += 1
      }
    }
    chosen.map(j => (sorted(j)._1, sorted(j)._2)).toArray
  }

  private def d2(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < n) { val d = a(i) - b(i); acc += d * d; i += 1 }
    acc
  }

  /** Collect a (bounded — k rows, the centers are BY CONSTRUCTION few) center
    * set, id-sorted, for the fused argmin kernel: ids as a LITERAL ARRAY
    * column (id-type agnostic — canonical records carry string ids) plus
    * the center vectors for the kernel's reference object. The only driver
    * materialization in the k-means path, same shape as the IVF seed
    * collect (`Similarity.ivfTopK`). */
  private[graft] def collectCenters(centers: DataFrame): (Column, Array[Array[Double]]) = {
    val rows = centers
      .select(col("center_id"), transform(col("center"), _.cast("double")))
      .orderBy("center_id").limit(MaxCenters + 1).collect()
    require(rows.nonEmpty, "empty center set")
    require(rows.forall(!_.isNullAt(1)), "a center vector is null")
    require(rows.length <= MaxCenters,
      s"center set exceeds Clustering.MaxCenters ($MaxCenters rows) — centers are " +
        "driver-collected into the fused argmin kernel by contract (k is a cell/cluster " +
        "count, not a row count); lower k, or assign via assignViaShuffle for an " +
        "uncollectable center relation")
    (array(rows.map(r => lit(r.get(0))).toIndexedSeq: _*),
      rows.map(_.getSeq[Double](1).toArray))
  }

  /** Assign each vector to its nearest center (l2; ties break to the lowest
    * center_id — deterministic under any partitioning). Output: idCol,
    * cluster_id, dist.
    *
    * A PURE MAP: the centers (k rows) are collected once and scored inside
    * one codegen'd expression ([[VectorExpressions.nearestCenter]]) — no
    * crossJoin row inflation, no argmin shuffle. The kernel emits the
    * winning INDEX; the id comes from a literal-array lookup, so ids keep
    * whatever type the caller's table uses. The earlier
    * crossJoin(broadcast) → min(struct) formulation ([[assignViaShuffle]])
    * pushed n×k rows through a partial aggregate; map-side combine kept the
    * shuffle small, but the inflation itself was pure waste — at 100 TB the
    * assign pass is now exactly one corpus scan. */
  def assign(df: DataFrame, centers: DataFrame, vecCol: String = "embedding",
             idCol: String = "vec_id"): DataFrame = {
    val (idArr, cs) = collectCenters(centers)
    df.select(col(idCol),
        VectorExpressions.nearestCenter(col(vecCol), cs).as("best"))
      .select(col(idCol), element_at(idArr, col("best.idx") + 1).as("cluster_id"),
        col("best.dist").as("dist"))
  }

  /** The pre-round-5 assignment plan, kept as the parity witness for the
    * fused kernel (and for the hypothetical regime where the center set is
    * too large to collect): crossJoin against broadcast centers, argmin via
    * min over a (dist, center_id) struct. Bit-identical output to
    * [[assign]]. */
  private[graft] def assignViaShuffle(df: DataFrame, centers: DataFrame,
                                      vecCol: String = "embedding",
                                      idCol: String = "vec_id"): DataFrame =
    df.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(centers))
      .select(col(idCol), col(vecCol),
        struct(VectorExpressions.l2(col(vecCol), col("center")).as("dist"),
          col("center_id").as("cluster_id")).as("sc"))
      .groupBy(col(idCol))
      .agg(min(col("sc")).as("best"))
      .select(col(idCol), col("best.cluster_id").as("cluster_id"),
        col("best.dist").as("dist"))

  /** Centers after `iters` Lloyd's rounds (iters = 1 is the raw seed set;
    * each further round is assign → vecCentroid update). Clusters that
    * lose every point drop out (standard Lloyd's behavior — pass a larger
    * k to compensate). Centers stay a DataFrame, eagerly checkpointed per
    * round so lineage stays flat; nothing driver-side. */
  def fitCenters(df: DataFrame, k: Int, iters: Int, vecCol: String = "embedding",
                 idCol: String = "vec_id", farthestInit: Boolean = false): DataFrame = {
    require(k > 0)
    require(k <= MaxCenters,
      s"k = $k exceeds Clustering.MaxCenters ($MaxCenters) — every Lloyd's round " +
        "collects the k centers to the driver for the fused argmin kernel; a larger " +
        "k is out of the collectable-centers contract")
    val vecs = df.select(col(idCol), col(vecCol))
    val init =
      if (farthestInit) initCentersFarthest(vecs, k, vecCol, idCol)
      else Materialize(initCenters(vecs, k, vecCol, idCol))
    fitCentersFrom(vecs, init, iters, vecCol, idCol)
  }

  /** Lloyd's rounds from a caller-provided seed set (e.g.
    * [[initCentersParallel]] for large k). `iters = 1` returns the seeds.
    *
    * Each round is ONE corpus scan: the fused nearest-center kernel and
    * the centroid aggregate share a single projection that carries the
    * vector through — no corpus self-join to re-fetch the vector the map
    * just read (the pre-round-13 shape paid an O(n) shuffle join per
    * round for exactly that). */
  def fitCentersFrom(df: DataFrame, init: DataFrame, iters: Int,
                     vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    require(iters > 0)
    val vecs = df.select(col(idCol), col(vecCol)).filter(col(vecCol).isNotNull)
    var centers = init
    var i = 1
    while (i < iters) {
      val (idArr, cs) = collectCenters(centers)
      centers = Materialize(vecs
        .select(col(vecCol),
          element_at(idArr,
            VectorExpressions.nearestCenter(col(vecCol), cs).getField("idx") + 1)
            .as("cluster_id"))
        .groupBy(col("cluster_id"))
        .agg(VectorAggFunctions.vecCentroid(col(vecCol)).as("center"))
        .select(col("cluster_id").as("center_id"), col("center")))
      i += 1
    }
    centers
  }

  /** Lloyd's k-means: the final (idCol, cluster_id, dist) assignment after
    * `iters` rounds. */
  def kmeans(df: DataFrame, k: Int, iters: Int, vecCol: String = "embedding",
             idCol: String = "vec_id", farthestInit: Boolean = false): DataFrame =
    assign(df.select(col(idCol), col(vecCol)),
      fitCenters(df, k, iters, vecCol, idCol, farthestInit), vecCol, idCol)

  /** Within-cluster sum of squared distances for an assignment — the
    * convergence metric (must be non-increasing over Lloyd's rounds). */
  def inertia(assigned: DataFrame): Double =
    assigned.agg(sum(col("dist") * col("dist"))).head().getDouble(0)

  /** Embedding-quality outlier detection: cluster the collection, then
    * flag rows whose distance to their centroid exceeds that CLUSTER's
    * `q`-quantile — corrupt/degenerate embeddings surface as far-from-
    * everything rows, and the per-cluster cut keeps a tight cluster's
    * outliers visible next to a diffuse cluster's spread.
    *
    * Scale shape: [[kmeans]]'s fused single-scan assignment, one
    * per-cluster exact-percentile aggregate (k rows, broadcast back), one
    * final map — no extra corpus shuffle. Exact `percentile` sorts per
    * group; at extreme row counts swap `approx_percentile` into the same
    * plan. Distances are pre-rounded to 6 decimals so the cut and the
    * comparison replay identically in any engine.
    *
    * @return (id, cluster_id, dist, is_outlier)
    */
  def distanceOutliers(df: DataFrame, k: Int, iters: Int, q: Double = 0.95,
                       vecCol: String = "embedding",
                       idCol: String = "vec_id"): DataFrame = {
    require(q > 0 && q < 1, s"quantile out of range: $q")
    val a = kmeans(df, k, iters, vecCol, idCol)
      .select(col(idCol), col("cluster_id"), round(col("dist"), 6).as("dist"))
    val cut = a.groupBy("cluster_id").agg(percentile(col("dist"), lit(q)).as("__cut"))
    a.join(broadcast(cut), Seq("cluster_id"))
      .select(col(idCol), col("cluster_id"), col("dist"),
        (col("dist") > col("__cut")).as("is_outlier"))
  }
}
