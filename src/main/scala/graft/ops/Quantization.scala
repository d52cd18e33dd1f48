package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.PqExpressions

/** Product quantization: train sub-codebooks with the distributed k-means,
  * encode a collection to m-byte codes, and run asymmetric-distance (ADC)
  * top-k over the codes. Composes the engine's own primitives —
  * [[Clustering.fitCenters]] per subspace, a fused encode kernel
  * ([[graft.functions.PqEncodeExpr]]), and the broadcast-query scan shape
  * of [[Similarity.bruteForceTopK]].
  *
  * This is the memory format for ANN at 100 TB: 64-dim float32 embeddings
  * (256 B) compress to m=8 one-byte-ish codes, so the scan reads ~32× fewer
  * bytes and scoring is m table lookups per candidate instead of a d-dim
  * kernel. The reference migrates vectors verbatim and delegates search to
  * the target store (`adapters/qdrant.py:163-169`); here the index
  * quantizer itself is a first-class Spark pipeline.
  */
object Quantization {

  /** Codebook-size ceiling: every subspace's ksub codewords live on the
    * driver and ride into the fused encode kernel; PQ codes address them
    * with small ints (256 is the canonical choice — Jégou et al. 2011), so
    * a ksub past this cap is a mis-scaled argument, not a bigger index.
    * Named like `Decontaminate.MaxEvalRows`: fail with the knob, not an
    * OOM. */
  private[graft] val MaxKsub = 65536

  /** Query-set ceiling for the ADC search faces: queries are collected to
    * the driver and expanded into per-query (or per-query-per-cell)
    * distance tables by contract — "queries are FEW" is now enforced, not
    * just documented. A query relation past this cap is a swapped
    * argument (the COLLECTION goes in `candidates`). */
  private[graft] val MaxQueryRows = 65536

  /** Self-pair exclusion that survives id-type mismatches: a plain
    * string compare misses a corpus id that STRINGIFIES differently from
    * the long query id — a DoubleType id column renders "5.0", zero-
    * padded string ids "05" — letting the query's own point occupy a
    * top-k slot it never did on long-id corpora. Integral corpora
    * compare as longs (exact); fractional as doubles (the column's own
    * precision); string corpora exclude on numeric-equal (when the id
    * parses as a long) OR exact string match, so "05" and "5" both
    * exclude query id 5 while "aa" never NULLs the filter. */
  private def notSelfPair(candIdType: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.types._
    val cand = col("cand_id")
    val q = col("query_id")
    candIdType match {
      case ByteType | ShortType | IntegerType | LongType =>
        cand.cast("long") =!= q
      case _: NumericType =>
        cand.cast("double") =!= q.cast("double")
      case _ =>
        val asLong = cand.cast("long")
        !(coalesce(asLong === q, lit(false)) ||
          cand.cast("string") === q.cast("string"))
    }
  }

  private def collectQueries(queries: DataFrame, idCol: String, vecCol: String) = {
    val rows = queries
      .select(col(idCol).cast("long"), transform(col(vecCol), _.cast("double")))
      .orderBy(col(idCol)).limit(MaxQueryRows + 1).collect()
    require(rows.nonEmpty, "empty query set")
    require(rows.length <= MaxQueryRows,
      s"query set exceeds Quantization.MaxQueryRows ($MaxQueryRows rows) — queries " +
        "are driver-collected into broadcast ADC tables by contract (did the " +
        "candidates/queries arguments get swapped?)")
    // loud, not an opaque NPE three calls later: the ADC faces key their
    // broadcast tables by LONG query id (unlike the id-type-agnostic
    // Similarity.bruteForceTopK/lshTopK) — a UUID/string id nulls out
    // under the cast
    require(rows.forall(r => !r.isNullAt(0)),
      s"query '$idCol' must be non-null and castable to long — the PQ/IVF-PQ " +
        "ADC faces address driver-built tables by numeric query id; for " +
        "string ids use Similarity.bruteForceTopK/lshTopK, or map ids first")
    // same loud-not-NPE contract for the vector side: a null embedding
    // otherwise NPEs three calls later inside the ADC table build with no
    // mention of which query or why
    require(rows.forall(r => !r.isNullAt(1)),
      s"query '$vecCol' must be non-null — a query without an embedding " +
        "cannot be searched (filter null-vector rows out first)")
    rows
  }

  /** Per-subspace l2² table of `vec` against every codeword: entry
    * (s)(c) = Σ_i (vec[s·dsub+i] − codebooks(s)(c)(i))², clamped to the
    * vector's tail for ragged inputs. ONE definition for the ADC faces
    * (plain PQ queries and IVF-PQ residuals) so the clamping can never
    * silently diverge between them. */
  private def subspaceL2Tables(vec: Array[Double],
                               codebooks: Array[Array[Array[Double]]],
                               dsub: Int): Array[Array[Double]] =
    codebooks.zipWithIndex.map { case (subCb, s) =>
      subCb.map { cw =>
        var acc = 0.0
        var i = 0
        val base = s * dsub
        val lim = math.min(dsub, math.max(vec.length - base, 0))
        while (i < lim) { val d = vec(base + i) - cw(i); acc += d * d; i += 1 }
        acc
      }
    }

  /** Train per-subspace codebooks: split `vecCol` into `m` contiguous
    * subvectors of dim/m components and run `iters` Lloyd's rounds on each
    * (deterministic lowest-id seeds — `iters = 1` IS the seed set, which
    * keeps the encode gate SQL-replayable).
    *
    * All m subspaces train TOGETHER, one corpus scan per round: the
    * assignment step is the fused encode kernel itself (codes[s] = that
    * round's argmin — [[graft.functions.PqEncodeExpr]]), and all m·ksub
    * centroid updates ride ONE explode + shuffle keyed on (subspace,
    * code). The earlier formulation — m independent fitCenters passes —
    * cost m×iters job waves; this is iters waves regardless of m
    * (measured 25 s → ~2 s for m=8 over 60k vectors at the 30× probe).
    * A codeword that loses every point keeps its previous value
    * (standard Lloyd's-on-PQ behavior; codebook shape never shrinks).
    *
    * Result shape: codebooks(s)(c) = codeword c of subspace s, c in seed
    * lowest-id order. Size m·ksub·(dim/m) doubles — a bounded driver
    * collect exactly like the IVF cell seeds. */
  def pqTrain(df: DataFrame, m: Int, ksub: Int, iters: Int = 1,
              vecCol: String = "embedding", idCol: String = "vec_id"): Array[Array[Array[Double]]] = {
    require(m > 0 && ksub > 0 && iters > 0)
    require(ksub <= MaxKsub,
      s"ksub = $ksub exceeds Quantization.MaxKsub ($MaxKsub) — codebooks are " +
        "driver-held and codes index them with small ints; a larger sub-codebook " +
        "is out of the PQ contract (use more subspaces m, not a wider ksub)")
    val dim = Similarity.resolveDim(df, vecCol, -1)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    // seeds: the ksub lowest-id vectors, sliced per subspace (one bounded
    // collect — same rule as Clustering.initCenters)
    val seeds = df.orderBy(col(idCol)).limit(ksub)
      .select(transform(col(vecCol), _.cast("double"))).collect()
      .map(_.getSeq[Double](0).toArray)
    require(seeds.nonEmpty, "empty training set")
    require(seeds.forall(_.length == dim), s"PQ training vectors must all have dim $dim, " +
      s"got ${seeds.map(_.length).distinct.sorted.mkString(", ")} among the seeds")
    var cb: Array[Array[Array[Double]]] =
      Array.tabulate(m)(s => seeds.map(v => v.slice(s * dsub, math.min((s + 1) * dsub, v.length))))
    var it = 1
    while (it < iters) {
      val updates = df
        .select(transform(col(vecCol), _.cast("double")).as("__v"),
          PqExpressions.pqEncode(col(vecCol), cb).getField("codes").as("__codes"))
        .select(posexplode(col("__codes")).as(Seq("__s", "__code")), col("__v"))
        .select(col("__s"), col("__code"),
          slice(col("__v"), col("__s") * lit(dsub) + lit(1), lit(dsub)).as("__sub"))
        .groupBy("__s", "__code")
        .agg(graft.functions.VectorAggFunctions.vecCentroid(col("__sub")).as("__c"))
        .collect() // ≤ m·ksub rows — bounded like the seed collect
      val next = cb.map(_.map(identity)) // empty cells keep their codeword
      updates.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
      }
      cb = next
      it += 1
    }
    cb
  }

  /** struct(codes, recon_err) for each vector — one fused compiled pass
    * ([[graft.functions.PqEncodeExpr]]). */
  def pqEncode(v: Column, codebooks: Array[Array[Array[Double]]]): Column =
    PqExpressions.pqEncode(v, codebooks)

  /** PQ reconstruction of a code array: concat of the selected codewords —
    * the decode side of the format, as a plain column expression over the
    * broadcast codebooks. */
  def pqDecode(codes: Column, codebooks: Array[Array[Array[Double]]]): Column = {
    val subs = codebooks.zipWithIndex.map { case (cb, s) =>
      element_at(typedLit(cb.map(_.toSeq).toSeq), element_at(codes, s + 1) + 1)
    }
    concat(subs: _*)
  }

  /** ADC top-k: encode the candidates once (a full scan producing the
    * narrow codes column), precompute each query's m×ksub distance table on
    * the driver (queries are FEW — same broadcast contract as
    * [[Similarity.bruteForceTopK]]), then score every (candidate, query)
    * with m lookups and keep the k nearest per query. Ties break to the
    * lowest candidate id. Output: (query_id, cand_id, dist, rk) — dist is
    * the asymmetric l2 approximation, rounded like the exact ops.
    *
    * The scan shape at scale: one narrow pass over the codes, a broadcast
    * nested-loop against the tiny query set, one shuffle for the per-query
    * top-k window — identical plan skeleton to brute force, but the scored
    * payload is m ints/candidate instead of the full vector. */
  /** @param reRank 0 = rank purely by ADC distance (dist is the l2
    *               approximation). > 0 = the standard two-stage recipe:
    *               shortlist `reRank` candidates per query by ADC, then
    *               re-score ONLY those against the original vectors and
    *               return the exact-l2 top-k — the quantization error
    *               cancels out of the final ranking while the full-width
    *               vector column is read for k·reRank rows, not the
    *               collection (on near-uniform data where distances
    *               concentrate, this is what restores recall). */
  def pqTopK(candidates: DataFrame, queries: DataFrame, k: Int,
             m: Int = 8, ksub: Int = 16, iters: Int = 2,
             idCol: String = "vec_id", vecCol: String = "embedding",
             reRank: Int = 0): DataFrame = {
    val codebooks = pqTrain(candidates, m, ksub, iters, vecCol, idCol)
    val dsub = codebooks(0)(0).length

    val coded = candidates.select(col(idCol).as("cand_id"),
      pqEncode(col(vecCol), codebooks).getField("codes").as("codes"))

    // bounded collect: the query set (broadcast by contract, enforced via
    // MaxQueryRows), one l2² table per query against every codeword
    val qRows = collectQueries(queries, idCol, vecCol)
    val tables: Array[Array[Array[Double]]] =
      qRows.map(r => subspaceL2Tables(r.getSeq[Double](1).toArray, codebooks, dsub))
    val spark = candidates.sparkSession
    import spark.implicits._
    val qdf = qRows.zipWithIndex.map { case (r, i) => (r.getLong(0), i) }
      .toSeq.toDF("query_id", "query_idx")

    val w = Window.partitionBy("query_id").orderBy(col("dist").asc, col("cand_id").asc)
    val adc = coded.crossJoin(broadcast(qdf))
      // type-aware self-pair compare: a naive long==string coercion NULLs
      // the three-valued filter (silently empty top-k), and a naive
      // string compare misses "5.0"/"05" faces — see [[notSelfPair]]
      .filter(notSelfPair(coded.schema("cand_id").dataType))
      .withColumn("dist",
        round(PqExpressions.pqAdcDistance(col("codes"), col("query_idx"), tables), 6))
      .withColumn("rk", row_number().over(w))

    if (reRank <= 0) {
      adc.filter(col("rk") <= k).select("query_id", "cand_id", "dist", "rk")
    } else {
      exactReRank(adc.filter(col("rk") <= math.max(k, reRank)).select("query_id", "cand_id"),
        candidates, queries, k, idCol, vecCol)
    }
  }

  /** Exact-l2 re-rank of an ADC shortlist: the shortlist is tiny
    * (queries × reRank rows), so the exact re-score is one selective join
    * back to the vectors — the quantization error cancels out of the
    * final ranking. */
  private def exactReRank(shortlist: DataFrame, candidates: DataFrame, queries: DataFrame,
                          k: Int, idCol: String, vecCol: String): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("dist").asc, col("cand_id").asc)
    val qv = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")))
    val cv = candidates.select(col(idCol).as("cand_id"), col(vecCol).as("c_vec"))
    shortlist.join(cv, Seq("cand_id"))
      .join(qv, Seq("query_id"))
      .withColumn("dist",
        round(graft.functions.VectorExpressions.l2(col("q_vec"), col("c_vec")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("query_id", "cand_id", "dist", "rk")
  }

  /** IVF-PQ (IVFADC — Jégou et al. 2011 §IV): the composed index layout
    * for ANN over a collection that doesn't fit RAM uncompressed.
    *
    *  1. a coarse quantizer ([[Clustering.fitCenters]], nCells centers)
    *     partitions the collection into cells — at scale the cell id is a
    *     partition/bucket key, so a probe touches only matching files;
    *  2. each vector stores its cell id + the PQ CODES OF ITS RESIDUAL
    *     (v − cell center, one fused [[graft.functions.NearestResidualExpr]]
    *     pass): the residual spread is what's left after the coarse
    *     quantizer, so the same m-byte budget buys a finer grid than PQ
    *     over raw vectors;
    *  3. a query probes its `nProbe` nearest cells, scoring codes against
    *     PER-CELL ADC tables (the query residual differs per cell) — all
    *     tables driver-built, queries × nCells × m × ksub doubles, bounded.
    *
    * `reRank > 0` re-scores the ADC shortlist exactly, like [[pqTopK]].
    * nProbe = nCells (exhaustive probe) with iters = 1 everywhere is the
    * SQL-replayable gate configuration (q_ann_ivfpq). */
  def ivfPqTopK(candidates: DataFrame, queries: DataFrame, k: Int,
                nCells: Int = 16, nProbe: Int = 4, m: Int = 8, ksub: Int = 16,
                quantizerIters: Int = 1, pqIters: Int = 1, reRank: Int = 0,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (index, coded) = buildIvfPqIndex(candidates, nCells, m, ksub,
      quantizerIters, pqIters, idCol, vecCol)
    searchIvfPq(index, coded, queries, k, nProbe, reRank,
      reRankVectors = if (reRank > 0) Some(candidates) else None, idCol, vecCol)
  }

  /** The trained IVF-PQ index metadata: coarse cell centers (addressed by
    * index, sorted-center-id order) + per-subspace PQ codebooks over the
    * residuals. Small by construction — nCells·dim + m·ksub·dsub doubles. */
  case class IvfPqIndex(cells: Array[Array[Double]],
                        codebooks: Array[Array[Array[Double]]])

  /** Train the coarse quantizer + residual PQ codebooks and encode the
    * collection. Returns (index metadata, coded collection) — `coded` is
    * the narrow (cand_id, cell_id, codes) table: the thing you persist and
    * scan at query time instead of the float vectors. */
  def buildIvfPqIndex(candidates: DataFrame, nCells: Int = 16, m: Int = 8, ksub: Int = 16,
                      quantizerIters: Int = 1, pqIters: Int = 1,
                      idCol: String = "vec_id", vecCol: String = "embedding"): (IvfPqIndex, DataFrame) = {
    // coarse quantizer: bounded collect, sorted by center id; cells are
    // addressed by INDEX in this order throughout (id-type agnostic)
    val cellVecs = Clustering.fitCenters(candidates, nCells, quantizerIters, vecCol, idCol)
      .orderBy("center_id")
      .select(transform(col("center"), _.cast("double")))
      .collect().map(_.getSeq[Double](0).toArray)

    // one scan: cell assignment + residual, fused. MATERIALIZED: this is
    // the most expensive kernel in the build (full-collection nearest-
    // center argmin + residual) and has several consumers — pqTrain's
    // seed collect + each Lloyd round + the final encode scan — which
    // would each recompute it from lineage otherwise
    val resDf = Materialize(candidates
      .select(col(idCol),
        graft.functions.VectorExpressions.nearestResidual(col(vecCol), cellVecs).as("nr"))
      .select(col(idCol), col("nr.idx").as("cell_id"), col("nr.residual").as("res")))

    // PQ codebooks over residuals; encode = second scan producing the
    // narrow (cand_id, cell_id, codes) index table
    val cb = pqTrain(resDf, m, ksub, pqIters, "res", idCol)
    val coded = resDf.select(col(idCol).as("cand_id"), col("cell_id"),
      pqEncode(col("res"), cb).getField("codes").as("codes"))
    (IvfPqIndex(cellVecs, cb), coded)
  }

  /** Persist a built index: `dir/meta` holds the cells + codebooks (one
    * row), `dir/codes` the coded collection — both plain parquet, readable
    * by anything. The float vectors are NOT stored: at 100 TB the codes
    * table is ~32× narrower, and exact re-rank (when wanted) reads the
    * original collection selectively. */
  def saveIvfPqIndex(dir: String, index: IvfPqIndex, coded: DataFrame): Unit = {
    val spark = coded.sparkSession
    import spark.implicits._
    Seq((index.cells.map(_.toSeq).toSeq,
      index.codebooks.map(_.map(_.toSeq).toSeq).toSeq))
      .toDF("cells", "codebooks")
      .write.mode("overwrite").parquet(s"$dir/meta")
    coded.write.mode("overwrite").parquet(s"$dir/codes")
  }

  /** Load a persisted index: metadata to the driver (bounded — same shape
    * it trained at), codes stay a lazy scan. */
  def loadIvfPqIndex(spark: org.apache.spark.sql.SparkSession, dir: String): (IvfPqIndex, DataFrame) = {
    val meta = spark.read.parquet(s"$dir/meta").head()
    val cells = meta.getSeq[scala.collection.Seq[Double]](0).map(_.toArray).toArray
    val cb = meta.getSeq[scala.collection.Seq[scala.collection.Seq[Double]]](1)
      .map(_.map(_.toArray).toArray).toArray
    (IvfPqIndex(cells, cb), spark.read.parquet(s"$dir/codes"))
  }

  /** ADC search over a built/loaded index: probe the `nProbe` nearest
    * cells per query with per-(query, cell) residual distance tables.
    * `reRankVectors` (the original collection) must be supplied iff
    * `reRank > 0`. */
  def searchIvfPq(index: IvfPqIndex, coded: DataFrame, queries: DataFrame, k: Int,
                  nProbe: Int = 4, reRank: Int = 0,
                  reRankVectors: Option[DataFrame] = None,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cellVecs = index.cells
    val cb = index.codebooks
    val nCells = cellVecs.length
    require(nProbe > 0 && nProbe <= nCells)
    require(reRank <= 0 || reRankVectors.nonEmpty,
      "exact re-rank needs the original vector collection")
    val dsub = cb(0)(0).length

    // probe list FIRST: the nProbe cells nearest each query (l2, ties to
    // the lowest cell) — driver-derived, queries are bounded
    val qRows = collectQueries(queries, idCol, vecCol)
    val probed: Array[(Int, Int)] = qRows.zipWithIndex.flatMap { case (r, qi) =>
      val qv = r.getSeq[Double](1).toArray
      cellVecs.zipWithIndex.map { case (cv, ci) =>
        var acc = 0.0
        val n = math.min(qv.length, cv.length)
        var i = 0
        while (i < n) { val d = qv(i) - cv(i); acc += d * d; i += 1 }
        (acc, ci)
      }.sortBy(identity).take(nProbe).map { case (_, ci) => (qi, ci) }
    }
    // ADC tables ONLY for the (query, probed-cell) pairs, densely indexed:
    // building all nCells tables per query wasted (nCells−nProbe)/nCells
    // of the driver work AND of the reference object serialized into
    // every executor task — only probed indexes are ever addressed
    val tables: Array[Array[Array[Double]]] = probed.map { case (qi, ci) =>
      val qv = qRows(qi).getSeq[Double](1).toArray
      val cv = cellVecs(ci)
      val qres = Array.tabulate(qv.length)(i => qv(i) - (if (i < cv.length) cv(i) else 0.0))
      subspaceL2Tables(qres, cb, dsub)
    }
    val spark = coded.sparkSession
    import spark.implicits._
    val qdf = probed.zipWithIndex
      .map { case ((qi, ci), ti) => (qRows(qi).getLong(0), ci, ti) }
      .toSeq.toDF("query_id", "cell_id", "tbl_idx")

    val w = Window.partitionBy("query_id").orderBy(col("dist").asc, col("cand_id").asc)
    val adc = coded.join(broadcast(qdf), Seq("cell_id"))
      // type-aware self-pair compare: a naive long==string coercion NULLs
      // the three-valued filter (silently empty top-k), and a naive
      // string compare misses "5.0"/"05" faces — see [[notSelfPair]]
      .filter(notSelfPair(coded.schema("cand_id").dataType))
      .withColumn("dist",
        round(PqExpressions.pqAdcDistance(col("codes"), col("tbl_idx"), tables), 6))
      .withColumn("rk", row_number().over(w))
    if (reRank <= 0) adc.filter(col("rk") <= k).select("query_id", "cand_id", "dist", "rk")
    else exactReRank(adc.filter(col("rk") <= math.max(k, reRank)).select("query_id", "cand_id"),
      reRankVectors.get, queries, k, idCol, vecCol)
  }
}
