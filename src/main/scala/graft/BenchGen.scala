package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialize an sf1-scale bench dataset from the driver's sf0.1 tables:
  * fact tables replicate `factor`× with shifted keys, dimension tables
  * copy through — `graft.Bench` then runs unchanged against the output
  * directory (`SPARK_GRAFT_SF_DIR=<out>`).
  *
  * Naive replication would plant every document/vector as a `factor`-
  * clique of exact duplicates, turning the near-dedup queries into
  * output-quadratic pathologies (BASELINE.md keeps the measurements of
  * that worst case). A BENCH scale ramp wants the corpus
  * 10× BIGGER, not 100× more duplicate pairs, so the replicas are
  * de-correlated:
  *
  *  - `documents`: copy k>0 SUFFIXES every token with a copy-specific
  *    tag (`w` → `wzqK`) — a bijection on the token vocabulary, so two
  *    docs within a copy have EXACTLY the original corpus's shingle
  *    Jaccard, while cross-copy shingle sets are disjoint. (The round-11
  *    ramp instead INTERLEAVED a shared salt token after every word;
  *    that handed every within-copy doc pair a 50%-common token stream,
  *    inflating MinHash band collisions ~6,400× at sf1 — the measured
  *    "8.1× at 10× rows" growth of q_dedup_minhash was this generator
  *    artifact, not the operator: true ≥0.3-Jaccard pairs grew exactly
  *    10×. See BASELINE.md "minhash profile at sf1".);
  *  - `embeddings`: copy k>0 re-draws each component from a hash of
  *    (vec_id, k, j) — new points in the same space, not clones;
  *  - `lineitem`/`orders`: orderkeys shift per copy (join keys stay
  *    consistent within a copy; dims are shared like a real star);
  *  - `events`: event/user ids shift per copy — 10× users, same horizon.
  *
  * `graft.Bench` builds its sf1 ramp with [[replicate]], and
  * `graft.Sweep`'s `factor` shape writes one under `<outDir>/fixtures`.
  */
object BenchGen {

  /** Bumped whenever replicate()'s output changes; rides the sf1 ramp's
    * `.source` marker so a ramp built by an older generator is rebuilt,
    * never silently reused (v2: token-suffix de-correlation replaced the
    * interleaved-salt scheme that inflated MinHash band collisions;
    * v3: fact/corpus tables land as MULTIPLE files — the v2 ramp wrote
    * one single-row-group file per table, so EVERY sf1 scan stage ran on
    * one core regardless of SPARK_GRAFT_CPUS, serializing exactly the
    * per-row work the ramp exists to measure at scale. Guide §6: control
    * the layout of anything you write; v4: source schemas kept — v3 wrote
    * `n_chars` as int and re-drawn embeddings as array<double>). */
  val rampVersion = 4

  private val Shift = 1000000000L

  def replicate(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    def read(t: String): DataFrame = Tables(spark, src, t)
    // dimension tables stay single-file (tiny, broadcast-read); fact and
    // corpus tables land as SIZE-PROPORTIONAL multiple files (~150k rows
    // per file, capped at 2× the generating session's cores) so scan
    // stages parallelize with the data instead of a flat count: a flat
    // 2×cores put 64 near-empty files under the 3 MB corpus tables and
    // multi-pass queries (5-seed LSH re-scans embeddings 10×) paid ~1.5 s
    // of pure task scheduling (measured r19) — while the 22 MB lineitem
    // genuinely wants the parallel scan.
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
    // rowsPerFile differs by row weight: fact rows are narrow numerics
    // (~150k rows/file keeps scan tasks meaningful), corpus rows carry
    // text/vectors with heavy per-row compute downstream (shingling,
    // chunk+embed, image codec), so they spread at ~6.25k rows/file — a
    // parquet file is ONE row group here, and a row group is the minimum
    // parallel read unit, so the file count IS the scan parallelism.
    // rows arrives ARITHMETICALLY (source count × factor — the source
    // count is parquet metadata, free) instead of df.count(): counting the
    // replicated frame ran the full crossJoin+transform once and the write
    // re-ran it, doubling generation cost (ADVICE r19).
    def writeSpread(df: DataFrame, t: String, rowsPerFile: Long, rows: Long): Unit = {
      val nFiles = math.max(1L, math.min(2L * spark.sparkContext.defaultParallelism,
        (rows + rowsPerFile - 1) / rowsPerFile)).toInt
      val spread = if (nFiles == 1) df.coalesce(1) else df.repartition(nFiles)
      spread.write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    def srcRows(t: String): Long = read(t).count() // parquet metadata count
    val copies = spark.range(factor).select(col("id").as("__k"))

    // dimensions pass through unchanged (shared across replicas, like a
    // real star schema at a bigger scale factor)
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(t => write(read(t), t))

    writeSpread(read("lineitem").crossJoin(copies)
      .withColumn("l_orderkey", col("l_orderkey") + col("__k") * Shift)
      .drop("__k"), "lineitem", 150000, srcRows("lineitem") * factor)
    writeSpread(read("orders").crossJoin(copies)
      .withColumn("o_orderkey", col("o_orderkey") + col("__k") * Shift)
      .drop("__k"), "orders", 150000, srcRows("orders") * factor)
    writeSpread(read("events").crossJoin(copies)
      .withColumn("event_id", col("event_id") + col("__k") * Shift)
      .withColumn("user_id", col("user_id") + col("__k") * Shift)
      .drop("__k"), "events", 150000, srcRows("events") * factor)

    // documents: per-copy token SUFFIX — a vocabulary bijection, so
    // within-copy similarity is preserved exactly and cross-copy shingle
    // sets are disjoint (see scaladoc for why interleaving a shared salt
    // token was wrong)
    val salted = read("documents").crossJoin(copies)
      .withColumn("text",
        when(col("__k") === 0, col("text")).otherwise(concat_ws(" ",
          transform(split(col("text"), "\\s+"),
            w => concat(w, lit("zq"), col("__k"))))))
      .withColumn("doc_id", col("doc_id") + col("__k") * Shift)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("__k")
    writeSpread(salted, "documents", 6250, srcRows("documents") * factor)

    val dim = read("embeddings").select(size(col("embedding"))).head().getInt(0)
    writeSpread(read("embeddings").crossJoin(copies)
      .withColumn("embedding",
        when(col("__k") === 0, col("embedding")).otherwise(
          transform(sequence(lit(0), lit(dim - 1)),
            j => ((hash(col("vec_id"), col("__k"), j) % 1000) / 1000.0).cast("float"))))
      .withColumn("vec_id", col("vec_id") + col("__k") * Shift)
      .drop("__k"), "embeddings", 6250, srcRows("embeddings") * factor)
  }
}
