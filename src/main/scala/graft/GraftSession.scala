package graft

import org.apache.spark.sql.SparkSession

/** Session factory with scale-aware defaults.
  *
  * The engine targets multi-executor clusters; locally we run `local[N]`.
  * Shuffle partitions are sized to the local core count (not Spark's default
  * 200) and AQE is on so skewed stages re-plan at runtime — at cluster scale
  * the same configs hold with `spark.sql.shuffle.partitions` sized to
  * 2-3x total cores.
  */
object GraftSession {
  /** SPARK_GRAFT_CPUS parsed once, validated; every consumer (library,
    * Bench, Verify, tests) sees the same value. A SET-but-garbage value
    * is a loud error, not a silent fall-back to 32 (which would skew
    * bench shuffle sizing with no warning); zero/negative likewise — they
    * would reach `local[0]` and shuffle.partitions=0 as an
    * unrelated-looking Spark failure. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case None => 32
    case Some(raw) =>
      val v = raw.trim.toIntOption.getOrElse(
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_CPUS is set but not an integer: '$raw'"))
      require(v > 0, s"SPARK_GRAFT_CPUS must be positive: $v")
      v
  }

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.extensions", "graft.GraftSparkExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Join strategy from MEASURED sizes, not estimates (r19, guide §3.1):
      // size estimates after filters/projections are unreliable — at sf1
      // the planner mis-broadcast the 6M-row lineitem FACT table into
      // q3_shipping (a single-threaded driver hash build that cost ~4 s of
      // the query's 6 s, and at 100 TB would OOM the driver outright).
      // Static estimate-driven broadcasts are disabled; AQE promotes joins
      // to broadcast (10m) or shuffled-hash (≤128m per-partition build)
      // from actual shuffle statistics at runtime. Explicit broadcast()
      // hints on known-small dimension tables are unaffected. The values
      // are scale-independent policy (meas. sf1: q3 6.04→2.26 s,
      // q_join_pricing 3.71→1.76 s, q5 3.44→3.00 s; sf0.1 board unchanged);
      // a cluster that needs others sets the Spark keys at submit time.
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "10m")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "128m")
      // Shuffle/broadcast/spill block codec (guide §2.3): Spark's default
      // lz4 stays — zstd trades CPU for ratio and A/B'd as host noise at
      // sf1 on the shuffle-heaviest rows (r19: ±20% at ≤25 MB shuffles;
      // r20 re-run on the multi-file ramp: see OPTIMIZATION_r20.md).
      .config("spark.sql.session.timeZone", "UTC")
      // Hash pipelines (rolling hash, MinHash) rely on deterministic 64-bit
      // wraparound; Spark 4's ANSI default would throw on long overflow.
      .config("spark.sql.ansi.enabled", "false")
      // testdata events.parquet has stored TIMESTAMP(NANOS) in some rounds
      // (vectorized reader rejects it; read as long, convert in Tables) and
      // tz-less TIMESTAMP(MICROS) in others (Spark 4 would infer
      // TIMESTAMP_NTZ, which unix_micros & co. reject). Pin both to one
      // session-wide answer: plain TIMESTAMP under the UTC session zone —
      // the same reading DuckDB's oracle applies.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.ui.enabled", "false")

  /** Local session for tests / CLI runs outside spark-submit. */
  def local(appName: String = "graft"): SparkSession =
    builder(appName).master(s"local[$cpus]").getOrCreate()
}
