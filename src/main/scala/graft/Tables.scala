package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet-backed table catalog over the driver's synthetic testdata.
  * Scans are plain `spark.read.parquet` so Catalyst's column pruning +
  * filter pushdown reach the parquet reader unimpeded.
  *
  * TESTDATA.md documents 8 tables; the fixture dirs additionally ship
  * `documents` and `embeddings` (used by the LLM-pipeline operators), so
  * both are listed here.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Round-robin repartition to the session's core count IFF the frame's
    * current parallelism is below it — guide §2.5's fix for unsplittable
    * inputs, applied conditionally so it is a NO-OP on real multi-file
    * corpora (r19). The driver's testdata ships every table as ONE
    * single-row-group parquet file, so without this every scan stage —
    * and any expensive per-row map fused into it (image codec, shingling,
    * chunk+embed) — runs on ONE core regardless of SPARK_GRAFT_CPUS.
    * Only worth the extra exchange where downstream per-row work clearly
    * dominates a narrow shuffle; cheap scan+aggregate plans keep their
    * single-task scan (the partial agg costs less than re-shuffling the
    * rows). Values are row-local everywhere this is used, so results are
    * partitioning-independent. */
  // spread()'s partition probe memoized for bare file scans (ADVICE r19):
  // df.rdd forces a full physical planning of the frame on EVERY call —
  // paid even on corpora where spread is a no-op. A bare scan's split
  // count is a pure function of its file set and the session confs that
  // size file splits, so the key holds both; any other plan (a join, a
  // filter that may prune files, an exchange) is probed directly, since
  // its partition count is not the scan's.
  private val probeCache = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private val splitConfs = Seq("spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes", "spark.sql.files.minPartitionNum",
    "spark.sql.files.maxPartitionNum", "spark.sql.leafNodeDefaultParallelism")

  private def bareFileScan(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def bare(p: LogicalPlan): Boolean = p match {
      case Project(_, child) => bare(child)
      case r: LogicalRelation => r.relation.isInstanceOf[HadoopFsRelation]
      case _ => false
    }
    bare(df.queryExecution.optimizedPlan)
  }

  def spread(df: DataFrame): DataFrame = {
    // streaming frames cannot be probed with .rdd (AnalysisException) and
    // get their parallelism from the source's own partitioning — pass
    // them through untouched (the streaming twins found this in r19)
    if (df.isStreaming) return df
    val p = df.sparkSession.sparkContext.defaultParallelism
    val n =
      if (!bareFileScan(df)) df.rdd.getNumPartitions
      else {
        val conf = df.sparkSession.conf
        val key = (p.toString +: splitConfs.map(k => conf.getOption(k).getOrElse("")) ++:
          df.inputFiles.sorted).mkString("\n")
        probeCache.computeIfAbsent(key, _ => Integer.valueOf(df.rdd.getNumPartitions)).intValue()
      }
    if (n >= p) df else df.repartition(p)
  }

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    // events.ts is TIMESTAMP(NANOS): read as long nanos (see GraftSession's
    // nanosAsLong) and truncate to microseconds — same floor conversion
    // DuckDB applies, so oracle timestamps agree bit-for-bit.
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        // FLOOR division in integer math: `DIV` truncates toward zero, so
        // a pre-1970 ns epoch would round the OTHER way from DuckDB's
        // floor conversion (ts − pmod keeps everything exact integers —
        // ns epochs exceed 2^53, so double division is out)
        df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("(ts - pmod(ts, 1000)) DIV 1000")))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        // Belt-and-braces for sessions built without GraftSession (which
        // disables NTZ inference): reinterpret the naive micros as UTC.
        // A bare cast interprets them in the SESSION zone — wrong by the
        // zone offset on exactly the non-GraftSession sessions this branch
        // exists for — so un-shift through from_utc_timestamp. (Caveat:
        // offsets are evaluated per-value; a non-UTC session reading rows
        // inside its own DST transition hour can still shift those rows —
        // the real fix is a UTC session, which GraftSession sets.)
        df.withColumn("ts", org.apache.spark.sql.functions.from_utc_timestamp(
          org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType),
          spark.conf.get("spark.sql.session.timeZone")))
      case _ => df
    }
  }
}
