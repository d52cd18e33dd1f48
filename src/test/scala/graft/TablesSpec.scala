package graft

/** `Tables.spread`'s memoized partition probe: keyed on the session confs
  * that size file splits, and consulted only for bare file scans. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  /** One parquet file of ~200 KB in a fresh directory. */
  private def oneFile(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-spread").resolve("t").toString
    (0L until 20000L).map(i => (i, i * 7919L)).toDF("a", "b")
      .coalesce(1).write.parquet(dir)
    dir
  }

  private def spreads(df: org.apache.spark.sql.DataFrame): Boolean = !(Tables.spread(df) eq df)

  test("spread re-probes when a split-sizing conf changes in the same JVM") {
    val dir = oneFile()
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    try {
      // default 128 MB splits: one task, fewer than the session's cores
      assert(spreads(spark.read.parquet(dir)))
      // 16 KB splits: the same file set now scans as more tasks than cores
      spark.conf.set(key, "16384")
      assert(spark.read.parquet(dir).rdd.getNumPartitions >= spark.sparkContext.defaultParallelism)
      assert(!spreads(spark.read.parquet(dir)), "spread reused the probe of the old split size")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("spread's probe cache answers only for bare file scans") {
    val dir = oneFile()
    // a repartitioned frame over the same files has its own partition count
    assert(!spreads(spark.read.parquet(dir).repartition(8)))
    // the bare scan of those files is still one split, and still spreads
    assert(spreads(spark.read.parquet(dir).select($"a")))
  }
}
