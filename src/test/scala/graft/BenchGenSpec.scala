package graft

import org.apache.spark.sql.functions._

/** The sf1 generator's contract: fact tables scale by the factor with
  * join keys consistent within a copy, and the dedup families see a
  * BIGGER corpus, not replica cliques. */
class BenchGenSpec extends SparkSpec {

  test("replicas keep every table's schema") {
    val out = java.nio.file.Files.createTempDirectory("benchgen-schema").toString
    BenchGen.replicate(spark, sf(), out, 2)
    Tables.names.foreach(t => assert(
      Tables(spark, out, t).schema.catalogString == Tables(spark, sf(), t).schema.catalogString, t))
  }

  test("replicas scale counts, keep joins consistent, and are not cross-copy near-dups") {
    val out = java.nio.file.Files.createTempDirectory("benchgen").toString
    BenchGen.replicate(spark, sf(), out, 3)
    def n(t: String) = spark.read.parquet(s"$out/$t.parquet").count()
    assert(n("lineitem") == 3 * Tables(spark, sf(), "lineitem").count())
    assert(n("documents") == 3 * Tables(spark, sf(), "documents").count())
    assert(n("customer") == Tables(spark, sf(), "customer").count()) // dims shared
    // orderkeys join consistently within every copy: each lineitem still
    // finds its order
    val li = spark.read.parquet(s"$out/lineitem.parquet")
    val ord = spark.read.parquet(s"$out/orders.parquet")
    assert(li.join(ord, li("l_orderkey") === ord("o_orderkey"), "left_anti").count() == 0)
    // near-dup pairs never span copies: the salt makes every shingle of a
    // salted copy carry a copy-unique token (copy = doc_id / Shift)
    val pairs = graft.ops.Dedup.minHashDuplicatePairs(
      spark.read.parquet(s"$out/documents.parquet"),
      numHashes = 16, numBands = 4, threshold = 0.3, verifyExact = false)
    val shift = 1000000000L
    val cross = pairs
      .filter((col("id_a") / shift).cast("long") =!= (col("id_b") / shift).cast("long"))
      .count()
    assert(cross == 0, s"$cross cross-copy near-dup pairs")
    assert(pairs.count() > 0, "within-copy dedup structure lost")
  }
}
