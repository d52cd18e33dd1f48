package graft

import org.apache.spark.sql.functions._
import graft.functions.{HashExpressions, TextFunctions}
import graft.ops.{Dedup, Materialize, TextAnalysis}

/** Portable (cross-engine-replayable) hash kernels and the
  * reliable-checkpoint option for iterative ops. */
class PortableHashSpec extends SparkSpec {
  import spark.implicits._

  // hand-computed: tokHash(t) folds codepoints h = (h*131 + cp) mod 2^31-1
  //   "ab" -> 97*131 + 98 = 12805,  "cd" -> 99*131 + 100 = 13069
  // (verified bit-identical against DuckDB's
  //  list_reduce/list_transform/unicode() replay of the same math)

  test("portableTokenHashes: order + multiplicity kept, exact values") {
    val rows = Seq("ab  cd", " ab\tab ", "", "   ").toDF("text")
      .select(HashExpressions.portableTokenHashes(col("text")).as("h"))
      .collect().map(_.getSeq[Long](0))
    assert(rows(0) == Seq(12805L, 13069L))
    assert(rows(1) == Seq(12805L, 12805L)) // multiplicity preserved
    assert(rows(2) == Seq.empty)
    assert(rows(3) == Seq.empty)
  }

  test("rollingHashPortable: polynomial fold, order-sensitive") {
    val out = Seq("ab cd", "cd ab", "", null.asInstanceOf[String]).toDF("text")
      .select(TextFunctions.rollingHashPortable(col("text")).as("r"))
      .collect()
    // fold [12805, 13069]: ((0*131+12805)*131 + 13069) mod P = 1690524
    assert(out(0).getLong(0) == 12805L * 131L + 13069L)
    // reordering changes the fingerprint
    assert(out(1).getLong(0) == 13069L * 131L + 12805L)
    assert(out(0).getLong(0) != out(1).getLong(0))
    assert(out(2).getLong(0) == 0L)
    assert(out(3).isNullAt(0))
  }

  test("simHashPortable: single token's fingerprint is its own hash") {
    // one token: every set bit votes +1, every unset bit -1 -> fp = hash
    val out = Seq("ab", "").toDF("text")
      .select(Dedup.simHashPortable(col("text")).as("fp")).collect()
    assert(out(0).getLong(0) == 12805L)
    assert(out(1).getLong(0) == 0L)
    // fingerprint fits in the low 31 bits by construction
    assert((out(0).getLong(0) >>> 31) == 0L)
  }

  test("simHashPortable near-dup property: close texts, close fingerprints") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val near = base.replace("dog", "cat")
    val far = "completely different content about spark query planning internals"
    val fps = Seq(base, near, far).toDF("text")
      .select(Dedup.simHashPortable(col("text")).as("fp")).collect().map(_.getLong(0))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fps(0), fps(1)) < ham(fps(0), fps(2)))
  }

  test("portable fingerprints gate projection stays array-free") {
    val df = TextAnalysis.fingerprintsPortable(Tables(spark, sf(), "documents"))
    assert(df.columns.toSeq == Seq("doc_id", "content_md5", "rolling_hash"))
    assert(df.count() > 0)
  }
}

class ReliableCheckpointSpec extends SparkSpec {

  test("graft.checkpoint.dir switches to reliable checkpoints, same results") {
    val docs = Tables(spark, sf(), "documents").limit(120)
    val expected = Dedup.fuzzyDedupPipeline(docs, threshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).sorted

    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(Materialize.ConfKey, dir)
    try {
      val got = Dedup.fuzzyDedupPipeline(docs, threshold = 0.8)
        .select("doc_id").collect().map(_.getLong(0)).sorted
      assert(got.sameElements(expected))
      // the reliable path actually wrote checkpoint data to the directory
      def anyFile(f: java.io.File): Boolean =
        f.isFile || Option(f.listFiles).exists(_.exists(anyFile))
      assert(anyFile(new java.io.File(dir)), s"no checkpoint files under $dir")
    } finally spark.conf.unset(Materialize.ConfKey)
  }

  test("clustering honors the flag too (fitCenters path)") {
    val emb = Tables(spark, sf(), "embeddings").limit(100)
    val expected = graft.ops.Clustering.kmeans(emb, k = 4, iters = 2)
      .select("vec_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt2").toString
    spark.conf.set(Materialize.ConfKey, dir)
    try {
      val got = graft.ops.Clustering.kmeans(emb, k = 4, iters = 2)
        .select("vec_id", "cluster_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      assert(got.sameElements(expected))
    } finally spark.conf.unset(Materialize.ConfKey)
  }
}
