package graft.ops

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

/** Round-7 curation operators: hard-negative mining, chunk→doc pooling,
  * incremental near-dedup against a persisted signature table, markup
  * extraction. */
class CurationOpsSpec extends SparkSpec {
  import spark.implicits._

  // 2-d unit-ish vectors with hand-computable cosines
  private lazy val vecs = Seq(
    (1L, Array(1.0f, 0.0f)),
    (2L, Array(0.9f, 0.1f)),   // cos≈0.993884 to q1
    (3L, Array(0.0f, 1.0f)),   // cos 0
    (4L, Array(1.0f, 0.01f)),  // cos≈0.99995 — the labeled positive
    (5L, Array(-1.0f, 0.0f))   // cos -1
  ).toDF("vec_id", "embedding")

  test("hardNegatives excludes positives, honors the margin, ranks by score") {
    val q = vecs.filter($"vec_id" === 1L)
    val pos = Seq((1L, 4L)).toDF("query_id", "pos_id")
    val out = Similarity.hardNegatives(vecs, q, pos, n = 10, marginMicros = 0, nCand = 10)
      .orderBy("rk").select("cand_id").as[Long].collect().toSeq
    // positive (4) and self (1) excluded; 2, 3, 5 in descending cosine
    assert(out == Seq(2L, 3L, 5L), out.toString)
  }

  test("hardNegatives margin removes near-positive candidates") {
    val q = vecs.filter($"vec_id" === 1L)
    val pos = Seq((1L, 4L)).toDF("query_id", "pos_id")
    // pos cos≈0.99995; margin 0.1 ⇒ score must be ≤ ~0.89995: drops cand 2
    val out = Similarity.hardNegatives(vecs, q, pos, n = 10, marginMicros = 100000, nCand = 10)
      .select("cand_id").as[Long].collect().toSet
    assert(out == Set(3L, 5L), out.toString)
  }

  test("hardNegatives: a covering ANN shortlist reproduces the default path") {
    val emb = Tables(spark, sf(), "embeddings")
    val q = emb.filter($"vec_id" < 5)
    val pos = q.select($"vec_id".as("query_id"), ($"vec_id" + 7).as("pos_id"))
    val dflt = Similarity.hardNegatives(emb, q, pos, n = 10, marginMicros = 20000, nCand = 100)
    val tier = Similarity.bruteForceTopK(emb, q, 100)
    val viaTier = Similarity.hardNegatives(emb, q, pos, n = 10, marginMicros = 20000,
      nCand = 100, shortlist = Some(tier))
    val a = dflt.orderBy("query_id", "rk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val b = viaTier.orderBy("query_id", "rk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("meanPoolEmbeddings averages on the exact micro grid") {
    val chunks = Seq(
      (1L, Array(1.0, 2.0)),
      (1L, Array(2.0, 3.0)),
      (2L, Array(-0.5, 0.25))
    ).toDF("doc_id", "embedding")
    val out = Chunking.meanPoolEmbeddings(chunks)
      .orderBy("doc_id", "pos")
      .select("doc_id", "pos", "pooled6").as[(Long, Int, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 1, 1500000L), (1L, 2, 2500000L),
      (2L, 1, -500000L), (2L, 2, 250000L)), out.toString)
  }

  test("incrementalNearDupPairs finds planted cross-corpus duplicates only") {
    val corpus = Seq(
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (4L, "completely different corpus content about spark partitions and shuffles here"),
      (6L, "a third unrelated document concerning vector stores and metadata filters")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"), // dup of 2
      (3L, "novel text with no counterpart in the corpus whatsoever right now ok")
    ).toDF("doc_id", "text")
    val sigs = Dedup.signatureTable(corpus, numHashes = 16, portable = true)
    val out = Dedup.incrementalNearDupPairs(sigs, batch,
      numHashes = 16, numBands = 4, threshold = 0.5, portable = true)
      .select("batch_id", "corpus_id", "jaccard")
      .as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq((1L, 2L, 1.0)), out.toString)
  }

  test("indexed incremental (persisted bands + widths) equals the derive-on-the-fly path") {
    val docs = Tables(spark, sf(), "documents")
    val corpus = docs.filter($"doc_id" % 2 === 0)
    val batch = docs.filter($"doc_id" % 2 =!= 0)
    val sigs = Dedup.signatureTable(corpus, numHashes = 16, portable = true)
    // persist the maintained artifacts the way an ingest pipeline would
    val dir = java.nio.file.Files.createTempDirectory("sig_index").toString
    Dedup.lshBands(sigs, numBands = 4, rowsPerBand = 4, portable = true)
      .write.mode("overwrite").parquet(s"$dir/bands")
    val bands = spark.read.parquet(s"$dir/bands")
    Dedup.bucketWidths(bands).write.mode("overwrite").parquet(s"$dir/widths")
    sigs.write.mode("overwrite").parquet(s"$dir/sigs")
    val indexed = Dedup.incrementalNearDupPairsIndexed(
      spark.read.parquet(s"$dir/sigs"), bands, spark.read.parquet(s"$dir/widths"),
      batch, numHashes = 16, numBands = 4, threshold = 0.3, portable = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val legacy = Dedup.incrementalNearDupPairs(sigs, batch,
      numHashes = 16, numBands = 4, threshold = 0.3, portable = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(indexed == legacy && indexed.nonEmpty,
      s"indexed=${indexed.size} legacy=${legacy.size}")
  }

  test("stale widths (bands appended, widths not swapped) still catch the near-dup") {
    // SigIndex appends bands/ and sigs/ BEFORE swapping widths/; a crash in
    // that window leaves widths present-but-stale. Candidate generation must
    // treat buckets unknown to widths as small (check them), or near-dups of
    // the stranded docs are admitted forever.
    val corpus = Seq(
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (4L, "completely different corpus content about spark partitions and shuffles here")
    ).toDF("doc_id", "text")
    val stranded = Seq( // indexed into bands+sigs, but widths never saw it
      (6L, "a stranded document appended during the crash window of the swap")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("stale_widths").toString
    val sigs0 = Dedup.signatureTable(corpus, numHashes = 16, portable = true)
    sigs0.write.parquet(s"$dir/sigs")
    Dedup.lshBands(sigs0, numBands = 4, rowsPerBand = 4, portable = true)
      .write.parquet(s"$dir/bands")
    // widths reflect ONLY the pre-crash corpus
    Dedup.bucketWidths(spark.read.parquet(s"$dir/bands"))
      .write.parquet(s"$dir/widths")
    // replay the crash window: bands + sigs of the stranded doc land, widths stay stale
    val strandedSigs = Dedup.signatureTable(stranded, numHashes = 16, portable = true)
    strandedSigs.write.mode("append").parquet(s"$dir/sigs")
    Dedup.lshBands(strandedSigs, numBands = 4, rowsPerBand = 4, portable = true)
      .write.mode("append").parquet(s"$dir/bands")
    val batch = Seq(
      (1L, "a stranded document appended during the crash window of the swap") // dup of 6
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalNearDupPairsIndexed(
      spark.read.parquet(s"$dir/sigs"), spark.read.parquet(s"$dir/bands"),
      spark.read.parquet(s"$dir/widths"), batch,
      numHashes = 16, numBands = 4, threshold = 0.5, portable = true)
      .select("batch_id", "corpus_id", "jaccard")
      .as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq((1L, 6L, 1.0)), out.toString)
  }

  test("batch indexed incremental THROWS on structural params mismatching the build") {
    // same trap as the streaming face: mismatched structural params used
    // to silently admit every duplicate (band hashes never collide).
    val corpus = Seq(
      (2L, "the quick brown fox jumps over the lazy dog again and again today"))
      .toDF("doc_id", "text")
    val sigs = Dedup.signatureTable(corpus, numHashes = 16, portable = true)
    val bands = Dedup.lshBands(sigs, numBands = 4, rowsPerBand = 4,
      portable = true)
    val widths = Dedup.bucketWidths(bands)
    val batch = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"))
      .toDF("doc_id", "text")
    def call(nh: Int, nb: Int, portable: Boolean) =
      Dedup.incrementalNearDupPairsIndexed(sigs, bands, widths, batch,
        numHashes = nh, numBands = nb, threshold = 0.5, portable = portable)
    val e1 = intercept[IllegalArgumentException](call(16, 4, portable = false))
    assert(e1.getMessage.contains("structural mismatch"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](call(64, 16, portable = true))
    assert(e2.getMessage.contains("numHashes=64"), e2.getMessage)
    // a stranded sig-only doc (no band rows yet) is inconclusive, not an
    // error: an empty-bands index must not false-alarm on matching params
    val out = Dedup.incrementalNearDupPairsIndexed(sigs,
      bands.filter(lit(false)), Dedup.bucketWidths(bands.filter(lit(false))),
      batch, numHashes = 16, numBands = 4, threshold = 0.5, portable = true)
    assert(out.collect().isEmpty) // no bands -> no candidates, but no throw
    assert(call(16, 4, portable = true).collect().nonEmpty)
    // a RE-APPENDED doc (its band rows duplicated) and a second doc
    // colliding on the same id must not false-alarm matching params:
    // the probe tests intersection, not set equality
    val collided = Seq(
      (2L, "an entirely different second text stored under the same doc id"))
      .toDF("doc_id", "text")
    val sigs2 = sigs.union(Dedup.signatureTable(collided, numHashes = 16, portable = true))
    val bands2 = bands.union(bands).union(Dedup.lshBands(
      Dedup.signatureTable(collided, numHashes = 16, portable = true),
      numBands = 4, rowsPerBand = 4, portable = true))
    val out2 = Dedup.incrementalNearDupPairsIndexed(sigs2, bands2,
      Dedup.bucketWidths(bands2), batch,
      numHashes = 16, numBands = 4, threshold = 0.5, portable = true)
    assert(out2.collect().nonEmpty) // no throw, duplicate still found
  }

  test("mergeBucketWidths on append equals recounting corpus+batch from scratch") {
    val docs = Tables(spark, sf(), "documents")
    val half = docs.filter($"doc_id" % 2 === 0)
    val other = docs.filter($"doc_id" % 2 =!= 0)
    def widthsOf(d: org.apache.spark.sql.DataFrame) =
      Dedup.bucketWidths(Dedup.lshBands(
        Dedup.signatureTable(d, numHashes = 16, portable = true),
        numBands = 4, rowsPerBand = 4, portable = true))
    val merged = Dedup.mergeBucketWidths(widthsOf(half), widthsOf(other))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val scratch = widthsOf(docs)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == scratch && merged.nonEmpty, s"${merged.size} vs ${scratch.size}")
  }

  test("incremental result equals the full self-join restricted to cross-parity pairs") {
    val docs = Tables(spark, sf(), "documents")
    val inc = Dedup.incrementalNearDupPairs(
      Dedup.signatureTable(docs.filter($"doc_id" % 2 === 0), numHashes = 16, portable = true),
      docs.filter($"doc_id" % 2 =!= 0),
      numHashes = 16, numBands = 4, threshold = 0.3, portable = true)
      .collect().map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)), r.getDouble(2))).toSet
    val full = Dedup.minHashDuplicatePairs(docs, numHashes = 16, numBands = 4,
      threshold = 0.3, verifyExact = false, portable = true)
      .filter(($"id_a" % 2) =!= ($"id_b" % 2))
      .collect().map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)), r.getDouble(2))).toSet
    assert(inc == full && inc.nonEmpty, s"inc=${inc.size} full=${full.size}")
  }

  test("stripMarkup drops script/style/comments, decodes entities, collapses space") {
    val html = "<html><head><style>a{x:1}</style></head><body>" +
      "<!-- hidden --><h1>Title</h1>\n<p>A &amp; B &lt;ok&gt;&nbsp;&quot;q&quot; &#39;s&#39;</p>" +
      "<script>if (1 < 2) alert('x');</script>tail</body></html>"
    val out = Seq((1L, html)).toDF("doc_id", "html")
      .select(TextAnalysis.stripMarkup($"html")).as[String].head()
    assert(out == "Title A & B <ok> \"q\" 's' tail", s"[$out]")
  }
}
