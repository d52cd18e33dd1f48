package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** One generated embedding record: the source side of every migration. */
final case class Emb(id: Long, vec: Array[Float], category: String, lang: String,
                     shard: String) {
  def meta: Map[String, String] =
    Map("category" -> category, "lang" -> lang, "shard" -> shard)
  /** Logical bytes: 8-byte id, float32 vector, UTF-8 metadata values. */
  def logicalBytes: Long =
    8L + 4L * vec.length + meta.values.map(_.getBytes(UTF_8).length.toLong).sum
}

/** Seeded input generator. Every input of every workload is a pure
  * function of (seed, sizes, [[Gen.Version]]); parquet inputs are cached
  * on disk under that key with a `.source` marker, so a second run with
  * the same seed reuses the files and a changed size or generator
  * version rebuilds them. */
object Gen {
  /** Bump when the generated bytes change for an unchanged seed. */
  val Version = 2

  val Dim = 384
  val PgRows = 2000
  val IncrChangedShare = 0.05
  val IncrNewShare = 0.01
  val QdrantRows = 2000
  val CorpusDocs = 600
  val ExactDupShare = 0.04
  val NearDupShare = 0.08
  val LongTailShare = 0.015
  val JunkShare = 0.03

  val Categories: IndexedSeq[String] = (0 until 16).map(i => f"cat$i%02d")
  val Langs: IndexedSeq[String] = IndexedSeq("en", "de", "fr", "es", "it", "nl")

  /** SplitMix64 finalizer: decorrelates (seed, stream, index) triples. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed * 31 + stream) + i))

  def emb(seed: Long, stream: Long, id: Long): Emb = {
    val r = rng(seed, stream, id)
    val v = new Array[Float](Dim)
    var k = 0
    while (k < Dim) { v(k) = (r.nextDouble() * 2 - 1).toFloat; k += 1 }
    Emb(id, v, Categories(r.nextInt(Categories.length)), Langs(r.nextInt(Langs.length)),
      if (id % 2 == 0) "even" else "odd")
  }

  def embeddings(seed: Long, stream: Long, n: Int): IndexedSeq[Emb] =
    (0 until n).map(i => emb(seed, stream, i.toLong))

  /** First `k` of a seeded permutation of 0 until n. */
  def pick(seed: Long, stream: Long, n: Int, k: Int): IndexedSeq[Int] = {
    val a = Array.range(0, n)
    val r = rng(seed, stream, -1L)
    var i = n - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.take(k).sorted.toIndexedSeq
  }

  /** The incremental workload's inputs. */
  final case class Incr(snapshot: IndexedSeq[Emb], source: IndexedSeq[Emb],
                        changed: Set[Long], added: Set[Long]) {
    def delta: Int = changed.size + added.size
  }

  def incremental(seed: Long, n: Int = PgRows): Incr = {
    val snap = embeddings(seed, 2, n)
    val nChanged = math.round(n * IncrChangedShare).toInt
    val nNew = math.round(n * IncrNewShare).toInt
    val changed = pick(seed, 3, n, nChanged).toSet
    val source = snap.map { e =>
      if (!changed(e.id.toInt)) e
      else if (e.id % 2 == 0) { // vector edit: one component moves
        val v = e.vec.clone(); val k = (mix(seed ^ e.id) & 0x7fffffff).toInt % v.length
        v(k) = v(k) + 0.5f
        e.copy(vec = v)
      } else e.copy(category = e.category + "x") // metadata edit
    } ++ (0 until nNew).map(i => emb(seed, 4, (n + i).toLong))
    Incr(snap, source, changed.map(_.toLong), (n until n + nNew).map(_.toLong).toSet)
  }

  /** One generated document plus the planted structure it belongs to. */
  final case class Doc(id: Long, text: String)
  final case class Corpus(docs: IndexedSeq[Doc], exactGroups: Seq[Seq[Long]],
                          nearClusters: Seq[Seq[Long]], junk: Set[Long], long: Set[Long])

  private val Stop = IndexedSeq("the", "and", "of", "to", "is", "in", "that", "it", "for", "on")

  private def vocab(seed: Long): IndexedSeq[String] = {
    val r = rng(seed, 10, 0)
    (0 until 4000).map { _ =>
      val len = 3 + r.nextInt(7)
      new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
    }
  }

  private def sentence(r: SplittableRandom, words: IndexedSeq[String], chars: Int): String = {
    val sb = new StringBuilder
    while (sb.length < chars) {
      if (sb.nonEmpty) sb.append(' ')
      sb.append(if (r.nextInt(3) == 0) Stop(r.nextInt(Stop.length)) else words(r.nextInt(words.length)))
      if (r.nextInt(14) == 0) sb.append('.')
    }
    sb.toString
  }

  /** Documents near 300 chars, of which exactly [[LongTailShare]] are
    * 8x long; junk (punctuation-heavy, fails the quality filter);
    * exact-duplicate groups (2, 3, 4 identical copies in turn) and
    * near-duplicate clusters (2, 3, 4 variants in turn, each a base text
    * with two word substitutions). Every planted count is a fixed share
    * of `n`, so seeds differ in content only. Ids are shuffled so planted
    * members never sit next to each other. */
  def corpus(seed: Long, n: Int = CorpusDocs): Corpus = {
    val words = vocab(seed)
    val r = rng(seed, 11, 0)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val exact = scala.collection.mutable.ArrayBuffer.empty[Seq[Int]]
    val near = scala.collection.mutable.ArrayBuffer.empty[Seq[Int]]
    def base(): String = sentence(r, words, 240 + r.nextInt(120))
    val nExact = (n * ExactDupShare).toInt
    val nNear = (n * NearDupShare).toInt
    val nJunk = (n * JunkShare).toInt
    val nLong = math.max(1, math.round(n * LongTailShare).toInt)
    while (exact.map(_.size).sum < nExact) {
      val t = base(); val k = 2 + exact.size % 3
      exact += (texts.length until texts.length + k)
      (0 until k).foreach(_ => texts += t)
    }
    while (near.map(_.size).sum < nNear) {
      val t = base(); val k = 2 + near.size % 3
      near += (texts.length until texts.length + k)
      texts += t
      (1 until k).foreach { _ =>
        val toks = t.split(' ')
        (0 until 2).foreach(_ => toks(r.nextInt(toks.length)) = words(r.nextInt(words.length)))
        texts += toks.mkString(" ")
      }
    }
    val junk = texts.length until texts.length + nJunk
    junk.foreach(_ => texts += Array.fill(60)("#$%&*!?"(r.nextInt(7)).toString * 4).mkString(" "))
    val long = texts.length until texts.length + nLong
    long.foreach(_ => texts += sentence(r, words, 2400))
    while (texts.length < n) texts += base()
    // shuffled ids: position p gets id shuffle(p) + 1
    val shuffle = Array.range(0, texts.length)
    var i = texts.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = shuffle(i); shuffle(i) = shuffle(j); shuffle(j) = t; i -= 1 }
    val idOf = (p: Int) => shuffle(p).toLong + 1
    val docs = texts.indices.map(p => Doc(idOf(p), texts(p))).sortBy(_.id)
    Corpus(docs, exact.map(_.map(idOf)).toSeq, near.map(_.map(idOf)).toSeq,
      junk.map(idOf).toSet, long.map(idOf).toSet)
  }

  // ---- parquet materialization, cached by (seed, sizes, version) -------

  val EmbSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vector", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("category", StringType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("shard", StringType, nullable = false)))

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  def embRows(es: Seq[Emb]): Seq[Row] =
    es.map(e => Row(e.id, e.vec.toSeq, e.category, e.lang, e.shard))

  /** Input files per table: the scan plans one partition per file. */
  val FilesPerTable = 4

  /** Write `rows` as [[FilesPerTable]] deterministic parquet files
    * `<dir>/<name>.parquet/part-<i>.parquet` of contiguous row slices, in
    * one Spark job; Spark's part-file names and marker files are dropped
    * so the bytes depend on the rows alone. */
  def writeParquet(spark: SparkSession, rows: Seq[Row], schema: StructType,
                   dir: Path, name: String): Path = {
    val out = dir.resolve(s"$name.parquet")
    val tmp = dir.resolve(s".$name.tmp")
    Fs.rmrf(out)
    Fs.rmrf(tmp)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, FilesPerTable), schema)
      .write.option("compression", "zstd").parquet(tmp.toString)
    // part-00000-… sorts by partition index, i.e. by slice
    val parts = Fs.list(tmp).filter(p => p.getFileName.toString.startsWith("part-") &&
      p.getFileName.toString.endsWith(".parquet"))
    Files.createDirectories(out)
    parts.zipWithIndex.foreach { case (p, i) =>
      Files.move(p, out.resolve(s"part-$i.parquet"), StandardCopyOption.ATOMIC_MOVE)
    }
    Fs.rmrf(tmp)
    out
  }

  /** Cached input directory for `key`; `make` fills it when the marker
    * is absent or names another key. */
  def cached(root: Path, key: String)(make: Path => Unit): Path = {
    val dir = root.resolve(Integer.toHexString(key.hashCode) + "-" + key.filter(_.isLetterOrDigit).take(40))
    val marker = dir.resolve(".source")
    if (Files.exists(marker) && new String(Files.readAllBytes(marker), UTF_8) == key) dir
    else {
      Fs.rmrf(dir)
      Files.createDirectories(dir)
      make(dir)
      Files.write(marker, key.getBytes(UTF_8))
      dir
    }
  }
}

object Fs {
  def list(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try { import scala.jdk.CollectionConverters._; s.iterator().asScala.toSeq.sortBy(_.toString) }
    finally s.close()
  }
  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    if (Files.isDirectory(p)) list(p).foreach(rmrf)
    Files.delete(p)
  }
  def size(p: Path): Long =
    if (Files.isDirectory(p)) list(p).map(size).sum else Files.size(p)
}
