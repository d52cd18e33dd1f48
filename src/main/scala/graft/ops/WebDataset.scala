package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WebDataset-style tar shards — the de-facto layout of multimodal
  * training corpora (cf. the public webdataset format: a corpus is a set
  * of `.tar` files; a SAMPLE is the group of members sharing a basename,
  * `000123.jpg` + `000123.json` + `000123.txt`; shards are the unit of
  * sequential I/O and of parallelism).
  *
  * Scale design: a shard (100 MB–1 GB by convention) is one `binaryFile`
  * row and one tar decode — embarrassingly parallel over shards, the same
  * partition-wise shape as the image/audio codecs; member bytes never
  * shuffle except through the explicit sample regroup (one hash
  * aggregation on the sample key). Writing assigns samples to shards by a
  * PORTABLE hash of the key (re-runs land identically), builds each tar
  * in one task, and commits through a temp-file rename so a crashed job
  * never leaves a half-written shard looking complete.
  *
  * Tar parsing/writing rides `org.apache.commons.compress` (shipped with
  * Spark itself — no new dependency).
  */
object WebDataset {

  /** JVM-side portable string bucket: the same codepoint-polynomial fold
    * the portable hash kernels use (`acc·B + cp  mod P`), then modulo
    * shards — deterministic across runs, engines, and partitionings. */
  private[ops] def shardOf(key: String, numShards: Int): Int =
    // ONE spec-pinned fold implementation — write-side shard assignment
    // must never drift from the engine's portable hash kernels
    (graft.functions.PortableStringFold.fold(key) % numShards).toInt

  /** One row per TAR MEMBER: (shard, key, ext, content, byte_len).
    * `key` is the member basename up to the FIRST dot — webdataset's
    * sample grouping rule (`a/b/000123.seg.png` → key `a/b/000123`, ext
    * `seg.png`). Directories and zero-length PAX/metadata members are
    * skipped. A glob that matches no shard (what [[writeShards]] leaves for
    * an empty frame) reads as no rows with the same schema. */
  def readShards(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    val glob = new org.apache.hadoop.fs.Path(pathGlob)
    val shards = Option(glob.getFileSystem(spark.sparkContext.hadoopConfiguration).globStatus(glob))
    if (shards.forall(_.isEmpty))
      return spark.emptyDataset[(String, String, String, Array[Byte], Long)]
        .toDF("shard", "key", "ext", "content", "byte_len")
    spark.read.format("binaryFile").load(pathGlob)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        val shard = path.substring(path.lastIndexOf('/') + 1)
        val in = new org.apache.commons.compress.archivers.tar.TarArchiveInputStream(
          new java.io.ByteArrayInputStream(bytes))
        // LAZY member iterator: one member's bytes in flight at a time on
        // top of the tar buffer (an eager ArrayBuffer would hold a second
        // full copy of the shard on the task heap). Safe because the
        // backing stream is in-memory — no file handle outlives the row.
        new Iterator[(String, String, String, Array[Byte], Long)] {
          private var entry = advance()
          private def advance(): org.apache.commons.compress.archivers.tar.TarArchiveEntry = {
            var e = in.getNextEntry
            while (e != null && !e.isFile) e = in.getNextEntry
            e
          }
          override def hasNext: Boolean = entry != null
          override def next(): (String, String, String, Array[Byte], Long) = {
            val e = entry
            val name = e.getName
            val base = name.substring(name.lastIndexOf('/') + 1)
            val dot = base.indexOf('.')
            val dir = name.substring(0, name.length - base.length)
            val (key, ext) =
              if (dot < 0) (dir + base, "")
              else (dir + base.substring(0, dot), base.substring(dot + 1))
            val content = in.readAllBytes()
            entry = advance()
            (shard, key, ext, content, content.length.toLong)
          }
        }
      }
      .toDF("shard", "key", "ext", "content", "byte_len")
  }

  /** Members regrouped into SAMPLES: one row per key with
    * `files: map<ext, binary>` — the unit downstream multimodal ops
    * consume (decode the `png`/`jpg` member, parse the `json` member).
    * One shuffle on the key. Keys are unique across shards by
    * webdataset's contract; a corpus violating it (the same key.ext in
    * two shards) FAILS LOUDLY here — Spark's default
    * `mapKeyDedupPolicy=EXCEPTION` raises DUPLICATE_MAP_KEY — rather
    * than silently keeping one of two different payloads (spec-pinned). */
  def groupSamples(members: DataFrame): DataFrame =
    members.groupBy("key")
      .agg(map_from_entries(collect_list(struct(col("ext"), col("content"))))
        .as("files"),
        count(lit(1)).as("n_members"))

  /** Pack samples into `numShards` tar shards under `outDir`:
    * `shard-00000.tar`, … Sample → shard by the engine's PORTABLE hash of
    * the key (deterministic across runs and engines, same kernel as the
    * sampling ops); within a shard, members are written key-sorted and
    * grouped — the contiguity the webdataset readers stream on. Each
    * shard builds in ONE task (shards are the parallel unit) and lands
    * via write-temp-then-rename, so observers never see a partial tar
    * under its final name. Temp names are ATTEMPT-unique (they embed the
    * Spark task attempt id), so a speculative or zombie attempt of the
    * same partition never interleaves bytes into a live attempt's file —
    * the final rename stays last-writer-wins idempotent.
    *
    * @param samples   (key: string, files: map<ext, binary>) — the
    *                  [[groupSamples]] shape.
    * @param overwrite when true, deletes every existing `shard-*.tar`
    *                  AND every orphaned `.shard-*.inprogress` temp under
    *                  `outDir` before writing. A re-run that emits FEWER
    *                  populated shards (smaller corpus, different
    *                  `numShards`) otherwise leaves stale shards behind
    *                  that a later `readShards` glob silently mixes in,
    *                  and crashed attempts' temps (attempt-unique names —
    *                  nothing renames them) would accumulate forever. */
  def writeShards(samples: DataFrame, outDir: String, numShards: Int,
                  overwrite: Boolean = false): Long = {
    require(numShards > 0, "numShards must be positive")
    val spark = samples.sparkSession
    import spark.implicits._
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    if (overwrite) {
      // driver-side, before the job launches: clear prior-generation
      // shards so the output dir holds exactly this run's corpus
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(outDir), conf.value)
      val dir = new org.apache.hadoop.fs.Path(outDir)
      if (fs.exists(dir)) {
        fs.globStatus(new org.apache.hadoop.fs.Path(dir, "shard-*.tar"))
          .foreach(st => fs.delete(st.getPath, false))
        // crashed attempts' temps are attempt-unique and nothing ever
        // renames them — overwrite is the one safe moment to reap them
        // (no writer task of THIS run has launched yet)
        fs.globStatus(new org.apache.hadoop.fs.Path(dir, ".shard-*.inprogress"))
          .foreach(st => fs.delete(st.getPath, false))
      }
    }
    val written = samples
      .select(col("key"), col("files"))
      .as[(String, Map[String, Array[Byte]])]
      .map { case (key, files) => (shardOf(key, numShards), key, files) }
      // same shard id -> same partition (hash repartition on the id);
      // several shards may share a partition, written sequentially. The
      // key order comes from Spark's SPILLABLE external sort, so the task
      // never holds more than one sample's members in memory — a shard is
      // an I/O unit, not a heap ceiling (an it.toArray.sortBy here would
      // buffer the whole shard).
      .repartition(col("_1"))
      .sortWithinPartitions(col("_1"), col("_2"))
      .as[(Int, String, Map[String, Array[Byte]])]
      .mapPartitions { it =>
        val fs = org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI(outDir), conf.value)
        // attempt-unique temp suffix: two attempts of the same partition
        // (speculation, or a zombie surviving a retry) must never share a
        // temp file, or their interleaved bytes could be renamed into a
        // committed-looking but corrupt tar. The rename target is still
        // the bare shard name — last writer wins, idempotent.
        val attemptTag =
          Option(org.apache.spark.TaskContext.get()).map(_.taskAttemptId()).getOrElse(0L)
        def tmpPathOf(shardId: Int) = new org.apache.hadoop.fs.Path(outDir,
          f".shard-$shardId%05d.tar.$attemptTag.inprogress")
        var cur = -1
        var tar: org.apache.commons.compress.archivers.tar.TarArchiveOutputStream = null
        var n = 0L
        def close(): Unit = if (cur >= 0) {
          tar.close() // closes the FS stream too
          val finalPath = new org.apache.hadoop.fs.Path(outDir, f"shard-$cur%05d.tar")
          val tmpPath = tmpPathOf(cur)
          // ATOMIC overwrite-rename (FileContext + Rename.OVERWRITE), not
          // delete-then-rename: a zombie attempt killed BETWEEN its delete
          // and its rename would permanently remove a shard the job
          // already committed and counted — silent data loss a later
          // readShards glob never sees. FileContext also throws on
          // failure instead of HDFS's return-false mode.
          val fc = org.apache.hadoop.fs.FileContext.getFileContext(
            finalPath.toUri, fs.getConf)
          fc.rename(tmpPath, finalPath,
            org.apache.hadoop.fs.Options.Rename.OVERWRITE)
          cur = -1
        }
        it.foreach { case (shardId, key, files) =>
          if (shardId != cur) {
            close()
            cur = shardId
            tar = new org.apache.commons.compress.archivers.tar.TarArchiveOutputStream(
              fs.create(tmpPathOf(cur), true))
            tar.setLongFileMode(
              org.apache.commons.compress.archivers.tar.TarArchiveOutputStream.LONGFILE_POSIX)
          }
          files.toSeq.sortBy(_._1).foreach { case (ext, content) =>
            val e = new org.apache.commons.compress.archivers.tar.TarArchiveEntry(
              if (ext.isEmpty) key else s"$key.$ext")
            e.setSize(content.length.toLong)
            tar.putArchiveEntry(e)
            tar.write(content)
            tar.closeArchiveEntry()
          }
          n += 1
        }
        close()
        Iterator.single(n)
      }
      .collect()
    written.sum
  }
}
