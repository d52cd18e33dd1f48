package graft.core

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** Lifecycle of the persisted near-dedup signature index — the "dedup
  * today's crawl against history" workflow as a first-class pipeline step
  * and CLI verb (`--build-index` / `--ingest`).
  *
  * The index directory holds the three maintained artifacts of
  * [[Dedup.incrementalNearDupPairsIndexed]]:
  *   - `sigs/`   (id, minhash_sig)        — for candidate verification
  *   - `bands/`  (id, band, band_hash)    — for candidate generation
  *   - `widths/` (band, band_hash, bucket_n) — the skew-guard statistic
  *
  * `build` writes them once from a corpus; `ingest` checks a batch against
  * them (full-text work = signing the BATCH only), writes the novel
  * documents out, and appends the accepted batch's signatures/bands while
  * merging its width deltas — so the next ingest never recomputes
  * anything corpus-sized. At 100 TB of history the per-ingest corpus cost
  * is one broadcast-pruned scan of the narrow banded table.
  */
object SigIndex {

  case class Params(numHashes: Int = 64, numBands: Int = 16, shingleSize: Int = 3,
                    threshold: Double = 0.5, maxBucket: Int = 1000,
                    portable: Boolean = false,
                    idCol: String = "doc_id", textCol: String = "text")

  case class IngestReport(batchDocs: Long, alreadyIndexed: Long,
                          corpusDups: Long, withinBatchDups: Long,
                          novelDocs: Long)

  /** Build the index from a corpus; returns the number of indexed docs
    * (docs with at least one shingle). Writes a `params.json` MANIFEST
    * alongside the artifacts: the hashing parameters (num_hashes /
    * num_bands / shingle_size / portable) are STRUCTURAL — an ingest
    * signed with different ones would never collide with the stored bands
    * and silently admit every duplicate — so [[ingest]] always takes them
    * from the manifest, never from its caller. */
  def build(spark: SparkSession, docs: DataFrame, indexDir: String, p: Params): Long = {
    val fsys = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(indexDir), spark.sparkContext.hadoopConfiguration)
    withLease(fsys, indexDir, "build") {
      Dedup.signatureTable(docs, p.idCol, p.textCol, p.numHashes, p.shingleSize, p.portable)
        .write.mode("overwrite").parquet(s"$indexDir/sigs")
      // band the PERSISTED sigs: one text scan total, banding is integer math
      val sigs = spark.read.parquet(s"$indexDir/sigs")
      Dedup.bandedSignatureTable(sigs, p.idCol, p.numBands, p.numHashes / p.numBands, p.portable)
        .write.mode("overwrite").parquet(s"$indexDir/bands")
      val bands = spark.read.parquet(s"$indexDir/bands")
      Dedup.bucketWidths(bands, p.idCol).write.mode("overwrite").parquet(s"$indexDir/widths")
      writeManifest(spark, indexDir, p)
      sigs.count()
    }
  }

  /** Index mutation lease: `build`/`ingest`/`compact` hold `.lease` under
    * the index dir for their whole run and FAIL FAST on contention —
    * compaction's directory swap under a concurrent ingest (or two
    * concurrent ingests appending + swapping `widths/`) would corrupt the
    * banded artifacts, and "run it offline" as a comment enforced nothing.
    * Create-exclusive on the index filesystem (atomic on HDFS-like
    * stores); a crash leaves a stale lease, which EXPIRES after `ttlMs`
    * (default 1 h; override via `spark.graft.sigindex.lease.ttl.minutes`,
    * or `.ttl.ms` for tests) so the index never bricks waiting for an
    * operator. A LIVE holder heartbeats the lease ts every ttl/4, so a
    * mutation longer than the TTL is never mistaken for a crash — only a
    * holder frozen for a full TTL can lose its lease. Release claims the
    * lease file by atomic rename and verifies the token before deleting. */
  private[graft] def withLease[A](fsys: org.apache.hadoop.fs.FileSystem, indexDir: String,
                                  verb: String)(body: => A): A = {
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
    val ttlMs = conf.flatMap(_.conf.getOption("spark.graft.sigindex.lease.ttl.ms"))
      .map(_.toLong)
      .orElse(conf.flatMap(_.conf.getOption("spark.graft.sigindex.lease.ttl.minutes"))
        .map(_.toLong * 60000L))
      .getOrElse(60 * 60000L)
    val path = new org.apache.hadoop.fs.Path(s"$indexDir/.lease")
    val token = java.util.UUID.randomUUID().toString
    def payloadNow() =
      s"""{"verb":"$verb","token":"$token","ts":${System.currentTimeMillis()}}"""
    val payload = payloadNow()
    def readLease(): String =
      try {
        val in = fsys.open(path)
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      } catch { case _: java.io.IOException => "" }
    def tryAcquire(): Boolean =
      try {
        val out = fsys.create(path, false) // create-exclusive
        out.write(payload.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        out.close()
        true
      } catch { case _: java.io.IOException => false }
    if (!tryAcquire()) {
      val held = readLease()
      val ts = """"ts":(\d+)""".r.findFirstMatchIn(held).map(_.group(1).toLong)
      val stale = ts.exists(t => System.currentTimeMillis() - t > ttlMs)
      // expire by RENAME-ASIDE + verify, not delete: two contenders both
      // seeing the stale lease race the expiry, and an unconditional
      // delete (or blind rename) could remove the WINNER's freshly-created
      // lease — two mutators inside the "lease" (classic TOCTOU). Rename
      // is atomic on HDFS-like stores, so exactly one renamer moves any
      // given file; the renamer then CONFIRMS the moved file is the stale
      // payload it observed, and if it grabbed someone's fresh lease
      // instead, puts it back and reports contention.
      val broke = stale && {
        val aside = new org.apache.hadoop.fs.Path(s"$indexDir/.lease.expired-$token")
        val renamed = try fsys.rename(path, aside)
          catch { case _: java.io.IOException => false }
        renamed && {
          val moved = try {
            val in = fsys.open(aside)
            try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
            finally in.close()
          } catch { case _: java.io.IOException => "" }
          if (moved == held) { fsys.delete(aside, false); true }
          else { // a fresh lease landed between our read and rename: restore it
            val restored =
              try fsys.rename(aside, path) catch { case _: java.io.IOException => false }
            if (!restored)
              System.err.println(s"[graft] WARNING: could not restore a " +
                s"concurrently-created lease at $indexDir (parked at $aside) — " +
                "check for heavy lease contention")
            false
          }
        }
      }
      if (!broke || !tryAcquire())
        throw new IllegalStateException(
          s"sig-index $indexDir is locked by a concurrent operation ($held); " +
            s"a concurrent $verb would corrupt the banded artifacts — retry " +
            s"after it finishes (stale leases expire after ${ttlMs / 60000} min)")
    }
    // HEARTBEAT: refresh the lease ts every ttl/4 while the body runs, so
    // a mutation LONGER than the TTL (a compact of a huge index) is never
    // indistinguishable from a crash — without renewal a contender would
    // "expire" the live lease and mutate concurrently, the exact
    // corruption the lease exists to prevent. The refresh rewrites only
    // when the lease still carries OUR token (if a contender somehow
    // broke us — possible only after we missed heartbeats for a full
    // TTL, i.e. a JVM frozen that long — we must not clobber theirs). A
    // reader that catches the rewrite mid-write sees an empty/partial
    // payload, parses no ts, and fails SAFE (no expiry without a ts).
    // Renewal is read-then-overwrite, guarded by the token check. A
    // rename-based renewal (claim .lease aside, verify, rename a fresh
    // payload over) was considered and REJECTED: it leaves .lease absent
    // for a metadata-op window on EVERY beat, during which any entering
    // contender's create-exclusive acquires instantly — a silent dual
    // mutator with NO precondition. The overwrite's clobber window needs
    // a holder frozen for a full TTL first (at which point the contender
    // legitimately holds and corruption is already possible regardless of
    // which file survives); the beat below at least DETECTS that loss,
    // warns loudly, and stops beating rather than resurrecting our lease
    // over the contender's.
    @volatile var beating = true
    // The beat WAITS on this stop signal rather than being interrupted: an
    // interrupt landing inside the rewrite below (create/write/close)
    // leaves a truncated lease, release() then reads no token and puts the
    // empty lease back — blocking every mutation for a full TTL.
    val stop = new java.util.concurrent.CountDownLatch(1)
    val hb = new Thread(() => {
      val interval = math.max(50L, ttlMs / 4)
      while (beating) {
        try { if (stop.await(interval, java.util.concurrent.TimeUnit.MILLISECONDS)) beating = false }
        catch { case _: InterruptedException => beating = false }
        if (beating) try {
          val held = readLease()
          if (held.contains(token)) {
            val out = fsys.create(path, true)
            out.write(payloadNow().getBytes(java.nio.charset.StandardCharsets.UTF_8))
            out.close()
          } else if (held.contains("\"token\"")) {
            // a WELL-FORMED foreign lease = a contender legitimately
            // expired us (we missed beats for a full TTL). Do NOT write —
            // that would clobber the rightful holder — and do not keep
            // checking; surface the dual-mutator hazard once, loudly.
            beating = false
            System.err.println(s"[graft] WARNING: sig-index lease at " +
              s"$indexDir was taken over by a concurrent $verb while this " +
              "one was still running (holder paused past the lease TTL?) — " +
              "two mutators may now be active; verify the index artifacts")
          } // empty/partial read: transient (our own rewrite mid-flight) — retry next beat
        } catch { case _: Throwable => () }
      }
    }, s"sigindex-lease-heartbeat-$verb")
    hb.setDaemon(true)
    hb.start()
    // RELEASE by atomic rename-then-verify, not read-then-delete: between
    // a read seeing our token and the delete, a contender could expire a
    // (genuinely stale) lease and create its own — the plain delete would
    // then remove the CONTENDER's fresh lease. Rename is atomic, so we
    // only ever remove a file we atomically claimed; if the moved payload
    // is not ours we put it back (restore failing means a third party
    // already acquired — warn, the narrow multi-contender window of any
    // filesystem lock).
    def release(): Unit = try {
      val tmp = new org.apache.hadoop.fs.Path(s"$indexDir/.lease.release-$token")
      val renamed = try fsys.rename(path, tmp)
        catch { case _: java.io.IOException => false }
      if (renamed) {
        val moved = try {
          val in = fsys.open(tmp)
          try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
        } catch { case _: java.io.IOException => "" }
        if (moved.contains(token)) fsys.delete(tmp, false)
        else if (!(try fsys.rename(tmp, path) catch { case _: java.io.IOException => false })) {
          fsys.delete(tmp, false)
          System.err.println(s"[graft] WARNING: sig-index lease at $indexDir " +
            "changed hands during release and could not be restored — " +
            "check for concurrent mutators")
        }
      }
    } catch { case _: Throwable => () }
    try body
    finally {
      beating = false
      stop.countDown()
      // JOIN (bounded) before release: a beat that already passed the
      // token check could otherwise land its fsys.create AFTER release()
      // removed the lease — orphaning a fresh-ts lease that blocks every
      // mutation for a full TTL with a misleading contention error.
      try hb.join(10000L)
      catch { case _: InterruptedException => Thread.currentThread().interrupt() }
      if (hb.isAlive)
        System.err.println(s"[graft] WARNING: sig-index lease heartbeat at " +
          s"$indexDir did not stop within 10s of release — a stale lease " +
          "may be left behind (expires after the TTL)")
      release()
    }
  }

  /** Check `batch` against the index. Three dedup legs, in order:
    *
    *  1. ids already IN the index are dropped upfront (anti-join on the
    *     sig table's id column) — re-running a partially-applied or
    *     overlapping batch never double-appends;
    *  2. docs near-duplicating the CORPUS at `threshold` are flagged
    *     (batch-proportional, [[Dedup.incrementalNearDupPairsIndexed]]);
    *  3. the survivors are near-dedup'd WITHIN the batch
    *     ([[Dedup.keepCanonical]] over estimate-mode pairs — batch-sized
    *     work), because a crawl batch full of copies of one page that
    *     history has never seen must still admit only ONE.
    *
    * Novel docs go to `novelOut` (if set) and — when `append` — their
    * signatures/bands join the index and the width table absorbs their
    * deltas, so the corpus stays deduplicated.
    *
    * Crash consistency: the three artifacts are plain parquet dirs, so a
    * crash mid-append can leave them inconsistent. Appends are ordered to
    * make that benign: BANDS land first (duplicate band rows from a
    * replay only produce duplicate candidates, which the candidate
    * `distinct()` collapses), SIGS second (a doc's sig row is the
    * "fully indexed" marker leg 1 keys on), widths last (a replayed width
    * delta only tightens the skew guard). A production deployment wanting
    * real atomicity would keep the three tables in a transactional format
    * (Iceberg/Delta) — the maintenance logic is unchanged. */
  def ingest(spark: SparkSession, batch: DataFrame, indexDir: String, params: Params,
             novelOut: Option[String] = None, append: Boolean = true): IngestReport = {
    // structural hashing params ALWAYS come from the manifest; the
    // caller's Params keeps only per-ingest knobs + batch column names
    val manifest = readManifest(spark, indexDir)
    val p = manifest match {
      case Some(m) => params.copy(numHashes = m.numHashes, numBands = m.numBands,
        shingleSize = m.shingleSize, portable = m.portable)
      case None => params // pre-manifest index: trust the caller...
    }
    val fsys = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(indexDir), spark.sparkContext.hadoopConfiguration)
    withLease(fsys, indexDir, "ingest") {
    val (sigs, bands, widths) = openFrames(spark, indexDir, params.idCol)
    // ids are the idempotence key (leg 1 anti-joins on them, the marker
    // rows key on them): a NULL id can never match its own marker, so it
    // would be re-reported as novel and re-append a (null, []) marker row
    // on EVERY re-ingest — refuse loudly instead of drifting forever
    if (batch.filter(col(p.idCol).isNull).limit(1).count() > 0)
      throw new IllegalArgumentException(
        s"ingest batch contains rows with NULL ${p.idCol} — ids are the " +
          "index's idempotence key; assign ids before ingesting")
    // leg 1: already-indexed ids never re-process (idempotent re-ingest)
    val fresh = batch.join(sigs.select(col(p.idCol)), Seq(p.idCol), "left_anti")
    // ONE signing pass over the surviving batch feeds all three dedup
    // legs AND the append below — signing (shingle + MinHash over full
    // text) is the dominant row-local cost of an ingest, and the previous
    // shape paid it three times (corpus leg, within-batch leg, append)
    val freshSigs = graft.ops.Materialize(
      Dedup.signatureTable(fresh, p.idCol, p.textCol, p.numHashes,
        p.shingleSize, p.portable))
    // leg 2: near-dups of the corpus
    val pairs = Dedup.incrementalNearDupPairsFromSigs(sigs, bands, widths, freshSigs,
      p.idCol, p.numHashes, p.numBands, p.threshold, p.maxBucket, p.portable,
      // ...but trust is branch-scoped: with a manifest the params are the
      // index's own (no mismatch possible — skip the probe, keeping ingest
      // cost flat in history); a PRE-MANIFEST index runs on caller-guessed
      // params — the population the probe exists for. The probe covers
      // every INDEX-WITNESSABLE axis (numHashes/numBands/portable);
      // shingleSize is NOT witnessable (signatures retain no text), so a
      // guessed-wrong shingleSize on a legacy index still silently
      // under-detects — adopt legacy indexes into a manifest
      // ([[adoptManifest]]) rather than ingesting on guesses
      verifyStructure = manifest.isEmpty)
    val dupIds = graft.ops.Materialize( // one corpus-side pass feeds count + anti-join
      pairs.select(col("batch_id").as(p.idCol)).distinct())
    val corpusNovel = fresh.join(dupIds, Seq(p.idCol), "left_anti")
    // leg 3: collapse near-dup groups WITHIN the surviving batch — from
    // the SAME signature table (estimate-mode pairs, identical to
    // minHashDuplicatePairs(verifyExact = false) over these docs)
    val withinPairs = Dedup.duplicatePairsFromSigs(
      freshSigs.join(dupIds, Seq(p.idCol), "left_anti"),
      p.idCol, p.numHashes, p.numBands, p.threshold, p.maxBucket, p.portable)
    val novel = graft.ops.Materialize(
      Dedup.keepCanonical(corpusNovel, withinPairs, p.idCol))
    novelOut.foreach(o => novel.write.mode("overwrite").parquet(o))
    val batchN = batch.count()
    val dupN = dupIds.count()
    val novelN = novel.count()
    // counted BEFORE the append below: `fresh`'s lineage anti-joins the
    // sigs/ directory this ingest is about to append into, and the report
    // must describe the batch against the PRE-ingest index, not depend on
    // whether the cached file-index snapshot happens to be stale
    val freshN = fresh.count()
    if (append) {
      // batch-sized work only: the accepted docs' signatures come from the
      // ONE signing pass above (novel ⊆ fresh, so a semi-join selects
      // them); bands derive from those signatures. Both sides read only
      // checkpoints, so the append job never lists the directory it is
      // writing into.
      val novelSigs = graft.ops.Materialize(
        freshSigs.join(novel.select(col(p.idCol)), Seq(p.idCol), "left_semi"))
      val novelBands = graft.ops.Materialize(
        Dedup.bandedSignatureTable(novelSigs, p.idCol,
          p.numBands, p.numHashes / p.numBands, p.portable))
      novelBands.write.mode("append").parquet(s"$indexDir/bands")
      novelSigs.write.mode("append").parquet(s"$indexDir/sigs")
      // zero-shingle docs (empty/too-short text) produce no signature, so
      // without a marker the leg-1 anti-join would re-report the same doc
      // as novel on every re-ingest. Index them by id with an EMPTY
      // signature: leg 1 keys on the id column only, and no bands row ever
      // makes an empty-sig doc a near-dup candidate.
      if (novelSigs.count() < novelN) // only when the batch had any
        novel.join(novelSigs.select(col(p.idCol)), Seq(p.idCol), "left_anti")
          .select(col(p.idCol), typedLit(Array.empty[Long]).as("minhash_sig"))
          .write.mode("append").parquet(s"$indexDir/sigs")
      // widths/ is both input and output: land the merge beside it, then
      // swap via the filesystem rename
      val merged = Dedup.mergeBucketWidths(widths,
        Dedup.bucketWidths(novelBands, p.idCol))
      val tmp = new org.apache.hadoop.fs.Path(s"$indexDir/widths__next")
      val cur = new org.apache.hadoop.fs.Path(s"$indexDir/widths")
      merged.write.mode("overwrite").parquet(tmp.toString)
      fsys.delete(cur, true)
      if (!fsys.rename(tmp, cur))
        throw new java.io.IOException(
          s"rename $tmp -> $cur failed; widths/ is absent but self-heals on next ingest")
    }
    IngestReport(batchN, batchN - freshN, dupN, freshN - dupN - novelN, novelN)
    } // withLease
  }

  /** Compact the index in place: daily ingests append small parquet files
    * to `sigs/` and `bands/`, and after N ingests each artifact is N× more
    * files than it needs — file-listing and task-scheduling overhead that
    * grows without bound. Rewrites each artifact to `targetFileMB`-sized
    * files (computed from the directory's current byte size, so a 100 TB
    * index compacts to proportionally many files, not a fixed count).
    *
    * Crash safety: unlike `widths/`, the `sigs/`/`bands/` artifacts are
    * PRIMARY state with no self-heal, so the swap never has a window with
    * the data deleted — the old directory is renamed ASIDE
    * (`<art>__old`), the rewrite renamed in, and only then is the old
    * copy removed. A crash between the two renames leaves `<art>` absent
    * but `<art>__old` intact; the next compact (or any caller invoking
    * [[healCompaction]]) restores it. Returns (files before, files after)
    * per artifact. Run it offline — like the appends themselves, the swap
    * is not atomic under a concurrent ingest. */
  def compact(spark: SparkSession, indexDir: String,
              targetFileMB: Int = 128): Map[String, (Int, Int)] = {
    val fsys = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(indexDir), spark.sparkContext.hadoopConfiguration)
    withLease(fsys, indexDir, "compact") {
    healCompaction(fsys, indexDir) // recover any interrupted prior swap
    Seq("sigs", "bands", "widths").flatMap { art =>
      val cur = new org.apache.hadoop.fs.Path(s"$indexDir/$art")
      if (!fsys.exists(cur)) None
      else {
        val status = fsys.listStatus(cur).filter(_.getPath.getName.endsWith(".parquet"))
        val before = status.length
        val bytes = status.map(_.getLen).sum
        val parts = math.max(1, (bytes / (targetFileMB.toLong * 1024 * 1024)).toInt)
        // no checkpoint needed: the write to <art>__next is an ACTION that
        // fully consumes the read of <art> BEFORE either rename runs — an
        // extra Materialize here copied the whole artifact through
        // executor storage once more for nothing (review finding r16)
        val tmp = new org.apache.hadoop.fs.Path(s"$indexDir/${art}__next")
        val old = new org.apache.hadoop.fs.Path(s"$indexDir/${art}__old")
        spark.read.parquet(cur.toString).repartition(parts)
          .write.mode("overwrite").parquet(tmp.toString)
        fsys.delete(old, true) // stale leftover from a healed crash
        if (!fsys.rename(cur, old))
          throw new java.io.IOException(s"rename $cur -> $old failed during compaction")
        if (!fsys.rename(tmp, cur))
          throw new java.io.IOException(
            s"rename $tmp -> $cur failed; original preserved at $old — " +
              "re-run --compact-index to heal")
        fsys.delete(old, true)
        val after = fsys.listStatus(cur).count(_.getPath.getName.endsWith(".parquet"))
        Some(art -> (before, after))
      }
    }.toMap
    } // withLease
  }

  /** Open the three artifact frames at index-open altitude: heal any
    * interrupted compaction swap, and rebuild `widths/` when a crash hit
    * ingest's swap window (it is DERIVED state; the rebuild is
    * MATERIALIZED so the healed plan can never re-list `bands/` after a
    * subsequent append lands there). Shared by [[ingest]] and the
    * streaming face ([[graft.streaming.StreamOps.streamingIncrementalDedupIndexed]])
    * — a crash window must not fail stream startup waiting for a batch
    * ingest to happen to run. Reading during a LIVE compact is not safe
    * (same as reading any parquet dir mid-swap); mutations hold the
    * lease, readers start outside compaction windows. */
  def openFrames(spark: SparkSession, indexDir: String,
                 idCol: String = "doc_id"): (DataFrame, DataFrame, DataFrame) = {
    val fsys = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(indexDir), spark.sparkContext.hadoopConfiguration)
    healCompaction(fsys, indexDir)
    val sigs = spark.read.parquet(s"$indexDir/sigs")
    val bands = spark.read.parquet(s"$indexDir/bands")
    val widths =
      if (fsys.exists(new org.apache.hadoop.fs.Path(s"$indexDir/widths")))
        spark.read.parquet(s"$indexDir/widths")
      else graft.ops.Materialize(Dedup.bucketWidths(bands, idCol))
    (sigs, bands, widths)
  }

  /** Restore any artifact stranded by a crash between compaction's two
    * renames: `<art>` absent + `<art>__old` present → rename the old copy
    * back. Idempotent; called at the start of every [[compact]] AND every
    * [[ingest]] (index-open altitude — the daily operation must not fail
    * waiting for an operator to re-run the repair tool). */
  def healCompaction(fsys: org.apache.hadoop.fs.FileSystem, indexDir: String): Unit =
    Seq("sigs", "bands", "widths").foreach { art =>
      val cur = new org.apache.hadoop.fs.Path(s"$indexDir/$art")
      val old = new org.apache.hadoop.fs.Path(s"$indexDir/${art}__old")
      if (!fsys.exists(cur) && fsys.exists(old) && !fsys.rename(old, cur))
        throw new java.io.IOException(s"could not restore $old -> $cur")
    }

  // ---------------------------------------------------------- manifest

  /** `max_bucket` rides the manifest as the BUILD's skew-guard value: the
    * streaming face (no per-call knob) resolves it from here; batch
    * [[ingest]] keeps the caller's per-ingest override. */
  private def writeManifest(spark: SparkSession, indexDir: String, p: Params): Unit = {
    val json = s"""{"num_hashes": ${p.numHashes}, "num_bands": ${p.numBands}, """ +
      s""""shingle_size": ${p.shingleSize}, "portable": ${p.portable}, """ +
      s""""max_bucket": ${p.maxBucket}}"""
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(indexDir), spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$indexDir/params.json"), true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Adopt a PRE-MANIFEST (legacy) index: record its known build params
    * as the manifest, so every future ingest/stream resolves structural
    * params from the index itself instead of caller guesses — including
    * `shingleSize`, the one axis the structural probe cannot witness
    * (signatures retain no text). The witnessable axes
    * (numHashes/numBands/portable) ARE cross-checked against the
    * artifacts before writing, so adopting wrong params fails here
    * rather than poisoning every future ingest. One-time operator
    * action; refuses to overwrite an existing manifest. */
  def adoptManifest(spark: SparkSession, indexDir: String, p: Params): Unit = {
    require(readManifest(spark, indexDir).isEmpty,
      s"$indexDir already has a params.json manifest — adoption is only " +
        "for pre-manifest indexes (the existing manifest is authoritative)")
    graft.ops.Dedup.requireIndexCompatible(
      spark.read.parquet(s"$indexDir/sigs"),
      spark.read.parquet(s"$indexDir/bands"),
      p.idCol, p.numHashes, p.numBands, p.portable)
    writeManifest(spark, indexDir, p)
  }

  /** The structural hashing params the index was built with, if the
    * manifest exists. Callers assembling their own plans over the
    * artifacts (e.g. [[graft.streaming.StreamOps.streamingIncrementalDedupIndexed]])
    * should use these, not guesses. */
  def readManifest(spark: SparkSession, indexDir: String): Option[Params] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(indexDir), spark.sparkContext.hadoopConfiguration)
    val path = new org.apache.hadoop.fs.Path(s"$indexDir/params.json")
    // ONLY a genuinely-absent manifest means "pre-manifest index". An IO
    // or parse failure must RAISE: swallowing it would silently fall back
    // to caller-supplied structural params — the exact corruption the
    // manifest exists to prevent (mismatched hashes admit every dup).
    if (!fs.exists(path)) None
    else {
      val text =
        try {
          val in = fs.open(path)
          try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
        } catch { case e: java.io.IOException =>
          throw new graft.config.ConfigException(
            s"cannot read $path: ${e.getMessage} — refusing to guess hashing params")
        }
      val n =
        try new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
        catch { case e: Exception =>
          throw new graft.config.ConfigException(
            s"corrupt index manifest $path: ${e.getMessage}")
        }
      // required keys raise the same typed error as an unreadable file —
      // a bare .get(...) would NPE with no mention of the manifest path,
      // masking the refuse-to-guess diagnostic this method exists for
      def req(k: String): JsonNode =
        Option(n.get(k)).filterNot(_.isNull).getOrElse(
          throw new graft.config.ConfigException(
            s"index manifest $path is missing '$k' — refusing to guess " +
              "hashing params (fix or re-adopt the manifest)"))
      Some(Params(
        numHashes = req("num_hashes").asInt(),
        numBands = req("num_bands").asInt(),
        shingleSize = req("shingle_size").asInt(),
        portable = req("portable").asBoolean(),
        // absent on pre-r16 manifests: the historical default
        maxBucket = Option(n.get("max_bucket")).filterNot(_.isNull)
          .map(_.asInt()).getOrElse(1000)))
    }
  }

  // ------------------------------------------------------------- config

  /** JSON config for the CLI verbs:
    * {{{
    * {"documents": {"path": "/data/sf", "table_name": "documents",
    *                "id_column": "doc_id", "text_column": "text"},
    *  "index_dir": "/data/sig_index",
    *  "params": {"num_hashes": 64, "num_bands": 16, "shingle_size": 3,
    *             "threshold": 0.5, "max_bucket": 1000, "portable": false},
    *  "novel_output": "/data/novel"}
    * }}} */
  case class Config(docsPath: String, tableName: Option[String],
                    indexDir: String, params: Params, novelOutput: Option[String])

  def configFromFile(path: String): Config =
    configFromJson(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8))

  def configFromJson(text: String): Config = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(text)
    def str(n: JsonNode, k: String): Option[String] =
      Option(n.get(k)).filterNot(_.isNull).map(_.asText()).filter(_.nonEmpty)
    val docs = Option(root.get("documents")).getOrElse(
      throw new graft.config.ConfigException("sig-index config needs a 'documents' block"))
    val pn = Option(root.get("params"))
    def num(k: String, dflt: Int): Int =
      pn.flatMap(p => Option(p.get(k))).map(_.asInt()).getOrElse(dflt)
    val p = Params(
      numHashes = num("num_hashes", 64),
      numBands = num("num_bands", 16),
      shingleSize = num("shingle_size", 3),
      threshold = pn.flatMap(x => Option(x.get("threshold"))).map(_.asDouble()).getOrElse(0.5),
      maxBucket = num("max_bucket", 1000),
      portable = pn.flatMap(x => Option(x.get("portable"))).exists(_.asBoolean()),
      idCol = str(docs, "id_column").getOrElse("doc_id"),
      textCol = str(docs, "text_column").getOrElse("text"))
    if (p.numHashes % p.numBands != 0)
      throw new graft.config.ConfigException(
        s"num_hashes (${p.numHashes}) must divide by num_bands (${p.numBands})")
    Config(
      docsPath = str(docs, "path").getOrElse(
        throw new graft.config.ConfigException("documents block needs a 'path'")),
      tableName = str(docs, "table_name"),
      indexDir = str(root, "index_dir").getOrElse(
        throw new graft.config.ConfigException("sig-index config needs 'index_dir'")),
      params = p,
      novelOutput = str(root, "novel_output"))
  }

  /** Resolve the config's document source to a DataFrame. */
  def readDocs(spark: SparkSession, cfg: Config): DataFrame = cfg.tableName match {
    case Some(t) => graft.Tables(spark, cfg.docsPath, t)
    case None => spark.read.parquet(cfg.docsPath)
  }
}
