package graft.connectors.vectorstore

import java.io.{BufferedReader, BufferedWriter, InputStreamReader, OutputStreamWriter}
import java.net.URI
import java.nio.ByteBuffer
import java.nio.ByteOrder
import java.nio.charset.StandardCharsets
import java.util.Base64

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Durable-scratch staging for row-level deltas (SQL UPDATE / MERGE / the
  * delete leg of id-changing updates).
  *
  * The delta protocol applies AT COMMIT (see [[VSRowLevelOperation]]) — the
  * scan pages the live collection, so nothing may mutate it until every
  * task has drained. Without staging, each task's touched rows ride its
  * [[VSDeltaCommit]] message and the driver holds the WHOLE touched set in
  * memory: fine for corrections, driver-bound for a MERGE touching 1% of
  * 10^9 rows (10^7 records through commit messages). With a staging
  * directory configured, each task SPILLS past a row threshold: deltas
  * stream to per-task files, the commit message carries only the paths,
  * and the job-level commit streams deletes-then-upserts back out in
  * `batch_size` groups — driver memory stays O(batch_size), not O(touched).
  *
  * The directory must be visible to executors AND the driver (HDFS/S3/...
  * on a cluster — the same constraint as `spark.graft.checkpoint.dir`,
  * which is the default location when set). Files are written once,
  * streamed once, deleted at commit; an aborted task deletes its own
  * files, and a job-level abort removes whatever committed tasks staged.
  *
  * Format: one op per line (JSONL for upserted records — vectors/binaries
  * as base64 of their exact bytes, so the round trip is bit-identical;
  * plain text for delete ids). Line-oriented so the commit can stream with
  * a constant-memory reader; parquet would need a SparkSession the
  * executor-side writer doesn't have.
  */
object DeltaStaging {

  /** Session conf: staging directory (falls back to
    * `spark.graft.checkpoint.dir` + "/vs-delta-staging"; staging is OFF
    * when neither is set — deltas ride commit messages as before). */
  val DirKey = "spark.graft.delta.stage.dir"
  /** Session conf: per-task buffered-row count that triggers the spill. */
  val ThresholdKey = "spark.graft.delta.stage.threshold"
  val DefaultThreshold = 100000

  /** `hadoopProps` are the session's `spark.hadoop.*` entries (prefix
    * stripped), captured DRIVER-side at plan time and shipped to
    * executors — a bare `new Configuration()` on an executor would miss
    * the fs credentials/endpoints (s3a keys etc.) configured the standard
    * Spark way, failing the spill on exactly the DFS deployments staging
    * exists for. */
  case class Spec(dir: String, threshold: Int,
                  hadoopProps: Map[String, String] = Map.empty)

  /** Spill events since JVM start — observability for specs and tuning. */
  val spillCount = new java.util.concurrent.atomic.AtomicLong(0)

  private def fs(path: String, props: Map[String, String]): FileSystem = {
    // driver side gets the session's full hadoopConfiguration; executors
    // reconstruct from defaults + the shipped spark.hadoop.* overlay
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(s => new Configuration(s.sparkContext.hadoopConfiguration))
      .getOrElse(new Configuration())
    props.foreach { case (k, v) => conf.set(k, v) }
    FileSystem.get(new URI(path), conf)
  }

  def newWriter(path: String, props: Map[String, String]): BufferedWriter =
    new BufferedWriter(new OutputStreamWriter(
      fs(path, props).create(new Path(path), true), StandardCharsets.UTF_8))

  /** Stream a staged file's lines; the handle closes as soon as the end is
    * known — immediately for an empty file (commit opens one reader per
    * staged file; leaking the empty-file handles of id-preserving UPDATEs
    * would accumulate on a long-lived driver). A fully-drained iterator
    * self-closes; `tracker` catches the NOT-drained case — a commit that
    * throws mid-stream closes every registered reader in its finally. */
  def lines(path: String, props: Map[String, String] = Map.empty,
            tracker: LineStreams = null): Iterator[String] = {
    val reader = new BufferedReader(new InputStreamReader(
      fs(path, props).open(new Path(path)), StandardCharsets.UTF_8))
    if (tracker != null) tracker.register(reader)
    def done(): Unit = { reader.close(); if (tracker != null) tracker.unregister(reader) }
    new Iterator[String] {
      private var nextLine = reader.readLine()
      if (nextLine == null) done()
      override def hasNext: Boolean = nextLine != null
      override def next(): String = {
        val l = nextLine
        nextLine = reader.readLine()
        if (nextLine == null) done()
        l
      }
    }
  }

  /** Open-reader registry for a streaming commit: [[lines]] self-closes on
    * drain, but a commit aborted mid-stream (store.delete/upsert threw)
    * abandons partially-read iterators — `close()` in the caller's finally
    * reclaims those handles on a long-lived driver. */
  final class LineStreams extends AutoCloseable {
    private val open = java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[BufferedReader, java.lang.Boolean]())
    private[DeltaStaging] def register(r: BufferedReader): Unit = open.add(r)
    private[DeltaStaging] def unregister(r: BufferedReader): Unit = open.remove(r)
    override def close(): Unit = {
      open.forEach(r => try r.close() catch { case _: java.io.IOException => () })
      open.clear()
    }
  }

  def delete(path: String, props: Map[String, String] = Map.empty): Unit =
    try fs(path, props).delete(new Path(path), false)
    catch { case _: java.io.IOException => () } // best-effort cleanup

  /** Session conf: stale-staging TTL in hours (default 24). Files older
    * than the TTL in the staging dir are swept when a delta write plans —
    * a driver crash between spill and commit otherwise accumulates
    * orphaned `ups-*`/`del-*` files forever. The TTL (vs delete-all)
    * protects CONCURRENT jobs sharing the directory — but only jobs
    * SHORTER than the TTL: mtime cannot distinguish in-flight from
    * orphaned, so a delta write expected to run longer than the TTL must
    * raise it (or use a private staging dir). */
  val TtlKey = "spark.graft.delta.stage.ttl.hours"
  val DefaultTtlHours = 24

  /** Best-effort sweep of staged files older than `ttlMs` under `dir`.
    * Only this codec's own names (`ups-*.jsonl` / `del-*.txt`) are
    * touched — the dir may be a shared checkpoint location. */
  def sweepStale(dir: String, props: Map[String, String], ttlMs: Long): Unit =
    try {
      val f = fs(dir, props)
      val p = new Path(dir)
      if (!f.exists(p)) return
      val cutoff = System.currentTimeMillis() - ttlMs
      f.listStatus(p).foreach { st =>
        val n = st.getPath.getName
        val ours = (n.startsWith("ups-") && n.endsWith(".jsonl")) ||
          (n.startsWith("del-") && n.endsWith(".txt"))
        if (ours && st.isFile && st.getModificationTime < cutoff)
          f.delete(st.getPath, false)
      }
    } catch { case _: java.io.IOException => () }

  // ------------------------------------------------------- delete-id codec

  /** Delete ids stage as JSON strings, one per line — ids are arbitrary
    * user strings, and a raw id containing a newline would split into two
    * bogus lines (two no-op deletes; the real row silently survives). */
  def idToLine(id: String): String = mapper.writeValueAsString(
    mapper.getNodeFactory.textNode(id))
  def idFromLine(line: String): String = mapper.readTree(line).asText()

  // ---------------------------------------------------------- record codec

  private def mapper = WireJson.mapper

  private def floatsToB64(v: Array[Float]): String = {
    val bb = ByteBuffer.allocate(v.length * 4).order(ByteOrder.LITTLE_ENDIAN)
    v.foreach(bb.putFloat)
    Base64.getEncoder.encodeToString(bb.array())
  }

  private def b64ToFloats(s: String): Array[Float] = {
    val bb = ByteBuffer.wrap(Base64.getDecoder.decode(s)).order(ByteOrder.LITTLE_ENDIAN)
    Array.fill(bb.remaining() / 4)(bb.getFloat)
  }

  def recordToJson(r: VSRecord): String = {
    val n = mapper.createObjectNode()
    n.put("id", r.id)
    if (r.vector != null) n.put("v", floatsToB64(r.vector))
    if (r.binary != null) n.put("b", Base64.getEncoder.encodeToString(r.binary))
    val m = n.putObject("m")
    r.metadata.foreach { case (k, v) =>
      if (v == null) m.putNull(k) else m.put(k, v)
    }
    mapper.writeValueAsString(n)
  }

  def recordFromJson(line: String): VSRecord = {
    val n = mapper.readTree(line)
    val meta = {
      val m = n.get("m")
      val it = m.fields()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) {
        val e = it.next()
        b += e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText())
      }
      b.result()
    }
    VSRecord(
      id = n.get("id").asText(),
      vector = if (n.has("v")) b64ToFloats(n.get("v").asText()) else null,
      metadata = meta,
      binary = if (n.has("b")) Base64.getDecoder.decode(n.get("b").asText()) else null)
  }
}
