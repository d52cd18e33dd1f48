package graft.connectors.vectorstore

import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.model.Canonical

/** DataSource V2 over [[VectorStore]]: the Spark-native re-expression of
  * the reference's Qdrant/Milvus/Pinecone adapters. Scans are partitioned
  * scroll pages with filter/column/limit/offset pushdown
  * (`SupportsPushDown*`); writes are per-partition batched upserts —
  * the executor-side version of the driver-side batching at
  * `adapters/qdrant.py:233-249`.
  *
  * Subclasses fix the short name, the filter dialect, and the write rules
  * of each emulated backend.
  */
abstract class VectorStoreProvider extends TableProvider with DataSourceRegister {
  def dialect: FilterDialect
  def rules: WriteRules

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (vectorTypeOf(options) == VectorTypes.Binary) Canonical.binarySchema
    else Canonical.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val vt = vectorTypeOf(opts)
    if (vt == VectorTypes.Binary && !rules.binaryVectors)
      throw new IllegalArgumentException(
        s"${shortName()} does not support BINARY_VECTOR collections")
    new VSTable(collectionName(opts), shortName(), dialect, rules, opts, vectorType = vt)
  }

  /** Endpoint address carried in the options: `url`/`api_key`/
    * `max_retries` select (and authenticate) the wire transport; absent →
    * the in-process default. Derived per TABLE, so a plan reading one
    * endpoint and writing another resolves each side's own client. */
  protected def specOf(opts: CaseInsensitiveStringMap): TransportSpec =
    TransportSpec.fromOptions(k => Option(opts.get(k)),
      backend = shortName().stripPrefix("graft-"))

  /** FLOAT_VECTOR | BINARY_VECTOR: the explicit `vector_type` option wins;
    * otherwise an existing collection's stored config decides (the
    * reference's schema-driven field heuristic, `adapters/milvus.py:82` —
    * first FLOAT_VECTOR or BINARY_VECTOR field is THE vector field). */
  protected def vectorTypeOf(opts: CaseInsensitiveStringMap): String =
    Option(opts.get("vector_type")).map(_.toUpperCase(java.util.Locale.ROOT))
      .map { vt =>
        // an unrecognized value must throw, not silently select the float
        // schema (which would null every scanned vector and bypass the
        // binary-capability rejection above)
        require(vt == VectorTypes.Float || vt == VectorTypes.Binary,
          s"unknown vector_type: ${opts.get("vector_type")} " +
            s"(valid: ${VectorTypes.Float}, ${VectorTypes.Binary})")
        vt
      }
      .orElse(Option(opts.get("collection"))
        .flatMap(_ => VectorStore.resolve(specOf(opts)).describe(collectionName(opts)))
        .map(_.vectorType))
      .getOrElse(VectorTypes.Float)

  private def collectionName(opts: CaseInsensitiveStringMap): String =
    VectorStoreProvider.collectionName(opts, shortName())
}

object VectorStoreProvider {
  /** The store-side name a source/sink's options address: `collection`,
    * or `collection::namespace` when a namespace is set. Pinecone
    * addresses data as index + namespace (examples/
    * pinecone_to_pgvector_config.json "query" block). Write accounting is
    * keyed by this name, so readers of [[VSWriteStats]] derive it here too. */
  def collectionName(opts: CaseInsensitiveStringMap, source: String): String = {
    val base = Option(opts.get("collection"))
      .getOrElse(throw new IllegalArgumentException(s"$source needs option 'collection'"))
    Option(opts.get("namespace")).filter(_.nonEmpty).map(ns => s"$base::$ns").getOrElse(base)
  }
}

/** THE distance-name rule, shared by every DDL face (DataFrame write
  * options, catalog CREATE TABLE): case-insensitive + alias-tolerant,
  * like the reference's lowercase distance map (`adapters/qdrant.py:
  * 163-169` accepts "cosine"). */
private[vectorstore] object VSDistances {
  /** Canonical distance name for any accepted alias; unknown names pass
    * through for [[requireAllowed]] to reject against the whitelist. */
  def canonical(raw: String): String = raw.toLowerCase(java.util.Locale.ROOT) match {
    case "cosine" => "Cosine"
    case "euclid" | "euclidean" | "l2" => "Euclid"
    case "dot" | "dotproduct" | "ip" => "Dot"
    case "hamming" => "Hamming"
    case "jaccard" => "Jaccard"
    case other => other
  }

  /** Validates + canonicalizes: binary collections take binary metrics
    * (Milvus: HAMMING/JACCARD), never the float whitelist — and vice
    * versa. Returns the canonical name to store. */
  def requireAllowed(raw: String, rules: WriteRules, binaryVec: Boolean): String = {
    val distance = canonical(raw)
    if (binaryVec)
      require(distance == "Hamming" || distance == "Jaccard",
        s"unsupported distance for BINARY_VECTOR: $raw (valid: Hamming, Jaccard)")
    else
      require(rules.allowedDistances.exists(_.equalsIgnoreCase(distance)),
        s"unsupported distance: $raw (valid: ${rules.allowedDistances.mkString(", ")})")
    distance
  }
}

/** Per-backend sink semantics (SURVEY §2 K1–K4). */
case class WriteRules(
    /** Milvus: collection must pre-exist (`adapters/milvus.py:154-160`). */
    requireExisting: Boolean = false,
    /** Milvus: records without id are skipped, not errors (`adapters/milvus.py:187-193`). */
    skipMissingId: Boolean = false,
    /** Qdrant: digit-string ids become ints (`adapters/qdrant.py:220-222`). */
    coerceDigitIds: Boolean = false,
    /** Qdrant distance whitelist (`adapters/qdrant.py:163-169`). */
    allowedDistances: Set[String] = Set("Cosine", "Euclid", "Dot", "Euclidean", "DotProduct"),
    /** Milvus: the vector field may be BINARY_VECTOR (`adapters/milvus.py:82`);
      * backends without the capability reject binary collections. */
    binaryVectors: Boolean = false)

/** Native ANN search pushed into the scan: per-partition top-k (the
  * Spark-side analog of Qdrant/Milvus/Pinecone `search` APIs, which the
  * reference never calls but every backend exposes). Installed by
  * [[graft.plans.PushVectorSearch]]. Metric is `cosine` (float
  * collections, `vector` is the query) or `hamming` (BINARY_VECTOR
  * collections, `binary` is the packed query — Milvus's native metric
  * for binary fields). */
case class SearchSpec(vector: Array[Float], k: Int,
                      binary: Array[Byte] = null, metric: String = "cosine") {
  def describe: String =
    if (metric == "hamming") s"topk(k=$k,metric=hamming,bytes=${binary.length})"
    else s"topk(k=$k,dim=${vector.length})"
}

class VSTable(collection: String, source: String, dialect: FilterDialect, rules: WriteRules,
              opts: CaseInsensitiveStringMap, val search: Option[SearchSpec] = None,
              vectorType: String = VectorTypes.Float,
              val backendFilters: Array[Filter] = Array.empty)
  extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsRowLevelOperations {

  /** This table's endpoint — every scan/write/delete under it talks to
    * the transport its own options name, never a process-global one. */
  private val spec: TransportSpec =
    TransportSpec.fromOptions(k => Option(opts.get(k)),
      backend = source.stripPrefix("graft-"))
  private def store: VectorStoreTransport = VectorStore.resolve(spec)

  def withSearch(spec: SearchSpec): VSTable =
    new VSTable(collection, source, dialect, rules, opts, Some(spec), vectorType,
      backendFilters)

  /** Metadata predicates Spark's pushdown API cannot carry (map access is
    * untranslatable), installed by [[graft.plans.PushMetadataFilters]] —
    * rendered to the backend dialect and applied at the store, while the
    * original Filter stays in the plan as the correctness backstop. */
  def withBackendFilters(fs: Array[Filter]): VSTable =
    new VSTable(collection, source, dialect, rules, opts, search, vectorType, fs)

  override def name(): String = s"$source:$collection" +
    (if (vectorType == VectorTypes.Binary) " [binary]" else "") +
    search.map(sp => s" [search k=${sp.k}]").getOrElse("")

  /** Stored collection config surfaced as table properties — this is what
    * `SHOW TBLPROPERTIES vs.c` and `DESCRIBE TABLE EXTENDED` print. */
  override def properties(): util.Map[String, String] =
    store.describe(collection).map { cfg =>
      val m = new util.HashMap[String, String]()
      m.put("distance", cfg.distance)
      m.put("dim", cfg.dim.toString)
      m.put("vector_type", cfg.vectorType)
      cfg.props.foreach { case (k, v) => m.put(k, v) }
      m
    }.getOrElse(util.Map.of())
  override def schema(): StructType =
    if (vectorType == VectorTypes.Binary) Canonical.binarySchema else Canonical.schema
  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
    TableCapability.BATCH_READ, TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new VSScanBuilder(collection, dialect,
      Option(options.get("page_size")).map(_.toInt).getOrElse(1000), search, schema(),
      backendFilters, spec,
      Option(options.get("cursor_parallelism")).map(_.toInt)
        .getOrElse(VSScan.DefaultCursorParallelism))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new VSWriteBuilder(collection, rules, info.options(), info.schema(), spec)

  /** `DELETE FROM vs.c WHERE …` (through [[VSCatalog]]): only predicates
    * the store itself can evaluate are accepted — Spark rejects the DELETE
    * otherwise instead of silently deleting the wrong rows. The emulation
    * resolves matching ids page by page and removes them in batches; a
    * network transport would render `filters` through the dialect and ship
    * one delete-by-filter call (Qdrant/Milvus both have one). */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(FilterEval.supported)

  /** SQL `UPDATE vs.c SET …` and `MERGE INTO vs.c USING …` — a DELTA-based
    * row-level operation ([[VSRowLevelOperation]]): Spark computes per-row
    * deltas and only the touched rows are shipped to the store's native
    * id-keyed upsert/delete. No shadow collection and no atomic swap: the
    * deltas are buffered until the job-level commit and applied there in
    * one pass (deletes first, then upserts), so a failed job leaves the
    * collection untouched, but a transport failure MID-commit can leave it
    * partially applied — both legs are idempotent, so re-running the same
    * statement converges. */
  override def newRowLevelOperationBuilder(info: RowLevelOperationInfo): RowLevelOperationBuilder =
    () => new VSRowLevelOperation(info.command(), collection, dialect, rules, opts, spec,
      schema())

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val pageSize = Option(opts.get("page_size")).map(_.toInt).getOrElse(1000)
    val doomed = scala.collection.mutable.ArrayBuffer.empty[String]
    // native-cursor walk (point-id / pagination-token on the wire
    // dialects; integer-rendered elsewhere) — ids resolve fully BEFORE
    // any delete, so paging never races its own mutations
    VSPaging.cursorWalk(c => store.scrollPage(collection, c, pageSize)).foreach { page =>
      // three-valued: UNKNOWN (absent key) does not delete
      doomed ++= page.filter(r =>
        filters.forall(f => FilterEval.eval3(f, r).contains(true))).map(_.id)
    }
    doomed.grouped(pageSize).foreach(b => store.delete(collection, b.toSeq))
  }
}

/** Delta-based row-level operations over a vector store (SQL UPDATE /
  * MERGE INTO): the id-keyed store already has the two delta verbs —
  * `upsert` and `delete(ids)` — so [[SupportsDelta]] is the natural
  * implementation, not a group-based rewrite. Spark computes per-row
  * deltas and only the TOUCHED rows ever move: an UPDATE of 100 rows in a
  * 10^9-row collection ships 100 upserts, where a group rewrite would
  * rewrite the whole collection. Carry-over rows never leave the backend,
  * and the command's condition stays pushable into the operation scan
  * (delta semantics need only the affected rows, so row-granular pushdown
  * is sound — unlike group-based rewrites, where it silently drops
  * carry-over rows).
  *
  * The reference has no in-place mutation at all (`core/migrator.py` only
  * copies); this is the Spark-native surface a standing collection needs
  * for corrections.
  *
  * APPLY-AT-COMMIT, not during the scan: the operation's scan pages the
  * LIVE collection by offset, and the delta write pipelines with it (no
  * required distribution forces an exchange), so any mutation applied
  * while another task is still paging would shift rows under its cursor —
  * rows re-read (double-applying non-idempotent SETs like `x = x + 1`) or
  * skipped. Writers therefore only BUFFER: each task returns its deltas in
  * its [[VSDeltaCommit]] message and the job-level
  * [[VSDeltaBatchWrite.commit]] applies them after every scan task has
  * drained — the same collect-then-apply shape as
  * [[VSTable.deleteWhere]]. Task failures are safe by construction
  * (an aborted task's message is discarded; nothing was applied).
  *
  * Driver memory: with a staging directory configured
  * ([[DeltaStaging.DirKey]] or `spark.graft.checkpoint.dir`), a task whose
  * touched set crosses the spill threshold streams its deltas to durable
  * scratch files and its commit message carries only the paths — commit
  * then streams deletes-then-upserts in batch-size groups, so driver
  * memory is O(batch_size) regardless of how many rows a MERGE touches.
  * Without a staging dir, deltas ride the commit messages as before
  * (bounded by the rows the condition touches — the pushable-condition
  * scan prunes everything else backend-side). */
class VSRowLevelOperation(cmd: RowLevelOperation.Command, collection: String,
                          dialect: FilterDialect, rules: WriteRules,
                          opts: CaseInsensitiveStringMap, spec: TransportSpec,
                          tableSchema: StructType)
  extends RowLevelOperation with SupportsDelta {

  private def pageSize = Option(opts.get("page_size")).map(_.toInt).getOrElse(1000)

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"VectorStoreRowLevel($cmd, $collection)"

  /** Rows are addressed by the canonical id — the store's primary key. */
  override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(Canonical.ID))

  /** The full scan builder, pushdowns included: a delta op only needs the
    * rows the condition touches, so the dialect-rendered filters prune the
    * backend scroll exactly like a plain read. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new VSScanBuilder(collection, dialect, pageSize, None, tableSchema, Array.empty, spec)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def toBatch: DeltaBatchWrite = {
          // delta rows arrive in the write schema's column order — resolve
          // the canonical positions by NAME (never trust position: plan
          // columns can precede the data columns in rewrites). A pure
          // DELETE's write schema is EMPTY (only row ids flow) — indices
          // stay -1 and the row writer is never invoked.
          val ws = info.schema()
          def at(name: String): Int = ws.fields.indexWhere(_.name.equalsIgnoreCase(name))
          val binaryVec = ws.fields.find(_.name.equalsIgnoreCase(Canonical.VECTOR))
            .exists(_.dataType == BinaryType)
          // staging resolved DRIVER-side at plan time: table option first,
          // then session conf, then the library checkpoint dir
          val staging = {
            val conf = org.apache.spark.sql.SparkSession.active.conf
            Option(opts.get("delta_stage_dir"))
              .orElse(conf.getOption(DeltaStaging.DirKey))
              .orElse(conf.getOption(graft.ops.Materialize.ConfKey)
                .filter(_.nonEmpty).map(_ + "/vs-delta-staging"))
              .map(dir => DeltaStaging.Spec(dir,
                Option(opts.get("delta_stage_threshold"))
                  .orElse(conf.getOption(DeltaStaging.ThresholdKey)).map(_.toInt)
                  .getOrElse(DeltaStaging.DefaultThreshold),
                // fs credentials/endpoints configured the standard Spark
                // way must reach the executor-side spill writers
                org.apache.spark.sql.SparkSession.active.sparkContext.getConf.getAll
                  .collect { case (k, v) if k.startsWith("spark.hadoop.") =>
                    k.stripPrefix("spark.hadoop.") -> v }.toMap))
          }
          // sweep orphans from crashed drivers (older than the TTL, so
          // concurrent jobs sharing the dir keep their in-flight files)
          staging.foreach { s =>
            val ttlH = org.apache.spark.sql.SparkSession.active.conf
              .getOption(DeltaStaging.TtlKey).map(_.toLong)
              .getOrElse(DeltaStaging.DefaultTtlHours.toLong)
            DeltaStaging.sweepStale(s.dir, s.hadoopProps, ttlH * 3600 * 1000L)
          }
          new VSDeltaBatchWrite(collection, rules,
            Option(opts.get("batch_size")).map(_.toInt).getOrElse(100), binaryVec, spec,
            (at(Canonical.ID), at(Canonical.VECTOR), at(Canonical.METADATA)), staging)
        }
      }
    }
}

/** Each task's buffered deltas ride its commit message; nothing touches
  * the store until this job-level commit. Deletes apply before upserts so
  * an id-changing UPDATE (delete old + upsert new) and a concurrent
  * rename-onto-a-deleted-id both resolve to the SQL-visible end state. */
class VSDeltaBatchWrite(collection: String, rules: WriteRules, batchSize: Int,
                        binaryVec: Boolean, spec: TransportSpec,
                        cols: (Int, Int, Int),
                        staging: Option[DeltaStaging.Spec] = None) extends DeltaBatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    VSDeltaWriterFactory(collection, rules, batchSize, binaryVec, spec, cols, staging)
  // the same fs credentials the executor-side writers used — the driver's
  // commit/abort must not depend on a thread-local active session
  private def props: Map[String, String] =
    staging.map(_.hadoopProps).getOrElse(Map.empty)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val deltas = messages.collect { case d: VSDeltaCommit => d }
    val store = VectorStore.resolve(spec)
    val streams = new DeltaStaging.LineStreams
    // a mid-stream store failure fails the job — the finally still closes
    // any partially-read staged-file handles and removes the staged files
    // (the delta protocol has no replay, so a failed commit's files are
    // dead weight either way)
    try {
      // deletes first (in-message, then each task's staged file, streamed —
      // never fully materialized on the driver), then upserts the same way
      var deleted = 0L
      deltas.iterator.flatMap(d =>
          d.deletes.iterator ++ d.stagedDeletes.iterator.flatMap(p =>
            DeltaStaging.lines(p, props, streams).map(DeltaStaging.idFromLine)))
        .grouped(batchSize).foreach { b =>
          store.delete(collection, b.toSeq); deleted += b.length
        }
      var written = 0L
      deltas.iterator.flatMap(d =>
          d.upserts.iterator ++ d.stagedUpserts.iterator.flatMap(p =>
            DeltaStaging.lines(p, props, streams).map(DeltaStaging.recordFromJson)))
        .grouped(batchSize).foreach(b => written += store.upsert(collection, b.toSeq))
      VSWriteStats.record(spec, collection, written, deltas.map(_.skipped).sum, deleted)
    } finally {
      streams.close()
      deltas.foreach { d =>
        d.stagedUpserts.foreach(DeltaStaging.delete(_, props))
        d.stagedDeletes.foreach(DeltaStaging.delete(_, props))
      }
    }
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    // nothing was applied; drop whatever committed tasks staged
    messages.collect { case d: VSDeltaCommit => d }.foreach { d =>
      d.stagedUpserts.foreach(DeltaStaging.delete(_, props))
      d.stagedDeletes.foreach(DeltaStaging.delete(_, props))
    }
}

/** A task's buffered deltas: applied only at [[VSDeltaBatchWrite.commit]].
  * `deletes` carries both DELETE row ids and the OLD ids of id-changing
  * UPDATEs; the replacing rows are in `upserts` of the same message. A
  * task that spilled carries file PATHS instead of rows (`staged*`); the
  * in-memory seqs are then empty. */
case class VSDeltaCommit(upserts: Seq[VSRecord], deletes: Seq[String],
                         skipped: Long,
                         stagedUpserts: Option[String] = None,
                         stagedDeletes: Option[String] = None) extends WriterCommitMessage

case class VSDeltaWriterFactory(collection: String, rules: WriteRules, batchSize: Int,
                                binaryVec: Boolean, spec: TransportSpec,
                                cols: (Int, Int, Int),
                                staging: Option[DeltaStaging.Spec] = None)
  extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new VSDeltaWriter(collection, rules, batchSize, binaryVec, spec, cols, staging)
}

/** Executor-side delta writer: BUFFERS ONLY. Updates/inserts decode to
  * [[VSRecord]]s, deletes to id lists; everything rides the task's
  * [[VSDeltaCommit]] and is applied at job commit — never here, because
  * the operation's scan may still be paging the live collection in
  * another task (see [[VSRowLevelOperation]]). */
class VSDeltaWriter(collection: String, rules: WriteRules, batchSize: Int,
                    binaryVec: Boolean, spec: TransportSpec,
                    cols: (Int, Int, Int),
                    staging: Option[DeltaStaging.Spec] = None)
  extends DeltaWriter[InternalRow] {

  private val upserts = scala.collection.mutable.ArrayBuffer.empty[VSRecord]
  private val deletes = scala.collection.mutable.ArrayBuffer.empty[String]
  private var skipped = 0L
  private val (idAt, _, _) = cols

  // spill state: once the buffered-row count crosses the staging
  // threshold, everything (existing buffers + subsequent ops) streams to
  // per-task scratch files and only the paths ride the commit message
  private var upsertOut: java.io.BufferedWriter = null
  private var deleteOut: java.io.BufferedWriter = null
  private var upsertPath: String = null
  private var deletePath: String = null

  private def idOf(rowId: InternalRow): String = rowId.getUTF8String(0).toString

  private def maybeSpill(): Unit = staging.foreach { s =>
    if (upsertOut == null && upserts.length + deletes.length >= s.threshold) {
      val uniq = java.util.UUID.randomUUID().toString
      upsertPath = s"${s.dir}/ups-$uniq.jsonl"
      deletePath = s"${s.dir}/del-$uniq.txt"
      upsertOut = DeltaStaging.newWriter(upsertPath, s.hadoopProps)
      deleteOut = DeltaStaging.newWriter(deletePath, s.hadoopProps)
      upserts.foreach { r => upsertOut.write(DeltaStaging.recordToJson(r)); upsertOut.newLine() }
      deletes.foreach { d => deleteOut.write(DeltaStaging.idToLine(d)); deleteOut.newLine() }
      upserts.clear(); deletes.clear()
      DeltaStaging.spillCount.incrementAndGet()
    }
  }

  private def addUpsert(rec: VSRecord): Unit =
    if (upsertOut != null) { upsertOut.write(DeltaStaging.recordToJson(rec)); upsertOut.newLine() }
    else { upserts += rec; maybeSpill() }

  private def addDelete(id: String): Unit =
    if (deleteOut != null) { deleteOut.write(DeltaStaging.idToLine(id)); deleteOut.newLine() }
    else { deletes += id; maybeSpill() }

  private def buffer(row: InternalRow): Option[VSRecord] =
    VSRowCodec.toRecord(row, rules, binaryVec, cols) match {
      case Some(rec) => addUpsert(rec); Some(rec)
      case None => skipped += 1; None
    }

  override def insert(row: InternalRow): Unit = {
    require(idAt >= 0, "delta write schema carries no data columns — cannot insert")
    buffer(row)
  }

  override def update(meta: InternalRow, rowId: InternalRow, row: InternalRow): Unit = {
    require(idAt >= 0, "delta write schema carries no data columns — cannot update")
    val oldId = idOf(rowId)
    // the old-id delete travels in the SAME commit message as the new
    // row's upsert — either both apply at job commit or neither does
    buffer(row).foreach(rec => if (rec.id != oldId) addDelete(oldId))
  }

  override def delete(meta: InternalRow, rowId: InternalRow): Unit =
    addDelete(idOf(rowId))

  override def commit(): WriterCommitMessage = {
    if (upsertOut != null) { upsertOut.close(); deleteOut.close() }
    VSDeltaCommit(upserts.toSeq, deletes.toSeq, skipped,
      Option(upsertPath), Option(deletePath))
  }
  override def abort(): Unit = {
    upserts.clear(); deletes.clear()
    if (upsertOut != null) {
      upsertOut.close(); deleteOut.close()
      val props = staging.map(_.hadoopProps).getOrElse(Map.empty)
      DeltaStaging.delete(upsertPath, props)
      DeltaStaging.delete(deletePath, props)
    }
  }
  override def close(): Unit = ()
}

// ---------------------------------------------------------------- read side

class VSScanBuilder(collection: String, dialect: FilterDialect, pageSize: Int,
                    search: Option[SearchSpec] = None,
                    tableSchema: StructType = Canonical.schema,
                    backendFilters: Array[Filter] = Array.empty,
                    spec: TransportSpec = TransportSpec.Local,
                    cursorParallelism: Int = VSScan.DefaultCursorParallelism)
  extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit with SupportsPushDownOffset
    with SupportsPushDownAggregates {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = tableSchema
  private var limit: Option[Int] = None
  private var offset: Option[Int] = None
  private var countColumns = 0

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // accept what the dialect can express; Spark re-evaluates the rest —
    // strictly better than the reference, which can't evaluate post-hoc
    val (ok, rest) = filters.partition(f => dialect.render(f).isDefined)
    pushed = ok
    rest
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  // A pushed limit truncates the raw scroll range — only sound when no
  // filters are pushed, because Spark's contract is limit-AFTER-filter
  // (a filtered scan truncated to [0, n) raw records can drop matches;
  // caught by the HTTP loopback suite's filtered .head()). pushFilters
  // runs before pushLimit in V2ScanRelationPushDown, so `pushed` is
  // final here.
  override def pushLimit(n: Int): Boolean = {
    // limit composes with pushed filters ONLY when the backend evaluates
    // the filters server-side (the limit must slice the FILTERED row
    // sequence); otherwise refuse and let Spark's Limit run above
    val fs = pushed ++ backendFilters
    val ok = fs.isEmpty || (VectorStore.resolve(spec).serverSideFilters &&
      fs.forall(dialect.render(_).isDefined))
    if (ok) { limit = Some(n); true } else false
  }
  override def isPartiallyPushed: Boolean = true

  override def pushOffset(n: Int): Boolean =
    // exact offset needs the global order — only sound in one partition
    // (SURVEY §7.4); with a pushed limit we scan single-partition anyway
    if (limit.isDefined) { offset = Some(n); true } else false

  /** Ungrouped COUNT(*): counting a collection must not ship its rows —
    * each partition counts its (filtered) scroll range backend-side and
    * emits ONE long; the final Aggregate Spark keeps above the scan sums
    * the partials (partial pushdown — the merge is Spark's, exactly like
    * per-shard counts on a real backend). Other aggregates / GROUP BY are
    * declined and Spark evaluates them from the row scan as before. */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    val ok = search.isEmpty && limit.isEmpty &&
      aggregation.groupByExpressions().isEmpty &&
      aggregation.aggregateExpressions().nonEmpty &&
      aggregation.aggregateExpressions().forall(_.isInstanceOf[CountStar])
    if (ok) countColumns = aggregation.aggregateExpressions().length
    ok
  }
  override def supportCompletePushDown(aggregation: Aggregation): Boolean = false

  override def build(): Scan =
    // backendFilters join the pushed set at the store (same FilterEval
    // seam) but are NOT reported via pushedFilters() — Spark never took
    // responsibility for them, the plan's Filter node still re-checks
    new VSScan(collection, dialect, pushed ++ backendFilters, required, limit, offset,
      pageSize, search, countColumns, spec, cursorParallelism)
}

case class VSInputPartition(start: Int, end: Int) extends InputPartition

/** Single sequential cursor walk over a cursor-paged backend (Qdrant
  * point-id scroll, Pinecone pagination token): `skip` records dropped at
  * the head (pushed OFFSET), `take` < 0 = unlimited (pushed LIMIT
  * otherwise). The wire API offers no offset addressing, so ONE walk
  * cannot be split into ranges; [[VSCursorSlicePartition]] instead runs N
  * concurrent walks over disjoint server-side id slices where the
  * dialect can express them. Backends with real offset params keep
  * [[VSInputPartition]] ranges. */
case class VSCursorPartition(skip: Int, take: Int) extends InputPartition

/** One of N CONCURRENT cursor walks over a cursor-paged backend: carries
  * the COMPLETE wire filter for its disjoint id slice (numeric-range
  * slices plus one non-numeric catch-all, each AND-composed with the
  * query's own pushed filters at plan time). The slices partition the id
  * space by construction, so the N walks together return exactly the
  * single walk's rows — at 1/N of the sequential round-trip latency a
  * 10 TB collection would otherwise pay. */
case class VSCursorSlicePartition(sliceFilter: String) extends InputPartition

/** Marker partition for a scan whose work is ONE native top-k search
  * call ([[VectorStoreTransport.nativeSearch]]) instead of a collection
  * scroll — planned when the transport serves the metric natively and
  * any pushed filters can ride the search (filtered search). */
case class VSSearchPartition() extends InputPartition

/** The ONE scoring definition shared by the scan readers and the loopback
  * wire servers — so the emulated backend's native search can never
  * disagree with the engine's scroll+score path about scores or ties
  * (selection order everywhere: cosine desc / hamming asc, then id asc). */
private[vectorstore] object VSScoring {
  def hammingBytes(a: Array[Byte], q: Array[Byte]): Int = {
    val n = math.min(a.length, q.length)
    var d = 0; var i = 0
    while (i < n) { d += Integer.bitCount((a(i) ^ q(i)) & 0xff); i += 1 }
    (n until a.length).foreach(j => d += Integer.bitCount(a(j) & 0xff))
    (n until q.length).foreach(j => d += Integer.bitCount(q(j) & 0xff))
    d
  }

  def cosine(a: Array[Float], q: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, q.length)
    while (i < n) {
      val x = a(i).toDouble; val y = q(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** Selection key: smaller is better for BOTH metrics (Hamming distance
    * ascending; cosine negated), ties on id ascending — the same order the
    * pushed query sorts by. */
  private def key(sp: SearchSpec)(r: VSRecord): Option[(Double, String)] =
    if (sp.metric == "hamming")
      Option(r.binary).map(b => (hammingBytes(b, sp.binary).toDouble, r.id))
    else
      Option(r.vector).map(v => (-cosine(v, sp.vector), r.id))

  /** Top-k records by `metric` against the query, ties on id — streaming:
    * a k-bounded heap over the record stream, O(n log k) time and O(k)
    * memory, so scoring a 100M-row partition never materializes it
    * (the collection-scan fallback when a backend declines native
    * search at runtime rides this). Returns (record, score) sorted best
    * first, score in the metric's own orientation. */
  def topKStreaming(records: Iterator[VSRecord], sp: SearchSpec): Seq[(VSRecord, Double)] = {
    val keyOf = key(sp) _
    // max-at-head over the selection key: the heap holds the k BEST seen,
    // its head is the current worst of them — evicted when beaten
    implicit val ord: Ordering[((Double, String), VSRecord)] =
      Ordering.by[((Double, String), VSRecord), (Double, String)](_._1)
    val heap = scala.collection.mutable.PriorityQueue.empty[((Double, String), VSRecord)]
    val keyOrd = Ordering[(Double, String)] // hoisted: per-record implicit
    records.foreach { r =>                  // lookup allocates in the hot loop
      keyOf(r).foreach { k =>
        if (heap.size < sp.k) heap.enqueue((k, r))
        else if (sp.k > 0 && keyOrd.lt(k, heap.head._1)) {
          heap.dequeue(); heap.enqueue((k, r))
        }
      }
    }
    val best: Seq[((Double, String), VSRecord)] = heap.dequeueAll.reverse.toSeq
    best.map(kv => kv._2 -> (if (sp.metric == "hamming") kv._1._1 else -kv._1._1))
  }

  /** Top-k records by `metric` against the query, ties on id. */
  def topK(records: Seq[VSRecord], sp: SearchSpec): Seq[(VSRecord, Double)] =
    topKStreaming(records.iterator, sp)
}

/** Page-iterator over either partition shape — the one paging loop both
  * readers share. `filter` is the dialect-rendered predicate shipped for
  * SERVER-side evaluation where the transport supports it (readers
  * re-check client-side regardless). */
private[vectorstore] object VSPaging {
  /** THE cursor-walk termination rule, in one place: the walk continues
    * exactly while the backend returns a continuation cursor — an empty
    * page with a LIVE cursor continues (real backends emit those while
    * records move between pages / the server bisects); no cursor ends it,
    * whatever the page held. Every native-cursor walk in the engine —
    * scan partitions, deleteWhere's id resolution, the atomic publish's
    * shadow copy — iterates this. */
  def cursorWalk(fetch: Option[String] => (Seq[VSRecord], Option[String]))
      : Iterator[Seq[VSRecord]] = new Iterator[Seq[VSRecord]] {
    private var cursor: Option[String] = None
    private var first = true
    override def hasNext: Boolean = first || cursor.isDefined
    override def next(): Seq[VSRecord] = {
      val (recs, nxt) = fetch(cursor)
      first = false
      cursor = nxt
      recs
    }
  }

  def pages(store: VectorStoreTransport, collection: String,
            part: InputPartition, pageSize: Int,
            wireFilter: Option[String] = None): Iterator[Seq[VSRecord]] = part match {
    case VSSearchPartition() => // native-search fallback: full cursor walk
      pages(store, collection, VSCursorPartition(0, -1), pageSize, wireFilter)
    case VSCursorSlicePartition(slice) => // slice filter already composed
      pages(store, collection, VSCursorPartition(0, -1), pageSize, Some(slice))
    case VSInputPartition(start, end) =>
      (start until end by pageSize).iterator.map { c =>
        store.scrollFiltered(collection, c, math.min(pageSize, end - c), wireFilter)
      }
    case VSCursorPartition(skip, takeN) => new Iterator[Seq[VSRecord]] {
      private val walk =
        cursorWalk(c => store.scrollPageFiltered(collection, c, pageSize, wireFilter))
      private var toSkip = skip
      private var remaining = takeN
      override def hasNext: Boolean = walk.hasNext && remaining != 0
      override def next(): Seq[VSRecord] = {
        val recs = walk.next()
        val afterSkip =
          if (toSkip <= 0) recs
          else { val d = math.min(toSkip, recs.length); toSkip -= d; recs.drop(d) }
        if (remaining < 0) afterSkip
        else { val t = afterSkip.take(remaining); remaining -= t.length; t }
      }
    }
    case other => throw new IllegalArgumentException(s"unknown partition: $other")
  }
}

object VSScan {
  /** Default concurrent cursor walks for a cursor-paged backend whose
    * dialect can slice the id space server-side (`cursor_parallelism`
    * table option overrides; 1 restores the sequential walk). */
  val DefaultCursorParallelism = 8
}

class VSScan(collection: String, dialect: FilterDialect, pushed: Array[Filter],
             required: StructType, limit: Option[Int], offset: Option[Int], pageSize: Int,
             search: Option[SearchSpec] = None, countColumns: Int = 0,
             spec: TransportSpec = TransportSpec.Local,
             cursorParallelism: Int = VSScan.DefaultCursorParallelism)
  extends Scan with Batch with SupportsReportStatistics {

  private def countMode = countColumns > 0
  private def store: VectorStoreTransport = VectorStore.resolve(spec)

  /** The pushed filters AND-combined in the backend's own syntax — what
    * travels on the wire for server-side evaluation (scroll filter body /
    * filtered search). Rendered driver-side; readers only carry the
    * string. */
  private val wireFilter: Option[String] =
    dialect.combine(pushed.flatMap(dialect.render).toSeq)

  /** The scan's (filtered) population — the backend's filtered count when
    * the pushed filters run server-side, else the raw count. Fetched AT
    * MOST ONCE per scan instance and shared by the stats estimate,
    * offset-range sizing, and cursor-slice planning, each of which used
    * to issue its own wire count (gated by FallbackInventorySpec's
    * call-count assertion). */
  private lazy val population: Int =
    if (wireFilter.isDefined && store.serverSideFilters)
      store.countFiltered(collection, wireFilter)
    else store.count(collection)

  override def readSchema(): StructType =
    if (countMode)
      StructType((0 until countColumns).map(i =>
        StructField(if (i == 0) "count(*)" else s"count(*)_$i", LongType, nullable = false)))
    else required

  override def toBatch: Batch = this

  override def description(): String = {
    val fs = pushed.flatMap(dialect.render).mkString(" AND ")
    s"VectorStoreScan($collection, dialect=${dialect.name}, pushed=[$fs], " +
      s"limit=$limit, offset=$offset" +
      (if (countMode) ", agg=count(*)" else "") +
      search.map(sp => s", search=${sp.describe}").getOrElse("") + ")"
  }

  /** Planner-visible size: row count from the backend's count endpoint,
    * bytes from the stored dim — so Catalyst/AQE can pick a broadcast for
    * a small collection joined against a big fact table instead of
    * shuffling the fact side. */
  override def estimateStatistics(): Statistics = new Statistics {
    // filtered population when the backend evaluates the pushed filters
    // server-side: a 100M-row collection filtered to 10k must report 10k,
    // or Catalyst/AQE never picks the broadcast join this scan deserves
    // (countFiltered degrades to the raw count on backends without a
    // filtered-count verb — the prior estimate, never worse)
    private val total = population
    private val rows: Long = limit match {
      case Some(l) => math.min(l.toLong, math.max(0L, total.toLong - offset.getOrElse(0)))
      case None if countMode => 1L
      case None => search.map(sp => math.min(sp.k.toLong, total.toLong)).getOrElse(total.toLong)
    }
    private val rowBytes: Long =
      if (countMode) 8L
      else store.describe(collection).map { c =>
        val vec = if (c.vectorType == VectorTypes.Binary) (c.dim + 7) / 8 else c.dim * 4
        32L + vec
      }.getOrElse(256L)
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(math.max(1L, rows * rowBytes))
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
  }

  override def planInputPartitions(): Array[InputPartition] = partitions

  /** The planned partitions, AT MOST ONCE per scan instance: Spark calls
    * `planInputPartitions` again for every copy of the `BatchScanExec` it
    * makes while planning (two per sliced query, measured), and each call
    * of [[planCursorSlices]] scrolls a whole probe page. Slices are
    * disjoint and covering for any split points, so freezing them freezes
    * balance only, as [[population]] already does. */
  private lazy val partitions: Array[InputPartition] = plan()

  private def plan(): Array[InputPartition] = {
    search match {
      // native top-k: ONE search call replaces the collection scroll —
      // only when the backend serves the metric AND any pushed filters
      // can ride the search (filter-after-top-k would drop rows a
      // filtered search returns, so it is never attempted)
      case Some(sp) if store.supportsNativeSearch(sp.metric) &&
        (pushed.isEmpty || (store.supportsSearchFilter &&
          pushed.forall(dialect.render(_).isDefined))) =>
        return Array(VSSearchPartition())
      case _ => ()
    }
    if (store.cursorPaged) {
      // cursor-paged wire (Qdrant point-id scroll, Pinecone pagination
      // token): offsets are not wire-addressable. A pushed limit/offset
      // needs the global head order — ONE sequential walk with skip/take
      // applied record-wise. Otherwise, when the backend evaluates filters
      // server-side and the dialect can address the id column, plan N
      // concurrent walks over disjoint id slices; backends that cannot
      // express the slices (Pinecone: metadata-only filters) keep the
      // single walk.
      if (limit.isDefined || offset.isDefined || cursorParallelism <= 1 ||
          !store.serverSideFilters)
        return Array(VSCursorPartition(offset.getOrElse(0), limit.getOrElse(-1)))
      return planCursorSlices(store)
    }
    // with a server-applied filter, offsets index the FILTERED row
    // sequence (scrollFiltered contract) — so the ranges must cover the
    // filtered count, not the collection total: sizing from the raw count
    // would plan thousands of empty wire calls for a selective filter
    val total = population
    limit match {
      // pushed limit+offset: single scroll from the head — the reference's
      // pagination semantics (one ordered page)
      case Some(l) =>
        val off = offset.getOrElse(0)
        Array(VSInputPartition(off, math.min(off + l, total)))
      case None =>
        // full scan: one scroll per page range, executors pull pages in
        // parallel (emulating per-shard scroll; fixes the single-page
        // truncation defect, adapters/qdrant.py:99-106)
        if (total == 0) Array(VSInputPartition(0, 0))
        else (0 until total by pageSize).map(s =>
          VSInputPartition(s, math.min(s + pageSize, total))).toArray
    }
  }

  /** N concurrent cursor walks over disjoint server-side id slices.
    *
    * The slices partition the whole id space by construction:
    * `(-inf,s1), [s1,s2), ..., [sN,+inf)` over ids that parse as numbers,
    * plus one catch-all `NOT(id < s1 OR id >= s1)` — which a non-numeric
    * id satisfies (both comparisons are false) and every numeric id fails.
    * Disjoint + covering holds for ANY id population, so the union of the
    * walks is exactly the single walk's row set — only BALANCE depends on
    * where the split points land, never correctness.
    *
    * Split points span `[min probe id, max(max probe id, min + count ·
    * spacing)]`: a one-page probe of the (filtered) id stream gives the low
    * end, and the backend's count extends the high end at the id spacing —
    * 1 for dense numeric ids (the common shape after digit-id coercion).
    * When the probe page arrives in ascending id order (a prefix of an
    * id-ordered scroll, as Qdrant serves it) its mean id spacing is the
    * spacing, so a filter that keeps every other id sizes the range twice
    * as wide; a page in any other order (insertion or string order) is no
    * prefix and keeps the dense assumption. Quantiles of the probe page
    * alone would be badly skewed — a first page of ids 0..499 over a 200k
    * collection puts 99.8% of the rows in the last slice. Falls back to
    * the single sequential walk when the collection fits in one page, the
    * probe has no numeric ids, or the dialect cannot render a slice
    * (metadata-only filter languages). */
  private def planCursorSlices(store: VectorStoreTransport): Array[InputPartition] = {
    import org.apache.spark.sql.sources.{Filter => SFilter, _}
    val single = Array[InputPartition](VSCursorPartition(0, -1))
    // the attribute the backend can actually range-filter for a record's
    // numeric identity (Qdrant: the reserved __gid payload mirror — point
    // ids are not range-filterable on the real wire); no attribute = no
    // honest slicing
    val id = dialect.idSliceAttribute.getOrElse(return single)
    // the shared per-scan population (filtered where the wire filters
    // server-side — the only way into this method): AT MOST one wire
    // count per scan instance, stats estimate included
    lazy val filteredPopulation: Long = population.toLong
    // probe one page of the (filtered) stream. Some transports return
    // EMPTY pages with a live cursor while they plan (Pinecone's interval
    // walk bisects before its first data page exactly when the filtered
    // set is big — the case slicing exists for), so follow the cursor
    // until data or exhaustion. The hop budget scales with the population
    // (bisection needs ~log2(n/page) splits before its first data page;
    // filtered count where the wire offers one, else the total as an
    // overestimate — extra budget is harmless, a too-small one silently
    // forfeits the parallel slicing for exactly the biggest scans).
    var (probe, next) = store.scrollPageFiltered(collection, None, pageSize, wireFilter)
    if (probe.isEmpty && next.isDefined) {
      val est = math.max(2L, filteredPopulation)
      val maxHops = 8 + 2 * (64 - java.lang.Long.numberOfLeadingZeros(est))
      var hops = 0
      while (probe.isEmpty && next.isDefined && hops < maxHops) {
        val (p2, n2) = store.scrollPageFiltered(collection, next, pageSize, wireFilter)
        probe = p2; next = n2; hops += 1
      }
      if (probe.isEmpty && next.isDefined)
        System.err.println(s"[graft] WARNING: slice probe of $collection gave up " +
          s"after $maxHops empty pages — falling back to ONE sequential walk")
    }
    if (probe.isEmpty || next.isEmpty) return single // fits in one page / empty
    val numeric = probe.flatMap(r => Option(r.id)).flatMap(_.toDoubleOption)
    if (numeric.isEmpty || cursorParallelism < 2) return single
    val lo = numeric.min
    // hi extension under a SELECTIVE pushed filter must size from the
    // FILTERED population — the unfiltered count overshoots the id range
    // and collapses every matching row into the last slice (balance only;
    // disjoint+covering holds for any split points). `population` already
    // resolves to the raw count when no filter is pushed, so the shared
    // per-scan value serves BOTH branches (a fresh store.count here would
    // be the second wire count the at-most-one invariant forbids).
    val total = filteredPopulation
    // mean id spacing of an ascending probe page: a filter that thins the
    // ids (every other id) stretches the range the count covers by as much
    val ascending = numeric.size > 1 &&
      numeric.iterator.sliding(2).forall { case Seq(a, b) => a < b }
    val spacing = if (ascending) (numeric.last - lo) / (numeric.size - 1) else 1.0
    val hi = math.max(numeric.max, lo + total.toDouble * spacing)
    if (!(hi > lo)) return single
    val want = cursorParallelism
    val splits = (1 until want).map(i => lo + (hi - lo) * i / want).distinct
    if (splits.isEmpty) return single
    val numericSlices: Seq[SFilter] =
      LessThan(id, Double.box(splits.head)) +:
        splits.sliding(2).collect { case Seq(a, b) =>
          And(GreaterThanOrEqual(id, Double.box(a)), LessThan(id, Double.box(b)))
        }.toSeq :+
        GreaterThanOrEqual(id, Double.box(splits.last))
    val catchAll: SFilter = // non-numeric ids: both range legs are false
      Not(Or(LessThan(id, Double.box(splits.head)),
        GreaterThanOrEqual(id, Double.box(splits.head))))
    val rendered = (numericSlices :+ catchAll).map(dialect.render)
    if (rendered.exists(_.isEmpty)) return single // dialect can't slice ids
    rendered.flatten.flatMap(s => dialect.combine(wireFilter.toSeq :+ s))
      .map(VSCursorSlicePartition(_): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // snapshot pinning, on the driver, once per job: tasks address the
    // resolved physical name (identity on backends without an engine
    // indirection; the live generation on Pinecone's namespace pointer) —
    // one consistent generation per scan, zero per-page pointer fetches
    new VSReaderFactory(store.snapshotName(collection), pushed, required, pageSize,
      search, countColumns, spec, wireFilter)
}

class VSReaderFactory(collection: String, pushed: Array[Filter], required: StructType,
                      pageSize: Int, search: Option[SearchSpec] = None, countColumns: Int = 0,
                      spec: TransportSpec = TransportSpec.Local,
                      wireFilter: Option[String] = None)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    if (countColumns > 0)
      new VSCountReader(collection, partition, pushed, pageSize, countColumns, spec,
        wireFilter)
    else
      new VSPartitionReader(collection, partition, pushed, required, pageSize, search,
        spec, wireFilter)
}

/** Pushed-COUNT(*) reader: scrolls its assigned range, counts the records
  * the pushed filters keep, and emits exactly ONE row of longs — the
  * partial count Spark's final Aggregate sums. Rows never cross the seam. */
class VSCountReader(collection: String, part: InputPartition, pushed: Array[Filter],
                    pageSize: Int, countColumns: Int,
                    spec: TransportSpec = TransportSpec.Local,
                    wireFilter: Option[String] = None)
  extends PartitionReader[InternalRow] {

  // resolved in the executor JVM where this reader was deserialized
  private val store = VectorStore.resolve(spec)
  private var emitted = false

  override def next(): Boolean = !emitted && { emitted = true; true }

  override def get(): InternalRow = {
    var n = 0L
    VSPaging.pages(store, collection, part, pageSize, wireFilter).foreach { page =>
      n += page.count(r => pushed.forall(FilterEval.eval(_, r)))
    }
    InternalRow.fromSeq(Seq.fill(countColumns)(n))
  }

  override def close(): Unit = ()
}

/** Scrolls the assigned range page by page, applies the pushed filters
  * "backend-side" (this emulates the DB evaluating the rendered filter),
  * and emits only the pruned columns. */
class VSPartitionReader(collection: String, part: InputPartition, pushed: Array[Filter],
                        required: StructType, pageSize: Int,
                        search: Option[SearchSpec] = None,
                        spec: TransportSpec = TransportSpec.Local,
                        wireFilter: Option[String] = None)
  extends PartitionReader[InternalRow] {

  private val store = VectorStore.resolve(spec)
  private lazy val pages = VSPaging.pages(store, collection, part, pageSize, wireFilter)
  private var page: Iterator[VSRecord] = Iterator.empty
  private var current: VSRecord = _

  // native-search mode: score the partition's (filtered) records and keep
  // only the local top-k; the Sort+Limit the optimizer left above merges
  // partition winners into the exact global top-k. Local selection breaks
  // ties on id — the same order the pushed query sorts by, so boundary
  // ties select identically to a full sort (integer Hamming distances tie
  // constantly; float cosines can too on planted duplicates).
  private lazy val searched: Iterator[VSRecord] = {
    val sp = search.get
    // native path: the backend serves top-k itself (one wire call, the
    // scored selection the planner asked for); fall through to the
    // scroll+score emulation when the transport declines at runtime
    val native = part match {
      case VSSearchPartition() => store.nativeSearch(collection, sp, wireFilter)
      case _ => None
    }
    native match {
      case Some(recs) =>
        recs.filter(r => pushed.forall(FilterEval.eval(_, r))).iterator
      case None =>
        // stream the page walk through the k-bounded heap — O(k) executor
        // memory however large the collection (never buffer the partition)
        val filtered = pages.flatMap(_.iterator.filter(r =>
          pushed.forall(FilterEval.eval(_, r))))
        VSScoring.topKStreaming(filtered, sp).map(_._1).iterator
    }
  }

  override def next(): Boolean = {
    if (search.isDefined) {
      if (searched.hasNext) { current = searched.next(); return true } else return false
    }
    while (true) {
      if (page.hasNext) {
        val r = page.next()
        if (pushed.forall(FilterEval.eval(_, r))) { current = r; return true }
      } else if (pages.hasNext) {
        page = pages.next().iterator
      } else return false
    }
    false
  }

  override def get(): InternalRow = {
    val values = required.fields.map { f =>
      f.name match {
        case Canonical.ID => UTF8String.fromString(current.id)
        // the column's declared type says which record face to emit: a
        // BINARY_VECTOR collection's table schema is Canonical.binarySchema
        case Canonical.VECTOR if f.dataType == BinaryType => current.binary
        case Canonical.VECTOR =>
          if (current.vector == null) null
          else new GenericArrayData(current.vector.map(_.asInstanceOf[Any]))
        case Canonical.METADATA => FilterEval.toMapData(current.metadata)
        case other => throw new IllegalArgumentException(s"unknown column: $other")
      }
    }
    InternalRow.fromSeq(values.toIndexedSeq)
  }

  override def close(): Unit = ()
}

/** Evaluates Catalyst pushdown filters against a [[VSRecord]] — the
  * "backend query engine" of the emulation. */
object FilterEval {
  // a metadata key present with a null value is SQL NULL — absent
  private def attr(name: String, r: VSRecord): Option[String] =
    (if (name == Canonical.ID) Option(r.id)
     else r.metadata.get(DialectUtil.stripMeta(name))).flatMap(Option(_))

  /** Whether `name` addresses something [[attr]] can resolve: the id
    * column or a metadata key. A predicate on the `vector`/`metadata`
    * columns themselves is NOT evaluable — accepting one on the DELETE
    * path would match nothing and silently delete zero rows where Spark
    * believes the DELETE ran. */
  private def resolvableAttr(name: String): Boolean =
    name == Canonical.ID ||
      (name != Canonical.VECTOR && name != Canonical.METADATA)

  /** String order = Spark's order: UTF8String compares UTF-8 BYTES, while
    * Java String.compareTo compares UTF-16 code units — the two disagree
    * above the BMP (supplementary characters sort below U+E000..U+FFFF in
    * code-unit order, above them in byte order). A search-absorbed range
    * predicate evaluated store-side in the wrong order would pass rows
    * Spark's retained Filter then drops AFTER top-k selection — evicting
    * genuine winners. One order everywhere closes that divergence. */
  private def utf8Cmp(a: String, b: String): Int =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  private def cmp(name: String, v: Any, r: VSRecord)(op: Int => Boolean): Boolean =
    attr(name, r).exists { s =>
      v match {
        case n: Number => s.toDoubleOption.exists(d => op(d.compareTo(n.doubleValue())))
        case other => op(utf8Cmp(s, String.valueOf(other)))
      }
    }

  def eval(f: Filter, r: VSRecord): Boolean = f match {
    case EqualTo(a, v) => cmp(a, v, r)(_ == 0)
    case GreaterThan(a, v) => cmp(a, v, r)(_ > 0)
    case GreaterThanOrEqual(a, v) => cmp(a, v, r)(_ >= 0)
    case LessThan(a, v) => cmp(a, v, r)(_ < 0)
    case LessThanOrEqual(a, v) => cmp(a, v, r)(_ <= 0)
    case In(a, vs) => vs.exists(v => cmp(a, v, r)(_ == 0))
    case IsNull(a) => attr(a, r).isEmpty
    case IsNotNull(a) => attr(a, r).isDefined
    case StringStartsWith(a, p) => attr(a, r).exists(_.startsWith(p))
    case StringEndsWith(a, p) => attr(a, r).exists(_.endsWith(p))
    case StringContains(a, p) => attr(a, r).exists(_.contains(p))
    case And(l, rr) => eval(l, r) && eval(rr, r)
    case Or(l, rr) => eval(l, r) || eval(rr, r)
    case Not(c) => !eval(c, r)
    case _: AlwaysTrue => true // TRUNCATE arrives as deleteWhere([AlwaysTrue])
    case _: AlwaysFalse => false
    case _ => true // unsupported filters were never pushed
  }

  /** Whether the DELETE path implements `f` exactly — both the filter
    * SHAPE and the attribute it references must be evaluable ("treat as
    * true" would delete too much; an unresolvable attribute would match
    * nothing and silently delete zero rows). */
  def supported(f: Filter): Boolean = f match {
    case EqualTo(a, _) => resolvableAttr(a)
    case GreaterThan(a, _) => resolvableAttr(a)
    case GreaterThanOrEqual(a, _) => resolvableAttr(a)
    case LessThan(a, _) => resolvableAttr(a)
    case LessThanOrEqual(a, _) => resolvableAttr(a)
    case In(a, _) => resolvableAttr(a)
    case IsNull(a) => resolvableAttr(a)
    case IsNotNull(a) => resolvableAttr(a)
    case StringStartsWith(a, _) => resolvableAttr(a)
    case StringEndsWith(a, _) => resolvableAttr(a)
    case StringContains(a, _) => resolvableAttr(a)
    case _: AlwaysTrue | _: AlwaysFalse => true
    case And(l, r) => supported(l) && supported(r)
    case Or(l, r) => supported(l) && supported(r)
    case Not(c) => supported(c)
    case _ => false
  }

  /** SQL three-valued evaluation for the DELETE path: `None` = UNKNOWN
    * (the referenced key is absent / NULL), and an UNKNOWN row is NOT
    * deleted — matching `DELETE … WHERE` semantics, where `NOT (absent =
    * 'x')` is NULL, not TRUE. The two-valued [[eval]] stays the SCAN-path
    * engine (pushed scan predicates reference `id` or dialect-rendered
    * metadata keys whose absent-is-false matches SQL's filter outcome);
    * deletes are where the two-valued collapse over-deletes. */
  def eval3(f: Filter, r: VSRecord): Option[Boolean] = {
    // a present value that is not a number compares to a numeric literal
    // as UNKNOWN: Spark's double cast of it is NULL, so `NOT (k > 5)` does
    // not delete a row whose k is "abc"
    def cmp3(name: String, v: Any)(op: Int => Boolean): Option[Boolean] =
      attr(name, r).flatMap { s =>
        v match {
          case n: Number => s.toDoubleOption.map(d => op(d.compareTo(n.doubleValue())))
          case other => Some(op(utf8Cmp(s, String.valueOf(other))))
        }
      }
    f match {
      case EqualTo(a, v) => cmp3(a, v)(_ == 0)
      case GreaterThan(a, v) => cmp3(a, v)(_ > 0)
      case GreaterThanOrEqual(a, v) => cmp3(a, v)(_ >= 0)
      case LessThan(a, v) => cmp3(a, v)(_ < 0)
      case LessThanOrEqual(a, v) => cmp3(a, v)(_ <= 0)
      case In(a, vs) => attr(a, r).flatMap { _ => // SQL IN: Kleene OR of equalities
        val hits = vs.map(v => cmp3(a, v)(_ == 0))
        if (hits.contains(Some(true))) Some(true)
        else if (hits.contains(None)) None else Some(false)
      }
      case IsNull(a) => Some(attr(a, r).isEmpty)
      case IsNotNull(a) => Some(attr(a, r).isDefined)
      case StringStartsWith(a, p) => attr(a, r).map(_.startsWith(p))
      case StringEndsWith(a, p) => attr(a, r).map(_.endsWith(p))
      case StringContains(a, p) => attr(a, r).map(_.contains(p))
      case And(l, rr) => (eval3(l, r), eval3(rr, r)) match { // Kleene AND
        case (Some(false), _) | (_, Some(false)) => Some(false)
        case (Some(true), Some(true)) => Some(true)
        case _ => None
      }
      case Or(l, rr) => (eval3(l, r), eval3(rr, r)) match { // Kleene OR
        case (Some(true), _) | (_, Some(true)) => Some(true)
        case (Some(false), Some(false)) => Some(false)
        case _ => None
      }
      case Not(c) => eval3(c, r).map(!_)
      case _: AlwaysTrue => Some(true)
      case _: AlwaysFalse => Some(false)
      case _ => None // unsupported never reaches the delete path
    }
  }

  def toMapData(m: Map[String, String]): MapData = {
    val keys = new GenericArrayData(m.keys.map(k => UTF8String.fromString(k)).toArray[Any])
    val vals = new GenericArrayData(m.values.map(v =>
      if (v == null) null else UTF8String.fromString(v)).toArray[Any])
    new ArrayBasedMapData(keys, vals)
  }
}

// --------------------------------------------------------------- write side

class VSWriteBuilder(collection: String, rules: WriteRules, opts: CaseInsensitiveStringMap,
                     writeSchema: StructType = Canonical.schema,
                     spec: TransportSpec = TransportSpec.Local)
  extends WriteBuilder with SupportsTruncate {

  private def store: VectorStoreTransport = VectorStore.resolve(spec)
  private var doTruncate = false

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite = {
      // the incoming DataFrame's vector column type decides the collection
      // vector type — the schema-driven rule of adapters/milvus.py:82
      val binaryVec = writeSchema.fields
        .find(_.name.equalsIgnoreCase(Canonical.VECTOR)).exists(_.dataType == BinaryType)
      if (binaryVec && !rules.binaryVectors)
        throw new IllegalArgumentException(
          "this backend does not support BINARY_VECTOR collections")
      val raw = Option(opts.get("distance")).getOrElse(if (binaryVec) "Hamming" else "Cosine")
      val distance = VSDistances.requireAllowed(raw, rules, binaryVec)
      val recreate = doTruncate || Option(opts.get("recreate")).exists(_.toBoolean)
      if (rules.requireExisting && !recreate && !store.exists(collection))
        throw new IllegalStateException(
          s"collection $collection does not exist (this backend requires pre-created collections)")
      val vt = if (binaryVec) VectorTypes.Binary else VectorTypes.Float
      // appending the wrong vector face into an existing collection is a
      // schema error, not silent corruption
      store.describe(collection).filter(_ => !recreate).foreach { cfg =>
        require(cfg.vectorType == vt,
          s"collection $collection holds ${cfg.vectorType}, cannot append $vt records")
      }
      val cfg = CollectionConfig(distance = distance,
        dim = Option(opts.get("dim")).map(_.toInt).getOrElse(0),
        onDisk = Option(opts.get("on_disk")).exists(_.toBoolean),
        // index tuning passthrough: hnsw_* / quantization_* config keys
        // travel whole (adapters/qdrant.py:179-186 forwards hnsw_config
        // and quantization_config the same way)
        props = {
          import scala.jdk.CollectionConverters._
          opts.entrySet().asScala
            .filter(e => e.getKey.startsWith("hnsw_") || e.getKey.startsWith("quantization_"))
            .map(e => e.getKey -> e.getValue).toMap
        },
        vectorType = vt)
      val batchSize = Option(opts.get("batch_size")).map(_.toInt).getOrElse(100)
      if (Option(opts.get("atomic")).exists(_.toBoolean)) {
        // exactly-once mode: tasks write an invisible SHADOW collection;
        // the job-level commit publishes it (see VSAtomicBatchWrite). The
        // target is NOT touched here — in recreate mode it keeps serving
        // its old contents until the commit swap.
        val shadow = store.stagingName(collection)
        store.createCollection(shadow, cfg, recreate = true)
        new VSAtomicBatchWrite(collection, shadow, recreate, rules, batchSize,
          binaryVec, spec)
      } else {
        // collection DDL happens once, on the driver — like the reference's
        // create-before-load (adapters/qdrant.py:188-212)
        store.createCollection(collection, cfg, recreate = recreate)
        new VSBatchWrite(collection, rules, batchSize, binaryVec, spec)
      }
    }
  }
}

/** Exactly-once (all-or-nothing) sink mode (`atomic` option): every task
  * writes an invisible per-job SHADOW collection, so a failed task — or a
  * whole failed job — leaves the target byte-identical; Spark calls
  * [[abort]] and the shadow is dropped unpublished. On success the
  * job-level [[commit]] publishes in one step:
  *
  *  - `recreate`: [[VectorStoreTransport.rename]] replaces the target with
  *    the shadow — ONE atomic verb on alias/pointer backends (Qdrant's
  *    alias-actions swap, Milvus v2 `POST /v2/vectordb/aliases/alter`,
  *    Pinecone's namespace-pointer flip; the in-memory emulation's
  *    synchronized map move), the documented copy-then-drop fallback
  *    elsewhere;
  *  - append: the shadow streams into the target in `batchSize` pages
  *    (id-keyed upserts — re-publishing after a commit-time crash
  *    converges), then drops.
  *
  * Without `atomic`, tasks upsert the live collection directly (retried
  * tasks re-upsert the same ids, so duplicates never appear, but a failed
  * JOB leaves the rows its successful tasks wrote). */
class VSAtomicBatchWrite(target: String, shadow: String, recreate: Boolean,
                         rules: WriteRules, batchSize: Int, binaryVec: Boolean,
                         spec: TransportSpec) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new VSWriterFactory(shadow, rules, batchSize, binaryVec, spec)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val store = VectorStore.resolve(spec)
    val (w, s) = messages.foldLeft((0L, 0L)) {
      case ((aw, as), VSCommit(cw, cs)) => (aw + cw, as + cs)
      case (acc, _) => acc
    }
    if (recreate) {
      store.rename(shadow, target)
      // NOTE a lost rename response + retry can strand the PRE-swap
      // generation on alias-publish transports (the retry sees the alias
      // already on `shadow` and retires nothing). The sweep is
      // deliberately NOT automatic here: dropping sibling `__staging_*`
      // collections from a commit would destroy a CONCURRENT same-target
      // job's live shadow — and rename's retry idempotency would then
      // convert that job's publish into a silent no-op (or, on
      // namespace-auto-create backends, a PARTIAL publish). Stranded
      // generations are swept by the operator-invoked maintenance verb
      // (CLI `--sweep-staging`), which runs when no publish is in flight.
    } else {
      // appending to a collection that does not exist yet: create it
      // (recreate=false — an existing target is never touched here)
      store.describe(shadow).foreach(cfg =>
        store.createCollection(target, cfg, recreate = false))
      val n = store.count(shadow)
      val session = org.apache.spark.sql.SparkSession.active
      if (!store.cursorPaged && n > batchSize) {
        // distributed publish: executors copy disjoint offset ranges of
        // the shadow — rows never pass through the driver, and a re-run
        // of a range converges (id-keyed upserts). One COARSE range per
        // task (the driver holds O(parallelism) tuples, not O(n/batch));
        // each task pages its span in batchSize chunks executor-side.
        // Cursor-paged backends cannot address offsets on the wire and
        // keep the driver-streamed copy below (still O(batch_size) driver
        // memory).
        val sp = spec; val sh = shadow; val tg = target; val bs = batchSize
        val par = math.max(1, math.min(session.sparkContext.defaultParallelism,
          (n + bs - 1) / bs))
        val span = (n + par - 1) / par
        val ranges = (0 until n by span).map(s0 => (s0, math.min(s0 + span, n)))
        session.sparkContext.parallelize(ranges, ranges.length)
          .foreach { case (s0, e0) =>
            val st = VectorStore.resolve(sp)
            var c = s0
            while (c < e0) {
              st.upsert(tg, st.scroll(sh, c, math.min(bs, e0 - c)))
              c += bs
            }
          }
      } else {
        VSPaging.cursorWalk(c => store.scrollPage(shadow, c, batchSize))
          .foreach(recs => if (recs.nonEmpty) store.upsert(target, recs))
      }
      store.drop(shadow)
    }
    VSWriteStats.record(spec, target, w, s)
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    VectorStore.resolve(spec).drop(shadow) // nothing ever reached the target
}

case class VSCommit(written: Long, skipped: Long) extends WriterCommitMessage

/** Driver-side record of the last commit's accounting per collection, so
  * the connector facade can report true written/skipped counts (the
  * reference's result dict, `adapters/milvus.py:284-291`). Delta commits
  * (SQL UPDATE/MERGE/DELETE) additionally report rows removed. */
object VSWriteStats {
  private val last = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Long)]()
  // keyed by ENDPOINT + collection: two same-named collections on
  // different endpoints (the dual-endpoint migration case TransportSpec
  // exists for) must not clobber each other's accounting
  private def key(spec: TransportSpec, collection: String): String =
    s"${spec.url.getOrElse("local")}::$collection"
  def record(spec: TransportSpec, collection: String, written: Long,
             skipped: Long, deleted: Long = 0L): Unit =
    last.put(key(spec, collection), (written, skipped, deleted))
  def get(spec: TransportSpec, collection: String): Option[(Long, Long)] =
    Option(last.get(key(spec, collection))).map { case (w, s, _) => (w, s) }
  def get(collection: String): Option[(Long, Long)] =
    get(TransportSpec.Local, collection)
  def deleted(spec: TransportSpec, collection: String): Long =
    Option(last.get(key(spec, collection))).map(_._3).getOrElse(0L)
  def deleted(collection: String): Long = deleted(TransportSpec.Local, collection)
}

class VSBatchWrite(collection: String, rules: WriteRules, batchSize: Int,
                   binaryVec: Boolean = false,
                   spec: TransportSpec = TransportSpec.Local,
                   cols: (Int, Int, Int) = (0, 1, 2)) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new VSWriterFactory(collection, rules, batchSize, binaryVec, spec, cols)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val (w, s) = messages.foldLeft((0L, 0L)) {
      case ((aw, as), VSCommit(cw, cs)) => (aw + cw, as + cs)
      case (acc, _) => acc
    }
    VSWriteStats.record(spec, collection, w, s)
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

class VSWriterFactory(collection: String, rules: WriteRules, batchSize: Int,
                      binaryVec: Boolean = false,
                      spec: TransportSpec = TransportSpec.Local,
                      cols: (Int, Int, Int) = (0, 1, 2))
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new VSDataWriter(collection, rules, batchSize, binaryVec, spec, cols)
}

/** Executor-side writer: buffers `batchSize` records then upserts — the
  * distributed form of the reference's batch loop
  * (`adapters/pgvector.py:223-233`, `adapters/qdrant.py:233-249`). */
class VSDataWriter(collection: String, rules: WriteRules, batchSize: Int,
                   binaryVec: Boolean = false,
                   spec: TransportSpec = TransportSpec.Local,
                   cols: (Int, Int, Int) = (0, 1, 2))
  extends DataWriter[InternalRow] {

  private val store = VectorStore.resolve(spec)
  private val buf = scala.collection.mutable.ArrayBuffer.empty[VSRecord]
  private var written = 0L
  private var skipped = 0L
  // canonical column positions in the incoming row: (0, 1, 2) for plain
  // appends; a row-level rewrite's rows carry extra plan columns
  // (__row_operation) so [[VSRowLevelOperation]] resolves these by name
  override def write(row: InternalRow): Unit =
    VSRowCodec.toRecord(row, rules, binaryVec, cols) match {
      case Some(rec) =>
        buf += rec
        if (buf.length >= batchSize) flush()
      case None => skipped += 1
    }

  private def flush(): Unit = if (buf.nonEmpty) {
    written += store.upsert(collection, buf.toSeq)
    buf.clear()
  }

  override def commit(): WriterCommitMessage = { flush(); VSCommit(written, skipped) }
  override def abort(): Unit = buf.clear()
  override def close(): Unit = ()
}

/** Shared InternalRow → [[VSRecord]] decoding for the append and delta
  * write paths: id rules ([[WriteRules.skipMissingId]] → None,
  * digit-id coercion), float vs packed-binary vector, string-map
  * metadata. `cols` are the canonical column positions in the incoming
  * row — resolved by NAME upstream, never trusted positionally. */
object VSRowCodec {
  def toRecord(row: InternalRow, rules: WriteRules, binaryVec: Boolean,
               cols: (Int, Int, Int)): Option[VSRecord] = {
    val (idAt, vecAt, metaAt) = cols
    val rawId = if (row.isNullAt(idAt)) null else row.getUTF8String(idAt).toString
    if (rawId == null || rawId.isEmpty) {
      if (rules.skipMissingId) return None
      else throw new IllegalArgumentException("record with null/empty id")
    }
    val id = if (rules.coerceDigitIds && rawId.forall(_.isDigit))
      rawId.toLongOption.map(_.toString).getOrElse(rawId) else rawId
    val binary = if (!binaryVec || row.isNullAt(vecAt)) null else row.getBinary(vecAt)
    val vector = if (binaryVec || row.isNullAt(vecAt)) null
      else row.getArray(vecAt).toFloatArray()
    val metadata = if (row.isNullAt(metaAt)) Map.empty[String, String] else {
      val m = row.getMap(metaAt)
      val keys = m.keyArray(); val vals = m.valueArray()
      (0 until m.numElements()).map { i =>
        keys.getUTF8String(i).toString ->
          (if (vals.isNullAt(i)) null else vals.getUTF8String(i).toString)
      }.toMap
    }
    Some(VSRecord(id, vector, metadata, binary))
  }
}
