package graft.connectors

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.config.{LoadSpec, QuerySpec}

/** Per-sink write accounting, mirroring the reference's Milvus result dict
  * (`adapters/milvus.py:284-291`: insert_count / processed / failed). */
case class WriteReport(written: Long, skipped: Long = 0L, details: Map[String, String] = Map.empty)

/** Introspected collection metadata — `get_schema_info` parity
  * (`adapters/pgvector.py:244-289`, `adapters/qdrant.py:257-322`,
  * `adapters/milvus.py:309-364`). */
case class SchemaInfo(
    collection: String,
    schema: StructType,
    vectorDim: Option[Int],
    distance: Option[String],
    properties: Map[String, String] = Map.empty)

/** Connector SPI: one implementation per backend, all trading in the
  * canonical DataFrame ([[graft.model.Canonical.schema]]). The unified
  * `write` signature deliberately fixes the reference's ABC/Milvus
  * signature mismatch (`core/adapter.py:45` vs `adapters/milvus.py:132`)
  * that breaks Milvus-as-target there. */
trait VectorConnector {
  /** Registry short name (adapter key, `adapters/__init__.py:13-18`). */
  def name: String

  /** Lazy, partitioned scan in canonical shape. Projection, filter,
    * limit/offset from the spec must reach the backend (pushdown), matching
    * the reference's pushdown-by-construction (P1–P3). */
  def read(spark: SparkSession, connection: Map[String, String], query: QuerySpec): DataFrame

  /** Distributed write of a canonical DataFrame. */
  def write(df: DataFrame, connection: Map[String, String], load: LoadSpec): WriteReport

  /** Collection introspection. */
  def schemaInfo(spark: SparkSession, connection: Map[String, String],
                 collection: String): SchemaInfo

  /** Read BACK what this connector's own [[write]] persisted, in CANONICAL
    * shape — the write codec's inverse. Most writers keep the canonical
    * column names and shapes, so the default plain read suffices;
    * connectors whose storage format renames columns (pgvector writes
    * under `load.idColumn`/`load.vectorColumn`) or flattens the metadata
    * map (pgvector/csv: `to_json` string; json: object inferred back as a
    * STRUCT) must override and restore it. Used wherever the engine
    * compares a target against a source — the incremental migrator's
    * content hash and `--validate` — where a lossy read-back silently
    * re-classifies every row as changed (re-appending the whole
    * collection each run) or fails on renamed columns. */
  def readBack(spark: SparkSession, connection: Map[String, String],
               load: LoadSpec): DataFrame =
    read(spark, connection, QuerySpec(collection = load.collection))

  /** Whether [[write]] REPLACES records by id (id-keyed upsert: pgvector
    * and the vector stores). Insert-only sinks (files, the in-memory test
    * connector) return false: appending a CHANGED record there creates a
    * second copy of its id — the incremental migrator ships inserts only
    * and warns about withheld updates instead of silently duplicating the
    * target. */
  def upsertsById: Boolean = false

  /** Definitive existence probe: `false` ONLY on positive evidence of
    * absence (missing path / no catalog row / describe miss); every other
    * failure — connectivity, auth expiry, timeout, rate limit — PROPAGATES.
    * Deliberately NOT a `Try(schemaInfo).isSuccess` default: the caller
    * that branches on this ([[graft.core.IncrementalMigrator.run]]) falls
    * back to the FULL-COPY path on absence, so a transient probe failure
    * misread as "absent" silently re-appends and duplicates every
    * pre-existing target record. */
  def exists(spark: SparkSession, connection: Map[String, String],
             collection: String): Boolean

  /** Shared [[exists]] substrate for the filesystem-backed connectors:
    * a missing path is definitive absence; FS faults (bad scheme, remote
    * store down) propagate rather than read as absent. ONE definition so
    * a future refinement (e.g. treating a `_temporary`-only directory as
    * absent) can't be applied to one connector and missed in another. */
  protected final def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}

/** Adapter registry: string type → connector, case-insensitive lookup with
  * the reference's dispatch semantics (`adapters/__init__.py:20-35`,
  * unknown type → error naming valid ones `core/migrator.py:31-36`). */
object ConnectorRegistry {
  private val builtin: Seq[VectorConnector] = Seq(
    new ParquetConnector(),
    new MemoryConnector(),
    new PgVectorConnector(),
    new FileConnector("csv"),
    new FileConnector("json"),
    new WebDatasetConnector(),
    new vectorstore.QdrantConnector(),
    new vectorstore.MilvusConnector(),
    new vectorstore.PineconeConnector())

  @volatile private var extra: Map[String, VectorConnector] = Map.empty

  /** Programmatic registration — the library surface the reference exposes
    * via `DBMigrator(ADAPTERS + custom)` (`tests/test_core.py:47-119`). */
  def register(c: VectorConnector): Unit = synchronized {
    extra = extra + (c.name.toLowerCase(java.util.Locale.ROOT) -> c)
  }

  def all: Map[String, VectorConnector] =
    builtin.map(c => c.name.toLowerCase(java.util.Locale.ROOT) -> c).toMap ++ extra

  def apply(name: String): VectorConnector =
    all.getOrElse(name.toLowerCase(java.util.Locale.ROOT),
      throw new graft.config.ConfigException(
        s"unknown connector type: $name. Valid types: ${all.keys.toSeq.sorted.mkString(", ")}"))

  def get(name: String): Option[VectorConnector] = all.get(name.toLowerCase(java.util.Locale.ROOT))
}
