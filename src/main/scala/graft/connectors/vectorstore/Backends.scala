package graft.connectors.vectorstore

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import scala.jdk.CollectionConverters._
import graft.config.{LoadSpec, QuerySpec}
import graft.connectors.{SchemaInfo, VectorConnector, WriteReport}
import graft.model.Canonical

/** Qdrant: JSON structured filters, scroll pagination, digit-id coercion on
  * write, distance ∈ {Cosine, Euclid, Dot} (`adapters/qdrant.py`). */
class QdrantProvider extends VectorStoreProvider {
  override def shortName(): String = "graft-qdrant"
  override def dialect: FilterDialect = new QdrantFilterDialect()
  override def rules: WriteRules = WriteRules(coerceDigitIds = true,
    allowedDistances = Set("Cosine", "Euclid", "Dot"))
}

/** Milvus: boolean-expression filters, pre-created collections required,
  * records without id skipped, FLOAT_VECTOR or BINARY_VECTOR field
  * (`adapters/milvus.py`; the binary capability is `milvus.py:82`'s
  * field heuristic). */
class MilvusProvider extends VectorStoreProvider {
  override def shortName(): String = "graft-milvus"
  override def dialect: FilterDialect = new MilvusExprDialect()
  override def rules: WriteRules = WriteRules(requireExisting = true, skipMissingId = true,
    binaryVectors = true)
}

/** Pinecone: index + namespace addressing; the reference DECLARES this
  * adapter but ships an empty module (`adapters/pinecone.py`, 0 lines —
  * importing it crashes the package). Implemented here for real. */
class PineconeProvider extends VectorStoreProvider {
  override def shortName(): String = "graft-pinecone"
  override def dialect: FilterDialect = new PineconeFilterDialect()
  override def rules: WriteRules = WriteRules()
}

/** Facade base: VectorConnector surface over the DSv2 source. The config
  * `query.filter` (backend-native string) is parsed by the dialect into a
  * Column, so Catalyst re-derives pushdown filters and the scan renders
  * them BACK into backend syntax — the round trip proves dialect fidelity.
  */
abstract class VectorStoreConnector(fmt: String, dialect: FilterDialect)
  extends VectorConnector {

  /** Vector stores REPLACE by id on upsert — the incremental migrator may
    * ship CHANGED records here without duplicating the target. */
  override def upsertsById: Boolean = true

  /** Config-driven transport: a `url` connection key points THIS
    * connector's reads/writes at an HTTP endpoint (auth via `api_key`,
    * bounded retries via `max_retries`). The endpoint rides the options
    * into every DSv2 table, so it is resolved per table at execution
    * time — never installed process-wide. That matters because DSv2 scans
    * run lazily: in a migration the source's scroll calls execute during
    * the TARGET's write, and a process-global install would read the
    * source collection from the target backend. */
  protected def specOf(connection: Map[String, String]): TransportSpec =
    TransportSpec.fromOptions(connection.get, backend = name)

  override def read(spark: SparkSession, connection: Map[String, String],
                    query: QuerySpec): DataFrame = {
    var df = spark.read.format(fmt)
      .options(connection)
      .option("collection", query.collection)
      .load()
    query.filter.foreach(f => df = df.filter(dialect.parse(f)))
    query.offset.filter(_ > 0).foreach(o => df = df.orderBy(Canonical.ID).offset(o.toInt))
    query.limit.foreach(l => df = df.limit(l.toInt))
    df
  }

  override def write(df: DataFrame, connection: Map[String, String],
                     load: LoadSpec): WriteReport = {
    // null ids travel as '' so the table's non-null id contract (required
    // by SQL row-level ops) is satisfied; the backend's missing-id rule
    // (Milvus skips, others reject — adapters/milvus.py:187-193) still
    // decides in the writer, and the skip count survives in the report
    val dfw =
      if (df.columns.contains(Canonical.ID))
        df.withColumn(Canonical.ID,
          org.apache.spark.sql.functions.coalesce(
            org.apache.spark.sql.functions.col(Canonical.ID),
            org.apache.spark.sql.functions.lit("")))
      else df
    dfw.write.format(fmt)
      .options(connection)
      .option("collection", load.collection)
      .option("distance", load.distance)
      .option("batch_size", load.batchSize.toString)
      .option("recreate", load.recreate.toString)
      .options(load.dimension.map(d => Map("dim" -> d.toString)).getOrElse(Map.empty))
      .options(load.options)
      .mode(if (load.recreate) "overwrite" else "append")
      .save()
    // true per-writer accounting from the commit messages — counts upserted
    // AND skipped records, which a before/after size diff cannot see;
    // keyed by THIS write's endpoint so concurrent same-named collections
    // on other endpoints never alias, and by the namespace-qualified name
    // the writer recorded under (same options, same precedence as above)
    val target = VectorStoreProvider.collectionName(new CaseInsensitiveStringMap(
      (connection + ("collection" -> load.collection) ++ load.options).asJava), fmt)
    val (written, skipped) = VSWriteStats.get(specOf(connection), target)
      .getOrElse((VectorStore.resolve(specOf(connection)).count(target).toLong, 0L))
    WriteReport(written = written, skipped = skipped)
  }

  /** Store-definitive: a describe MISS (the backend answered, and said no)
    * is absence; resolve/transport failures propagate. */
  override def exists(spark: SparkSession, connection: Map[String, String],
                      collection: String): Boolean =
    VectorStore.resolve(specOf(connection)).describe(collection).isDefined

  override def schemaInfo(spark: SparkSession, connection: Map[String, String],
                          collection: String): SchemaInfo = {
    val store = VectorStore.resolve(specOf(connection))
    val cfg = store.describe(collection).getOrElse(
      throw new graft.config.ConfigException(s"collection not found: $collection"))
    val dim = Some(cfg.dim).filter(_ > 0).orElse(
      store.scroll(collection, 0, 1).headOption
        .flatMap(r => Option(r.vector)).map(_.length))
    SchemaInfo(collection, Canonical.schema, dim, Some(cfg.distance), cfg.props)
  }
}

class QdrantConnector extends VectorStoreConnector("graft-qdrant", new QdrantFilterDialect()) {
  override def name: String = "qdrant"
}

class MilvusConnector extends VectorStoreConnector("graft-milvus", new MilvusExprDialect()) {
  override def name: String = "milvus"
}

class PineconeConnector extends VectorStoreConnector("graft-pinecone", new PineconeFilterDialect()) {
  override def name: String = "pinecone"
}
