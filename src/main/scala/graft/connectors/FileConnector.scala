package graft.connectors

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.config.{LoadSpec, QuerySpec}
import graft.model.Canonical

/** Generic file-format connector (csv / json / parquet via `format`),
  * rounding out the source/sink matrix for lakehouse interchange. CSV
  * cannot hold arrays, so vectors travel in pgvector text form
  * (`[0.1,0.2]`) through [[PgVectorCodec]] — JSON/parquet keep native
  * arrays.
  */
class FileConnector(fmt: String) extends VectorConnector {
  override def name: String = fmt

  private def path(connection: Map[String, String], collection: String): String = {
    val root = connection.getOrElse("path",
      throw new graft.config.ConfigException(s"$fmt connector needs connection.path"))
    if (collection.contains('.')) s"$root/$collection" else s"$root/$collection.$fmt"
  }

  override def read(spark: SparkSession, connection: Map[String, String],
                    query: QuerySpec): DataFrame = {
    var df = spark.read
      .format(fmt)
      .option("header", "true").option("inferSchema", "true") // csv options; ignored by json
      .load(path(connection, query.collection))
    query.filter.foreach(f => df = df.filter(expr(f)))
    val vecCol = query.vectorColumn.filter(df.columns.contains)
    // CSV vectors arrive as pgvector text
    val decoded = vecCol match {
      case Some(v) if fmt == "csv" =>
        df.withColumn(v, PgVectorCodec.textToVector(col(v)))
      case _ => df
    }
    var out = Canonical.from(decoded, query.idColumn, vecCol, query.metadataColumns)
    query.offset.filter(_ > 0).foreach(o => out = out.orderBy(Canonical.ID).offset(o.toInt))
    query.limit.foreach(l => out = out.limit(l.toInt))
    out
  }

  /** The write codec's inverse: csv flattens the canonical metadata map
    * to a `to_json` STRING; json keeps the object but Spark's schema
    * inference reads it back as a STRUCT — either way a plain read
    * returns an EMPTY map (only a MapType column passes through
    * [[Canonical.from]]), which hash-mismatches every metadata-bearing
    * row in the incremental migrator. Restore the map here. */
  override def readBack(spark: SparkSession, connection: Map[String, String],
                        load: LoadSpec): DataFrame = {
    import org.apache.spark.sql.types.{MapType, StringType, StructType}
    val raw = spark.read.format(fmt)
      .option("header", "true").option("inferSchema", "true")
      .load(path(connection, load.collection))
    val vecCol = Option(Canonical.VECTOR).filter(raw.columns.contains)
    val decoded = vecCol match {
      case Some(v) if fmt == "csv" => raw.withColumn(v, PgVectorCodec.textToVector(col(v)))
      case _ => raw
    }
    val mapT = MapType(StringType, StringType)
    val norm =
      if (!decoded.columns.contains(Canonical.METADATA)) decoded
      else decoded.schema(Canonical.METADATA).dataType match {
        case _: MapType => decoded // parquet-style native map: pass through
        case _: StructType => decoded.withColumn(Canonical.METADATA,
          coalesce(from_json(to_json(col(Canonical.METADATA)), mapT), map().cast(mapT)))
        case _: StringType => decoded.withColumn(Canonical.METADATA,
          coalesce(from_json(col(Canonical.METADATA), mapT), map().cast(mapT)))
        case _ => decoded
      }
    Canonical.from(norm, Canonical.ID, vecCol, Nil)
  }

  override def write(df: DataFrame, connection: Map[String, String],
                     load: LoadSpec): WriteReport = {
    val out = if (fmt == "csv")
      df.select(col(Canonical.ID),
        PgVectorCodec.vectorToText(col(Canonical.VECTOR)).as(Canonical.VECTOR),
        to_json(col(Canonical.METADATA)).as(Canonical.METADATA))
    else df
    // the row count rides the write action — no second pass
    val obs = new org.apache.spark.sql.Observation(s"graft-$fmt-${System.nanoTime()}")
    out.observe(obs, count(lit(1)).as("rows")).write.format(fmt)
      .option("header", "true")
      .mode(if (load.recreate) SaveMode.Overwrite else SaveMode.Append)
      .save(path(connection, load.collection))
    WriteReport(written = obs.get.get("rows").map(String.valueOf(_).toLong).getOrElse(0L))
  }

  override def exists(spark: SparkSession, connection: Map[String, String],
                      collection: String): Boolean =
    pathExists(spark, path(connection, collection))

  override def schemaInfo(spark: SparkSession, connection: Map[String, String],
                          collection: String): SchemaInfo = {
    val df = spark.read.format(fmt)
      .option("header", "true").option("inferSchema", "true")
      .load(path(connection, collection))
    SchemaInfo(collection, df.schema, vectorDim = None, distance = None)
  }
}
