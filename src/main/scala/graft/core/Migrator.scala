package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ExprId
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType
import graft.config.{ConfigException, MigrationConfig}
import graft.connectors.{ConnectorRegistry, WriteReport}
import graft.model.Canonical

/** Outcome of one migration run: the engine's richer version of the
  * reference's bool + log lines (`core/migrator.py:102-111`) and the Milvus
  * result accounting (`adapters/milvus.py:284-291`). */
case class RunReport(
    success: Boolean,
    extracted: Long,
    written: Long,
    skipped: Long,
    sourceType: String,
    targetType: String,
    error: Option[String] = None,
    /** Data-quality counters collected via `Dataset.observe` DURING the
      * write action — no extra pass over the data. */
    metrics: Map[String, String] = Map.empty,
    /** CHANGED records an insert-only sink could not apply (appending
      * them would duplicate their ids) — withheld from the write and
      * counted in the SAME action via `Dataset.observe`, so automation
      * consuming the report can detect an incomplete incremental apply
      * without parsing stderr. 0 on upserting sinks and full runs. */
    withheldUpdates: Long = 0)

/** Thrown when the user transform fails — aborts the migration like
  * `core/migrator.py:79-87`. */
final class TransformException(msg: String, cause: Throwable)
  extends RuntimeException(msg, cause)

/** The 6-step pipeline of the reference (`core/migrator.py:42-111`) on
  * Spark: resolve connectors → lazy read → transform → distributed write.
  *
  * Behavioral parity, verified by spec:
  *  - unknown connector type → error naming valid types (`core/migrator.py:31-36`)
  *  - empty extract aborts before any write (`core/migrator.py:71-74`)
  *  - transform errors abort with context (`core/migrator.py:79-87`)
  *  - run returns a report rather than throwing on write-side falsehoods
  *
  * The central upgrade: `data` is a lazy, partitioned DataFrame end to end
  * — nothing materializes on the driver (the reference holds the entire
  * dataset as a Python list, `core/migrator.py:69`).
  */
class Migrator(spark: SparkSession) {

  /** Runs the pipeline with one bounded probe on the extract (empty guard
    * and first-row dimension) and one write action that carries every
    * report counter. Only a transform that computes a new vector column
    * adds a second probe, over the transformed frame. */
  def run(config: MigrationConfig,
          transform: Option[DataFrame => DataFrame] = None): RunReport = {
    val sourceType = config.source.kind
    val targetType = config.target.kind
    val source = ConnectorRegistry(sourceType)
    val target = ConnectorRegistry(targetType)
    val query = config.source.query.getOrElse(
      throw new ConfigException("source block needs a 'query' section"))
    val load = config.target.load.getOrElse(
      throw new ConfigException("target block needs a 'load' section"))

    try {
      // config-declared pipeline resolves before anything is read —
      // a typo'd step name or param aborts upfront, not after extraction.
      // Composition order (pipeline, then hook) is the SHARED definition
      // TransformPipeline.effective — Validator derives its expectation
      // from the same helper, so the two can never drift again
      val effective = TransformPipeline.effective(config.pipeline, transform)

      val extracted = source.read(spark, config.source.connection, query)

      // The run's one probe: a bounded action on the EXTRACT, below any
      // repartition, transform or anti-join — a limit above a shuffle
      // cannot stop early, so a probe there would run the whole pipeline
      // once more before the write. No row is the empty-extract guard
      // (core/migrator.py:71-74); the row's vector size is the first-row
      // dimension (adapters/pgvector.py:167).
      val probe = extracted
        .select(if (isArrayVector(extracted)) size(col(Canonical.VECTOR)) else lit(0))
        .limit(1).collect()
      if (probe.isEmpty) {
        return RunReport(success = false, extracted = 0, written = 0, skipped = 0,
          sourceType = sourceType, targetType = targetType,
          error = Some("no data extracted from source"))
      }
      val firstDim = probe.head match {
        case r if !r.isNullAt(0) && r.getInt(0) > 0 => Some(r.getInt(0))
        case _ => None
      }

      // load.parallelism: one shuffle fans the pipeline out when the
      // source scan cannot (a cursor-paged wire source reads as ONE
      // sequential walk; without this the transform + write would also
      // run single-task)
      val fanned = load.parallelism match {
        case Some(n) if n > 0 => extracted.repartition(n)
        case _ => extracted
      }
      val transformed = effective match {
        case Some(f) =>
          try f(fanned)
          catch {
            case e: Exception =>
              throw new TransformException(s"transform failed: ${e.getMessage}", e)
          }
        case None => fanned
      }

      // QA counters ride along with the write action (Dataset.observe):
      // rows, missing vectors/ids, mean vector dim — zero extra scans.
      // WITHHELD-ROW contract: a transform may mark rows with a boolean
      // `__graft_withheld` column (IncrementalMigrator's insert-only
      // delta does). Marked rows are EXCLUDED from the write and counted
      // in the same action, by an observation attached BELOW the filter.
      val wCol = "__graft_withheld"
      val hasWithheld = transformed.columns.contains(wCol)
      // the shipped rows without observations, for the schema checks and
      // the post-transform probe below
      val shipped0 =
        if (hasWithheld) transformed.filter(!col(wCol)).drop(wCol) else transformed
      // size/avg_dim need an ARRAY vector: a BINARY_VECTOR collection
      // (Canonical.binarySchema) would fail analysis inside observe()
      val vectorIsArray = isArrayVector(shipped0)
      val canObserve = vectorIsArray && shipped0.columns.contains(Canonical.ID)
      // Resolve the dimension BEFORE attaching any observation, never by
      // an action over the observed plan: an Observation latches on the
      // first completed action, so a connector-side inferDim would report
      // the probe's one row as the run's rows and withheld count (hence
      // keyed on vectorIsArray, not canObserve: a withheld frame without
      // ids still carries the withheld observation). A vector
      // passed through from the extract (same attribute through
      // repartition, filters, joins and projections) takes the probe
      // row's size, or the extract's first non-empty vector when that row
      // has none. A transform that computes a new vector (chunk_embed,
      // pca_whiten, quantize_vectors, a user lambda) still pays one
      // post-transform probe over the unobserved shipped frame. All-empty
      // vectors pin Some(0), the connectors' own fallback.
      val loadResolved =
        if (load.dimension.isEmpty && vectorIsArray) {
          val passedThrough = vectorAttr(shipped0).isDefined &&
            vectorAttr(shipped0) == vectorAttr(extracted)
          val dim =
            if (passedThrough) firstDim.orElse(Canonical.inferDim(extracted))
            else Canonical.inferDim(shipped0)
          load.copy(dimension = dim.orElse(Some(0)))
        } else load
      // write plan, rebuilt fresh so both observations latch on the write
      // action and nothing else: [transformed] -> withheld observation ->
      // withheld filter -> QA observation -> write
      val withheldObs =
        new org.apache.spark.sql.Observation(s"graft-withheld-${System.nanoTime()}")
      val afterWithheld =
        if (hasWithheld)
          transformed.observe(withheldObs,
              sum(when(col(wCol), 1L).otherwise(0L)).as("withheld_updates"))
            .filter(!col(wCol)).drop(wCol)
        else transformed
      val observation = new org.apache.spark.sql.Observation(s"graft-run-${System.nanoTime()}")
      val observed = if (canObserve)
        afterWithheld.observe(observation,
          count(lit(1)).as("rows"),
          sum(when(col(Canonical.VECTOR).isNull, 1L).otherwise(0L)).as("null_vectors"),
          sum(when(col(Canonical.ID).isNull, 1L).otherwise(0L)).as("null_ids"),
          round(avg(size(col(Canonical.VECTOR))), 2).as("avg_dim"))
      else afterWithheld

      val report: WriteReport = target.write(observed, config.target.connection, loadResolved)
      val metrics = if (canObserve)
        observation.get.map { case (k, v) => k -> String.valueOf(v) }
      else Map.empty[String, String]
      val withheld = if (hasWithheld)
        withheldObs.get.get("withheld_updates") match {
          case Some(n: Number) => n.longValue()
          case _ => 0L
        }
      else 0L
      if (withheld > 0)
        System.err.println(s"[graft] WARNING: $withheld changed record(s) " +
          s"NOT shipped — the $targetType sink is insert-only (appending " +
          "an update would duplicate its id); re-run a full migration " +
          "with recreate to apply updates")
      RunReport(success = true,
        extracted = report.written + report.skipped, written = report.written,
        skipped = report.skipped, sourceType = sourceType, targetType = targetType,
        metrics = metrics, withheldUpdates = withheld)
    } catch {
      case e: TransformException =>
        RunReport(success = false, extracted = -1, written = 0, skipped = 0,
          sourceType = sourceType, targetType = targetType, error = Some(e.getMessage))
      case e: Exception =>
        // read/write-side failure: report, don't throw — the reference's
        // migrate() returns False on any step failure (core/migrator.py:102-111)
        RunReport(success = false, extracted = -1, written = 0, skipped = 0,
          sourceType = sourceType, targetType = targetType,
          error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    }
  }

  private def isArrayVector(df: DataFrame): Boolean =
    df.columns.contains(Canonical.VECTOR) &&
      df.schema(Canonical.VECTOR).dataType.isInstanceOf[ArrayType]

  /** The vector column's attribute in the analyzed plan: two frames with
    * the same id carry the same column, unchanged. */
  private def vectorAttr(df: DataFrame): Option[ExprId] =
    df.queryExecution.analyzed.output.find(_.name == Canonical.VECTOR).map(_.exprId)
}

object Migrator {
  /** Convenience mirroring `vectordb_migration.run_migration`
    * (`__init__.py:24-39`). */
  def runMigration(spark: SparkSession, configPath: String,
                   transform: Option[DataFrame => DataFrame] = None): RunReport =
    new Migrator(spark).run(MigrationConfig.fromFile(configPath), transform)
}

/** Incremental (diff) migration — the reference's named future work
  * ("incremental migration", `README.md:286`) delivered: ship only records
  * that are NEW or CHANGED relative to the target, computed as a left-anti
  * join on (id, content hash). One shuffle on id; at 100 TB the target
  * side is a pruned (id, hash) projection, not the full payload. */
object IncrementalMigrator {

  import org.apache.spark.sql.functions._
  import graft.model.Canonical

  /** Rows of `source` whose (id, vector+metadata hash) is absent from
    * `target` — inserts and updates; deletions are [[deletedIds]]. */
  def changedRecords(source: DataFrame, target: DataFrame): DataFrame = {
    // the values are hashed directly, the map's entries SORTED (a wire store
    // may return metadata in another key order). xxhash64 skips nulls, hence
    // the isnull flags; it hashes -0.0 as 0.0 (DEPLOYMENT.md).
    def keyed(df: DataFrame) = df.withColumn("__h",
      xxhash64(isnull(col(Canonical.VECTOR)), isnull(col(Canonical.METADATA)),
        col(Canonical.VECTOR), array_sort(map_entries(col(Canonical.METADATA)))))
    keyed(source).join(keyed(target).select(col(Canonical.ID), col("__h")),
        Seq(Canonical.ID, "__h"), "left_anti")
      .drop("__h")
  }

  /** Ids present in the target but gone from the source. */
  def deletedIds(source: DataFrame, target: DataFrame): DataFrame =
    target.select(Canonical.ID).except(source.select(Canonical.ID))

  /** Run a config's migration shipping only the delta into the target
    * (append mode regardless of `recreate`). */
  def run(spark: SparkSession, config: MigrationConfig,
          transform: Option[DataFrame => DataFrame] = None): RunReport = {
    val target = graft.connectors.ConnectorRegistry(config.target.kind)
    val load = config.target.load.getOrElse(
      throw new graft.config.ConfigException("target block needs a 'load' section"))
    // ONLY an absent collection falls back to the full-copy path. A
    // blanket Try(probe).isSuccess here once degraded TRANSIENT probe
    // failures (auth expiry, timeouts, rate limits) into a full
    // re-append that duplicated every pre-existing target record — so
    // existence is decided by the connector's TYPED probe, which returns
    // false only on positive evidence of absence and throws on every
    // other failure; a probe failure becomes a FAILED run (reference
    // semantics: migrate() returns False), never an append.
    val exists =
      try target.exists(spark, config.target.connection, load.collection)
      catch {
        case scala.util.control.NonFatal(e) =>
          return RunReport(success = false, extracted = -1, written = 0,
            skipped = 0, sourceType = config.source.kind,
            targetType = config.target.kind,
            error = Some("target existence probe failed (NOT treating as " +
              s"absent): ${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
    val existing =
      if (!exists) None
      else
        // read the target back through the connector's OWN write-codec
        // inverse (readBack): a plain read broke renamed pgvector targets
        // AND returned the flattened metadata as an empty map — hash-
        // mismatching EVERY metadata-bearing row, so each "incremental"
        // run re-appended the full collection. Eager read-side failures
        // (a catalog probe or schema resolution at plan time) become a
        // failed report, like every other step.
        try Some(target.readBack(spark, config.target.connection, load))
        catch {
          case scala.util.control.NonFatal(e) =>
            return RunReport(success = false, extracted = -1, written = 0,
              skipped = 0, sourceType = config.source.kind,
              targetType = config.target.kind,
              error = Some(s"target read-back failed: ${e.getClass.getSimpleName}: ${e.getMessage}"))
        }
    val deltaTransform: DataFrame => DataFrame = { df =>
      val base = transform.map(_(df)).getOrElse(df)
      existing match {
        case None => base
        case Some(t) =>
          val changed = changedRecords(base, t)
          if (target.upsertsById) changed
          else {
            // insert-only sink (files, memory): shipping a CHANGED
            // record would append a SECOND copy of its id — ship new ids
            // only. Updates are MARKED `__graft_withheld` instead of
            // anti-joined away: the Migrator filters them before the
            // write and counts them in the same action (Dataset.observe),
            // so the report's withheldUpdates field is exact with ZERO
            // extra joins/actions — the old semi-join count() re-ran the
            // whole delta pipeline even when nothing changed.
            // distinct: the semi/anti joins this replaces were duplicate-
            // safe; a plain left join against a target that already holds
            // duplicated ids (the very corruption this guard prevents)
            // would otherwise MULTIPLY the changed rows
            changed.join(
                t.select(col(Canonical.ID)).distinct().withColumn("__graft_t", lit(1)),
                Seq(Canonical.ID), "left")
              .withColumn("__graft_withheld", col("__graft_t").isNotNull)
              .drop("__graft_t")
          }
      }
    }
    new Migrator(spark).run(
      config.copy(target = config.target.copy(load = Some(load.copy(recreate = false)))),
      Some(deltaTransform))
  }
}
