package graft.perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.config.{EndpointConfig, LoadSpec, MigrationConfig, QuerySpec}
import graft.connectors.pgwire.{PgTestServer, PgWireClient}
import graft.core.{IncrementalMigrator, Migrator, RunReport}

/** What every workload shares: the session, the checkout-local work
  * directory, the seed and the partition count (= cores). */
final case class Ctx(spark: SparkSession, work: Path, seed: Long, cores: Int) {
  def dataRoot: Path = work.resolve("data")
}

/** Outcome of one timed run, kept for its (untimed) output check: the
  * program's reports, or one outcome per part of a composite run. */
final case class RunOut(reports: Seq[RunReport] = Nil, parts: Seq[RunOut] = Nil)

/** A named, seeded, closed-loop workload. `prepare` may run several
  * times (each followed by `teardown`) so set-up can be measured as a
  * median; `reset` restores the sink before every timed run, untimed. */
trait Workload {
  def name: String
  def inputRows: Long
  def logicalBytes: Long
  def generate(): Unit
  def prepare(): Unit
  def teardown(): Unit
  def reset(): Unit = ()
  def run(): RunOut
  def check(out: RunOut): Option[String]
  def sinkBytes(): Long
  /** Timed runs at least, however soon `--seconds` is reached: a fixed
    * count keeps every process's median at the same JIT warm-up stage. */
  def minRuns: Int = 3
  /** The traced run: the timed run's calls, each wrapped in a `main`
    * span, plus per-layer probe spans around other public calls of the
    * program. Returns the workload's own layer metrics. */
  def traced(t: Tracer, parent: Int): Map[String, Double]
}

object Workloads {
  val Names: Seq[String] = Seq("migrate", "curate_corpus")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "migrate" => new Composite("migrate", Seq(new MigratePg(ctx), new QdrantPinecone(ctx)), 3)
    case "curate_corpus" => new CurateCorpus(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'; known: ${Names.mkString(", ")}")
  }

  def metaCols: Seq[String] = Seq("category", "lang", "shard")

  def embQuery(collection: String): QuerySpec =
    QuerySpec(collection = collection, metadataColumns = metaCols)

  def config(src: String, srcConn: Map[String, String], q: QuerySpec,
             dst: String, dstConn: Map[String, String], load: LoadSpec): MigrationConfig =
    MigrationConfig(EndpointConfig(src, srcConn, Some(q), None),
      EndpointConfig(dst, dstConn, None, Some(load)))

  def ok(r: RunReport): RunReport = {
    if (!r.success) throw new IllegalStateException(s"migration failed: ${r.error.getOrElse("?")}")
    r
  }

  def sumJobs(jobs: Seq[JobRec], module: String): Double =
    Tracer.covered(Tracer.segments(jobs.filter(_.module == module),
      if (jobs.isEmpty) 0 else jobs.map(_.start).min, if (jobs.isEmpty) 0 else jobs.map(_.end).max))
}

/** Parts run back to back as one workload: every step of the run,
  * set-up, check and trace is the parts' own, in order. */
final class Composite(val name: String, parts: Seq[Workload], override val minRuns: Int)
  extends Workload {
  def inputRows: Long = parts.map(_.inputRows).sum
  def logicalBytes: Long = parts.map(_.logicalBytes).sum
  def generate(): Unit = parts.foreach(_.generate())
  def prepare(): Unit = parts.foreach(_.prepare())
  def teardown(): Unit = parts.foreach(_.teardown())
  override def reset(): Unit = parts.foreach(_.reset())
  def run(): RunOut = RunOut(parts = parts.map(_.run()))
  def check(out: RunOut): Option[String] = {
    // a traced run hands in no outcomes: the parts then check their sinks only
    val outs = if (out.parts.isEmpty) parts.map(_ => RunOut()) else out.parts
    parts.zip(outs).iterator.flatMap { case (p, o) => p.check(o).map(e => s"${p.name}: $e") }
      .nextOption()
  }
  def sinkBytes(): Long = parts.map(_.sinkBytes()).sum
  def traced(t: Tracer, parent: Int): Map[String, Double] = parts.map(_.traced(t, parent)).reduce(_ ++ _)
}

/** A throwaway PostgreSQL for the pg workloads (`PgTestServer`). */
final class Pg {
  private var running: Option[PgTestServer.Running] = None
  def start(): Unit = running = Some(PgTestServer.start().getOrElse(throw new IllegalStateException(
    "PostgreSQL could not start (needs /usr/lib/postgresql/*/bin and a 'postgres' user)")))
  def stop(): Unit = { running.foreach(_.stop()); running = None }
  def port: Int = running.map(_.port).getOrElse(throw new IllegalStateException("pg not started"))
  def sql[A](db: String)(f: PgWireClient => A): A = {
    val c = new PgWireClient("127.0.0.1", port, "postgres", db)
    try f(c) finally c.close()
  }
  def conn(db: String): Map[String, String] =
    Map("host" -> "127.0.0.1", "port" -> port.toString, "protocol" -> "wire",
      "data_format" -> "binary", "user" -> "postgres", "database" -> db)
  def one(db: String, q: String): Double = sql(db)(_.query(q).rows.head.head.toDouble)

  /** pg_stat_database (of `db`) and pg_stat_wal counters. */
  def stats(db: String): Map[String, Double] = sql("postgres") { c =>
    val r = c.query("SELECT d.active_time, d.xact_commit, d.tup_returned, w.wal_bytes " +
      "FROM pg_stat_database d, pg_stat_wal w WHERE d.datname = '" + db + "'").rows.head
    Map("active_ms" -> r(0).toDouble, "xact_commit" -> r(1).toDouble,
      "tup_returned" -> r(2).toDouble, "wal_bytes" -> r(3).toDouble)
  }
}

/** The reference's program plus its named future work, back to back:
  * an initial parquet → pgvector load (wire protocol, binary COPY,
  * recreate) of a snapshot, then an incremental re-sync of the changed
  * source into that target (full read-back on one connection, (id, hash)
  * anti-join, small upsert). Every run starts from an empty table. */
final class MigratePg(ctx: Ctx) extends Workload {
  val name = "pg"
  val pg = new Pg
  private lazy val inc = Gen.incremental(ctx.seed)
  private lazy val want = Checks.expected(inc.source)
  private var dir: Path = _
  private val table = "emb"
  def inputRows: Long = inc.snapshot.length + inc.source.length
  def logicalBytes: Long = (inc.snapshot ++ inc.source).map(_.logicalBytes).sum

  def generate(): Unit = dir = Gen.cached(ctx.dataRoot,
    s"pg-v${Gen.Version}-seed${ctx.seed}-n${Gen.PgRows}-d${Gen.Dim}") { d =>
    Gen.writeParquet(ctx.spark, Gen.embRows(inc.snapshot), Gen.EmbSchema, d, "snapshot")
    Gen.writeParquet(ctx.spark, Gen.embRows(inc.source), Gen.EmbSchema, d, "source")
  }
  def prepare(): Unit = { pg.start(); pg.sql("postgres")(_.query("CREATE DATABASE bench")) }
  def teardown(): Unit = pg.stop()

  private val load = LoadSpec(collection = table, parallelism = Some(ctx.cores))
  private def cfg(collection: String, recreate: Boolean) =
    Workloads.config("parquet", Map("path" -> dir.toString), Workloads.embQuery(collection),
      "pgvector", pg.conn("bench"), load.copy(recreate = recreate))
  private def initial(): RunReport = Workloads.ok(new Migrator(ctx.spark).run(cfg("snapshot", recreate = true)))
  private def resync(): RunReport = Workloads.ok(IncrementalMigrator.run(ctx.spark, cfg("source", recreate = false)))

  def run(): RunOut = RunOut(Seq(initial(), resync()))
  def check(out: RunOut): Option[String] = {
    val written = out.reports.map(_.written)
    if (out.reports.nonEmpty && written != Seq(inc.snapshot.length.toLong, inc.delta.toLong))
      Some(s"reports say ${written.mkString(" then ")} written; expected " +
        s"${inc.snapshot.length} then the planted delta ${inc.delta}")
    else Checks.pgTable(Checks.pgRows(pg.port, "bench", table), want)
  }
  def sinkBytes(): Long = pg.one("bench", s"SELECT pg_total_relation_size('$table')").toLong

  override def traced(t: Tracer, parent: Int): Map[String, Double] = {
    val (m1, b1, a1) = t.main("core.Migrator.run", parent, () => pg.stats("bench"))(initial())
    val target = graft.connectors.ConnectorRegistry("pgvector")
    val (tgt, read) = t.span("connectors.pgwire.readBack", "probe", "connectors.pgwire", parent) { _ =>
      val df = target.readBack(ctx.spark, pg.conn("bench"), load.copy(collection = table)).localCheckpoint()
      (df, df.count())
    }
    val src = graft.connectors.ConnectorRegistry("parquet")
      .read(ctx.spark, Map("path" -> dir.toString), Workloads.embQuery("source"))
    val (delta, diff) = t.span("core.IncrementalMigrator.changedRecords", "probe", "core", parent) { _ =>
      IncrementalMigrator.changedRecords(src, tgt._1).localCheckpoint().count()
    }
    val (_, b2, a2) = t.main("core.IncrementalMigrator.run", parent, () => pg.stats("bench"))(resync())
    val d1 = (k: String) => a1(k) - b1(k)
    val writeJobs = t.jobsIn(m1).filter(_.module == "connectors.pgwire")
    Map("pgwire.write_s" -> Workloads.sumJobs(writeJobs, "connectors.pgwire"),
      "pg.server_active_s" -> d1("active_ms") / 1000.0,
      "pgwire.client_s" -> (writeJobs.flatMap(_.stages).map(_.runS).sum - d1("active_ms") / 1000.0),
      "pg.wal_mb" -> d1("wal_bytes") / 1e6,
      "pg.xact_commit" -> d1("xact_commit"),
      "pgwire.read_s" -> read.dur, "pgwire.read_rows_per_s" -> tgt._2 / read.dur,
      "pg.tup_returned" -> (a2("tup_returned") - b2("tup_returned")),
      "core.incremental.diff_s" -> diff.dur,
      "core.incremental.delta_ratio" -> delta.toDouble / tgt._2)
  }
}

/** Qdrant (filtered scroll) → Pinecone through the JSON wire dialects,
  * both ends in-process loopback servers owned by the harness. */
final class QdrantPinecone(ctx: Ctx) extends Workload {
  import graft.connectors.vectorstore._
  val name = "qdrant_pinecone"
  private lazy val rows = Gen.embeddings(ctx.seed, 5, Gen.QdrantRows)
  private lazy val filtered = rows.filter(_.shard == "even")
  private val PageSize = 256
  private val BatchSize = 100
  private var qdrant: TimedQdrant = _
  private var pinecone: TimedPinecone = _
  private var pineStore: InMemoryStore = _
  // what crosses the wire: the server-side filter passes about half
  def inputRows: Long = filtered.length
  def logicalBytes: Long = filtered.map(_.logicalBytes).sum

  def generate(): Unit = rows // in memory: prepare() preloads it over the wire
  def prepare(): Unit = {
    qdrant = new TimedQdrant(new InMemoryStore)
    val t = new QdrantWireTransport(qdrant.url)
    t.createCollection("emb_src", CollectionConfig(dim = Gen.Dim), recreate = true)
    rows.grouped(500).foreach(g => t.upsert("emb_src",
      g.map(e => VSRecord(e.id.toString, e.vec, e.meta))))
  }
  def teardown(): Unit = {
    Option(qdrant).foreach(_.stop()); Option(pinecone).foreach(_.stop())
    qdrant = null; pinecone = null
  }
  /** A fresh, empty Pinecone per run: the sink starts from nothing and
    * its request log holds one run only. */
  override def reset(): Unit = {
    Option(pinecone).foreach(_.stop())
    pineStore = new InMemoryStore
    pinecone = new TimedPinecone(pineStore)
  }

  private def cfg = Workloads.config("qdrant", Map("url" -> qdrant.url, "page_size" -> PageSize.toString),
    QuerySpec(collection = "emb_src", filter = Some("""{"must":[{"key":"shard","match":{"value":"even"}}]}""")),
    "pinecone", Map("url" -> pinecone.url, "namespace" -> "ns"),
    LoadSpec(collection = "emb_dst", recreate = true, batchSize = BatchSize,
      parallelism = Some(ctx.cores)))

  def run(): RunOut = RunOut(Seq(Workloads.ok(new Migrator(ctx.spark).run(cfg))))
  def check(out: RunOut): Option[String] = {
    val coll = pineStore.listCollections().filter(_ == "emb_dst::ns")
    if (coll.size != 1) Some(s"no sink collection emb_dst::ns; found ${pineStore.listCollections().mkString(",")}")
    else Checks.vectorSink(pineStore.scroll(coll.head, 0, Int.MaxValue).map(r => r.id -> r.vector),
        filtered)
  }
  def sinkBytes(): Long = pinecone.upsertBytes

  private def counters(): Map[String, Double] = Map(
    "scroll" -> qdrant.count("/points/scroll"), "upsert" -> pinecone.count("/vectors/upsert"),
    "bytes" -> (qdrant.bodyBytes + pinecone.bodyBytes).toDouble,
    "server_s" -> (qdrant.serverS + pinecone.serverS))

  def traced(t: Tracer, parent: Int): Map[String, Double] = {
    val (_, b, a) = t.main("core.Migrator.run", parent, () => counters())(run())
    val d = (k: String) => a(k) - b(k)
    val minimum = math.ceil(filtered.length.toDouble / PageSize) +
      math.ceil(filtered.length.toDouble / BatchSize)
    Map("vs.requests.scroll" -> d("scroll"), "vs.requests.upsert" -> d("upsert"),
      "vs.request_mb" -> d("bytes") / 1e6, "vs.bytes_per_row" -> d("bytes") / filtered.length,
      "vs.server_s" -> d("server_s"),
      "vs.retry_ratio" -> (d("scroll") + d("upsert")) / minimum)
  }
}

/** qualityFilter → fuzzyDedupPipeline → repetitionStats → parquet. */
final class CurateCorpus(ctx: Ctx) extends Workload {
  import graft.ops.{Dedup, TextAnalysis}
  val name = "curate_corpus"
  val MinQuality = 0.6
  private lazy val corpus = Gen.corpus(ctx.seed)
  private var dir: Path = _
  private def out: Path = ctx.work.resolve("curate_out")
  private var firstHash: Option[String] = None
  def inputRows: Long = corpus.docs.length
  def logicalBytes: Long =
    corpus.docs.map(d => 8L + d.text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length).sum

  def generate(): Unit = dir = Gen.cached(ctx.dataRoot,
    s"corpus-v${Gen.Version}-seed${ctx.seed}-n${Gen.CorpusDocs}") { d =>
    Gen.writeParquet(ctx.spark,
      corpus.docs.map(x => org.apache.spark.sql.Row(x.id, x.text)), Gen.DocSchema, d, "docs")
  }
  def prepare(): Unit = ()
  def teardown(): Unit = ()

  private def docs: DataFrame = ctx.spark.read.parquet(dir.resolve("docs.parquet").toString)
  private def kept(d: DataFrame): DataFrame =
    d.join(TextAnalysis.qualityFilter(d, MinQuality).filter(col("keep"))
      .select(col("doc_id"), col("quality")), "doc_id")
  private def finish(deduped: DataFrame): DataFrame =
    deduped.select(col("doc_id"), col("quality"))
      .join(TextAnalysis.repetitionStats(deduped), "doc_id")

  def run(): RunOut = {
    finish(Dedup.fuzzyDedupPipeline(kept(docs)))
      .write.mode("overwrite").parquet(out.toString)
    RunOut()
  }
  def check(o: RunOut): Option[String] = {
    val rows = ctx.spark.read.parquet(out.toString).collect()
    val ids = rows.map(_.getLong(0)).toSet
    val h = Checks.shaOf(rows.map(_.mkString("\u0001")).toSeq)
    if (ids.size != rows.length) Some("output holds duplicated doc ids")
    else Checks.curated(ids, corpus).orElse {
      if (firstHash.isEmpty) firstHash = Some(h)
      if (firstHash.contains(h)) None else Some("output hash differs from the first run's")
    }
  }
  def sinkBytes(): Long = Fs.list(out).filter(_.getFileName.toString.endsWith(".parquet"))
    .map(Files.size).sum

  def traced(t: Tracer, parent: Int): Map[String, Double] = {
    def stage[A](n: String, p: Int = parent)(body: => A) = t.span(n, "probe", "ops", p)(_ => body)
    val (k, quality) = stage("ops.TextAnalysis.qualityFilter")(kept(docs).localCheckpoint())
    val (reps, exact) = stage("ops.Dedup.exactDuplicates") {
      k.join(Dedup.exactDuplicates(k).select(col("keep_id").as("doc_id")), "doc_id").localCheckpoint()
    }
    val (pairs, mh) = stage("ops.Dedup.minHashDuplicatePairs") {
      Dedup.minHashDuplicatePairs(reps).localCheckpoint()
    }
    val nVerified = pairs.count()
    val (nCand, _) = stage("ops.Dedup.lshBands.candidates") {
      val b = Dedup.lshBands(Dedup.withMinHashSignature(reps))
      val cols = b.columns.filterNot(_ == "doc_id").toSeq
      b.select((col("doc_id").as("id_a") +: cols.map(col)): _*)
        .join(b.select((col("doc_id").as("id_b") +: cols.map(col)): _*), cols)
        .filter(col("id_a") < col("id_b")).select("id_a", "id_b").distinct().count()
    }
    val (deduped, keep) = stage("ops.Dedup.keepCanonical")(Dedup.keepCanonical(reps, pairs).localCheckpoint())
    val (_, rep) = stage("ops.TextAnalysis.repetitionStats") {
      TextAnalysis.repetitionStats(deduped).localCheckpoint()
    }
    t.main("ops.Dedup.fuzzyDedupPipeline", parent)(run())
    val ccJobs = t.jobsIn(keep).filter(_.callSite.contains("connectedComponents"))
    Map("ops.quality_s" -> quality.dur, "ops.exact_dedup_s" -> exact.dur,
      "ops.minhash_pairs_s" -> mh.dur, "ops.keep_canonical_s" -> keep.dur,
      "ops.cc_s" -> Tracer.covered(Tracer.segments(ccJobs, keep.start, keep.end)),
      "ops.cc_rounds" -> math.max(0, ccJobs.map(_.execId).distinct.size - 1).toDouble,
      "ops.repetition_s" -> rep.dur,
      "ops.minhash.precision" -> (if (nCand == 0) 1.0 else nVerified.toDouble / nCand))
  }
}

/** Loopback servers that time their request handlers and count bodies. */
trait Timed {
  protected val nanos = new java.util.concurrent.atomic.AtomicLong()
  def serverS: Double = nanos.get() / 1e9
  def requestLines: Seq[String]
  def bodiesOf(prefix: String): Seq[String]
  def count(path: String): Double = requestLines.count(_.contains(path)).toDouble
  def bodyBytes: Long = bodiesOf("").map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong).sum
}

final class TimedQdrant(inner: graft.connectors.vectorstore.VectorStoreTransport)
  extends graft.connectors.vectorstore.QdrantWireServer(inner) with Timed {
  override protected def route(method: String, parts: Array[String], query: Map[String, String],
                               body: com.fasterxml.jackson.databind.JsonNode,
                               ex: com.sun.net.httpserver.HttpExchange): Unit = {
    val t0 = System.nanoTime()
    try super.route(method, parts, query, body, ex) finally nanos.addAndGet(System.nanoTime() - t0)
  }
}

final class TimedPinecone(inner: graft.connectors.vectorstore.VectorStoreTransport)
  extends graft.connectors.vectorstore.PineconeWireServer(inner) with Timed {
  override protected def route(method: String, parts: Array[String], query: Map[String, String],
                               body: com.fasterxml.jackson.databind.JsonNode,
                               ex: com.sun.net.httpserver.HttpExchange): Unit = {
    val t0 = System.nanoTime()
    try super.route(method, parts, query, body, ex) finally nanos.addAndGet(System.nanoTime() - t0)
  }
  def upsertBytes: Long = bodiesOf("POST /vectors/upsert")
    .map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong).sum
}
