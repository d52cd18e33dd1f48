package graft.connectors

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.config.{LoadSpec, QuerySpec}
import graft.connectors.pgwire.{DataRow, PgBinary, PgWireClient, PgWireException}
import graft.model.Canonical
import scala.util.control.NonFatal

/** pgvector text codec: `vector` columns travel as text `[x,y,z]`
  * (the same representation the reference round-trips:
  * `list(row[1])` on extract `adapters/pgvector.py:120`, `'[...]'::vector`
  * literals on load `adapters/pgvector.py:213-218`). The column
  * expressions are codegen'd, no UDF; the pgvector scan decodes the
  * same text from its wire bytes ([[vectorFromText]]). */
object PgVectorCodec {
  /** `'[0.1,0.2]'` → array<float>; null/empty-safe. A column expression,
    * for text that is already in a DataFrame (a csv file's vectors). */
  def textToVector(c: Column): Column =
    when(c.isNull || length(trim(c)) === 0, lit(null).cast(ArrayType(FloatType)))
      .otherwise(transform(
        split(regexp_replace(trim(c), "^\\[|\\]$", ""), ","),
        x => trim(x).cast("float")))

  /** [[textToVector]] of one field's UTF-8 bytes, decoded straight into
    * Catalyst array data. Each step is the column expression's own: null
    * when the field is empty once spaces are trimmed; then one leading
    * `[` and one trailing `]` go (the regex's `$` also matches before a
    * final line terminator); the rest splits on every `,`; and each token
    * becomes a float exactly as the non-ANSI string cast makes it —
    * `Float.parseFloat`, then Spark's `inf`/`infinity`/`nan` literals,
    * else a null element. */
  def vectorFromText(b: Array[Byte], off: Int, len: Int): ArrayData = {
    var arr = b
    var s = off
    var e = off + len
    while (s < e && arr(s) == ' ') s += 1
    while (e > s && arr(e - 1) == ' ') e -= 1
    if (s == e) return null
    if (arr(s) == '[') s += 1
    val close = e - 1 - terminatorBytes(arr, s, e)
    if (close >= s && arr(close) == ']') {
      if (close == e - 1) e -= 1
      else { // "]" before a final line terminator: the terminator stays
        arr = java.util.Arrays.copyOfRange(arr, s, e)
        System.arraycopy(arr, close - s + 1, arr, close - s, e - close - 1)
        e = e - s - 1
        s = 0
      }
    }
    var n = 1
    var i = s
    while (i < e) { if (arr(i) == ',') n += 1; i += 1 }
    val out = new Array[Float](n)
    var nulls: java.util.BitSet = null
    var from = s
    var k = 0
    while (k < n) {
      var to = from
      while (to < e && arr(to) != ',') to += 1
      val token = new String(arr, from, to - from, UTF_8)
      try out(k) = java.lang.Float.parseFloat(token)
      catch {
        case _: NumberFormatException =>
          Cast.processFloatingPointSpecialLiterals(token, true) match {
            case f: java.lang.Float => out(k) = f
            case _ =>
              if (nulls == null) nulls = new java.util.BitSet(n)
              nulls.set(k)
          }
      }
      from = to + 1
      k += 1
    }
    if (nulls == null) UnsafeArrayData.fromPrimitiveArray(out)
    else new GenericArrayData(Array.tabulate[Any](n)(j => if (nulls.get(j)) null else out(j)))
  }

  /** Byte length of the line terminator `[s, e)` ends with — what
    * java.util.regex's `$` may stand before: `\r\n`, `\n`, `\r`,
    * U+0085, U+2028 or U+2029 in UTF-8 — or 0. */
  private def terminatorBytes(b: Array[Byte], s: Int, e: Int): Int = {
    def endsWith(tail: Int*): Boolean = e - s >= tail.length &&
      tail.indices.forall(j => b(e - tail.length + j) == tail(j).toByte)
    if (endsWith('\r', '\n')) 2
    else if (endsWith('\n') || endsWith('\r')) 1
    else if (endsWith(0xc2, 0x85)) 2
    else if (endsWith(0xe2, 0x80, 0xa8) || endsWith(0xe2, 0x80, 0xa9)) 3
    else 0
  }

  /** array<float|double> → `'[0.1,0.2]'` text literal; a null array is
    * null. One whole-stage-codegen projection (a `transform` lambda runs
    * interpreted, once per element). A null element renders as `null`:
    * [[textToVector]] and [[vectorFromText]] read it back as a null
    * element, and a `VECTOR(d)` column rejects it, where dropping it
    * would have stored a shorter vector. */
  def vectorToText(c: Column): Column =
    concat(lit("["), array_join(c.cast(ArrayType(StringType)), ",", "null"), lit("]"))

  /** pgvector's binary `vector_send` field of row `id`'s float vector. A
    * null element fails with an IllegalArgumentException naming the row:
    * unboxed, it would be sent as 0.0. */
  def vectorSend(id: String, v: scala.collection.Seq[Any]): Array[Byte] = {
    val out = new Array[Float](v.length)
    val it = v.iterator
    var i = 0
    while (it.hasNext) {
      it.next() match {
        case f: Float => out(i) = f
        case _ => throw new IllegalArgumentException(
          s"vector of id '$id' has a null element at index $i; a pgvector VECTOR holds none")
      }
      i += 1
    }
    PgBinary.vectorSend(out)
  }
}

/** Connection handling for [[PgVectorConnector]]: the endpoint, the
  * write framing switch, and the executor-side helpers (kept on the
  * object so the partition closures capture no connector instance).
  *
  * Connection keys: `host`/`port`/`database`/`user`/`password`, `ssl`
  * (`true`/`require`/`on`) + optional `ssl_root_cert` PEM pinning
  * (absent means the platform trust store), `partitions`/`lower_bound`/
  * `upper_bound` for range-sliced source reads, and `data_format=binary`
  * (binary COPY framing on writes; reads are Simple Query text either
  * way). Auth = trust, cleartext, MD5 or SCRAM-SHA-256. `protocol=wire`,
  * `write_mode=copy` and `query_protocol=simple` are accepted for older
  * configs; each names the only path there is. */
object PgVectorConnector {

  /** Suffix of the table a `recreate` load builds before swapping it in. */
  private val BuildSuffix = "_graft_build"

  /** Suffix of the name a `recreate` swap renames the old target to; the
    * retired table is dropped once the swap committed. */
  private val RetiredSuffix = "_graft_retired"

  /** PostgreSQL keeps the first 63 bytes of an identifier and drops the rest. */
  private val MaxIdent = 63

  /** `base + suffix` when that fits in an identifier (names are ASCII,
    * by the identifier whitelist); otherwise `base` cut
    * short, `_`, 8 hex digits of the SHA-256 of the case-folded `base`,
    * and `suffix` — so two long names sharing a prefix stay apart, and
    * the spellings of one unquoted name (which PostgreSQL folds) agree. */
  private def fitName(base: String, suffix: String): String =
    if (base.length + suffix.length <= MaxIdent) base + suffix
    else {
      val hash = java.security.MessageDigest.getInstance("SHA-256")
        .digest(base.toLowerCase(java.util.Locale.ROOT).getBytes(UTF_8))
      base.take(MaxIdent - suffix.length - 9) + "_" +
        hash.take(4).map(b => f"${b & 0xff}%02x").mkString + suffix
    }

  /** The id index a write gives a table: named after
    * it, so a schema prefix keeps two schemas' indexes apart. */
  private def indexName(table: String): String = fitName(table.replace('.', '_'), "_graft_id_ix")

  /** `data_format=binary`: COPY streams `FORMAT binary` framing. A real
    * `VECTOR(d)` column crosses as float4s — 4 bytes/component vs ~9-13
    * text chars, the dominant byte tax on a vector migration — and TEXT
    * columns skip the per-character escape scan. */
  private def binaryEnabled(connection: Map[String, String]): Boolean =
    connection.get("data_format").contains("binary")

  /** Serializable connection endpoint — rides into executor closures.
    * `ssl` = the `ssl` connection key ("true"/"require"/"on");
    * `sslRootCert` = a PEM path to pin the server/root certificate
    * (absent -> the platform trust store, the secure default). */
  private case class PgEndpoint(host: String, port: Int,
      user: String, database: String, password: Option[String],
      ssl: Boolean, sslRootCert: Option[String]) {
    def connect(): PgWireClient =
      new PgWireClient(host, port, user, database, password, ssl, sslRootCert)
  }

  /** The endpoint of a connection block. Keys this connector would
    * otherwise ignore — a JDBC `url`, psycopg2's `dbname`, a `protocol`
    * other than `wire` — fail here, before any socket opens: ignored,
    * they would send the connector to its localhost:5432/postgres
    * defaults instead of the server the config names. So do data-path
    * keys naming a path that does not exist: writes are COPY and reads
    * are Simple Query, whatever an older config asks for. */
  private def endpoint(connection: Map[String, String]): PgEndpoint = {
    val unread = Seq("url", "dbname").filter(connection.contains)
    require(unread.isEmpty, s"pgvector connection key(s) ${unread.mkString(", ")} " +
      "are not supported: address the server with host, port and database")
    connection.get("protocol").foreach(p => require(p == "wire",
      s"pgvector protocol '$p' is not supported: the connector speaks the " +
        "PostgreSQL wire protocol to host, port and database (omit 'protocol' " +
        "or set it to 'wire')"))
    connection.get("write_mode").foreach(m => require(m == "copy",
      s"pgvector write_mode '$m' is not supported: every write is a per-partition " +
        "COPY ... FROM STDIN (omit 'write_mode' or set it to 'copy')"))
    connection.get("query_protocol").foreach(p => require(p == "simple",
      s"pgvector query_protocol '$p' is not supported: reads run through the " +
        "Simple Query protocol (omit 'query_protocol' or set it to 'simple')"))
    PgEndpoint(
      connection.getOrElse("host", "localhost"),
      connection.getOrElse("port", "5432").toInt,
      connection.getOrElse("user", "postgres"),
      connection.getOrElse("database", "postgres"),
      connection.get("password").filter(_.nonEmpty),
      connection.get("ssl").exists(v => Set("true", "require", "on")(v.toLowerCase)),
      connection.get("ssl_root_cert").filter(_.nonEmpty))
  }

  private def withClient[A](ep: PgEndpoint)(f: PgWireClient => A): A = {
    val c = ep.connect()
    try f(c) finally c.close()
  }

  /** One slice's rows, streamed on a connection of its own: closed when
    * the rows run out, or when the task ends if they never do (a `limit`
    * stops pulling, a failure stops the task). */
  private def stream(ep: PgEndpoint, sql: String): Iterator[DataRow] = {
    val c = ep.connect()
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => c.close()))
    val rows = c.scan(sql)
    new Iterator[DataRow] {
      def hasNext: Boolean = rows.hasNext || { c.close(); false }
      def next(): DataRow = rows.next()
    }
  }

  /** A scanned row as a Catalyst row: TEXT fields become `UTF8String`s
    * over the frame's own bytes, and field `vecAt` (-1: none) is parsed
    * into a float array. */
  private def decode(r: DataRow, vecAt: Int): InternalRow = {
    val values = new Array[Any](r.size)
    var i = 0
    while (i < values.length) {
      if (!r.isNull(i)) values(i) =
        if (i == vecAt) PgVectorCodec.vectorFromText(r.bytes, r.offset(i), r.length(i))
        else UTF8String.fromBytes(r.bytes, r.offset(i), r.length(i))
      i += 1
    }
    new GenericInternalRow(values)
  }
}

/** pgvector connector over the documented PostgreSQL v3 wire protocol
  * ([[graft.connectors.pgwire.PgWireClient]]) — the one client, as the
  * reference drives pgvector through psycopg2 alone
  * (`adapters/pgvector.py`). No driver jar is needed, and the data path
  * is verified against a LIVE PostgreSQL server in this repo's own test
  * suite (`PgLiveWireSpec`).
  *
  *  - Reads run the connector's pushdown SELECT ([[buildSelect]]: the
  *    filter/projection/limit the reference builds by string concat,
  *    `adapters/pgvector.py:94-108`), one streamed wire connection per
  *    Spark partition whose rows decode straight into Catalyst rows
  *    (the scan behind [[read]]). A source read is range-sliced on the
  *    id column when `partitions`/`lower_bound`/`upper_bound` are
  *    declared — the scale upgrade over the reference's
  *    single-connection fetch-all (`adapters/pgvector.py:64-132`);
  *    `limit`/`offset` force a single range (a per-partition LIMIT would
  *    multiply it). The re-sync's [[readBack]] slices itself across
  *    cores by `ctid` block ranges.
  *  - Writes land an (id TEXT, vector VECTOR(d), metadata TEXT) table. On
  *    an extension-less server the `VECTOR(d)` DDL fails with SQLSTATE
  *    42704 and the column falls back to TEXT with ONE loud warning —
  *    vectors travel in pgvector's text form (`'[x,y,z]'`) either way, so
  *    the read decodes both. Every partition loads by ONE `COPY … FROM
  *    STDIN` ([[write]]) and every write is an id-keyed upsert, so the
  *    incremental migrator ships changed records here instead of
  *    withholding them; a `recreate` load builds a new table and swaps
  *    it in. */
class PgVectorConnector extends VectorConnector {
  import PgVectorConnector._

  override def name: String = "pgvector"

  /** Each partition's write lands atomically, replacing earlier rows
    * with the same ids ([[write]]). */
  override def upsertsById: Boolean = true

  /** Identifier whitelist — the reference interpolates unvalidated strings
    * into SQL (`adapters/pgvector.py:96-108`, an injection hazard SURVEY §2
    * flags); we hard-reject non-identifier names instead. */
  private def ident(s: String): String = {
    require(s.matches("[A-Za-z_][A-Za-z0-9_.]*"), s"invalid SQL identifier: $s")
    s
  }

  /** The pushdown SELECT. The `::text` cast renders a real `vector`
    * column in pgvector's text form, the read codec's input; on a TEXT
    * fallback column it is a no-op. */
  private[connectors] def buildSelect(q: QuerySpec): String = {
    val cols = (Seq(ident(q.idColumn)) ++
      q.vectorColumn.map(v => s"${ident(v)}::text AS ${ident(v)}").toSeq ++
      q.metadataColumns.map(ident)).mkString(", ")
    val where = q.filter.map(f => s" WHERE $f").getOrElse("")
    val limit = q.limit.map(l => s" LIMIT $l").getOrElse("")
    val offset = q.offset.filter(_ > 0).map(o => s" OFFSET $o").getOrElse("")
    s"SELECT $cols FROM ${ident(q.collection)}$where$limit$offset"
  }

  /** Partitioned wire read: the pushdown SELECT per id-range slice, each
    * streamed by [[scan]]. Without declared bounds — or with a
    * limit/offset, which cannot split — ONE range, so a migration's
    * source is read as one snapshot unless the config asks otherwise.
    *
    * TYPE-ADAPTIVE slicing (one catalog probe at plan time): a numeric
    * id column compares directly; a TEXT id column — which includes
    * every table this connector's own WRITE created (canonical ids are
    * strings) — gets CASE-guarded numeric slices
    * (`CASE WHEN id ~ '^[0-9]{1,18}$' THEN id::bigint END ∈ [a,b)` —
    * CASE, not a bare AND, because PostgreSQL may evaluate AND operands
    * in any cost order and an unguarded cast would raise on non-numeric
    * ids) plus ONE catch-all slice for non-numeric, >18-digit, and NULL
    * ids, the same slices-plus-catch-all shape as the Qdrant parallel
    * cursor scan. Bounds set the STRIDE only, exactly as in Spark's JDBC
    * reader: the first slice is unbounded below (numeric path: and
    * carries NULL ids), the last unbounded above — disjoint AND
    * covering, so no row is ever silently range-excluded even when the
    * declared bounds under-cover the id space. */
  override def read(spark: SparkSession, connection: Map[String, String],
                    query: QuerySpec): DataFrame = {
    val ep = endpoint(connection)
    val ranged: Seq[QuerySpec] =
      (connection.get("partitions"), connection.get("lower_bound"),
        connection.get("upper_bound")) match {
        case (Some(n), Some(lo), Some(hi))
          if query.limit.isEmpty && query.offset.isEmpty && n.toInt > 1 =>
          val (nP, loL, hiL) = (n.toInt, lo.toLong, hi.toLong)
          val idNumeric = withClient(ep)(describe(_, query.collection)).schema.fields
            .find(_.name == query.idColumn)
            .exists(f => f.dataType == LongType || f.dataType == DoubleType)
          val idc = query.idColumn
          val digits = s"$idc ~ '^[0-9]{1,18}$$'"
          // Cast that CANNOT fire unguarded: PostgreSQL does not promise
          // left-to-right AND evaluation (quals are ordered by estimated
          // cost), so a bare `digits AND (id)::bigint >= a` may cast a
          // non-numeric id first and raise 22P02/22003. CASE is the
          // documented way to force the guard before the cast; it yields
          // NULL for non-numeric ids, which every range comparison then
          // excludes — so the numeric slices stay restricted to numeric
          // ids without relying on evaluation order.
          val castId = s"(CASE WHEN $digits THEN ($idc)::bigint END)"
          val step = math.max(1L, (hiL - loL) / nP)
          // Spark-JDBC partition contract: lower_bound/upper_bound set the
          // STRIDE only — the first slice is unbounded below (and carries
          // the NULL ids), the last unbounded above, so ids outside
          // [lo, hi) are never silently filtered out.
          val slices = (0 until nP).map { i =>
            val a = loL + i * step
            val b = loL + (i + 1) * step
            val ref = if (idNumeric) idc else castId
            if (i == 0) // guard above requires nP > 1, so 0 != nP - 1
              withPred(query, s"$ref < $b" +
                (if (idNumeric) s" OR $idc IS NULL" else ""))
            else if (i == nP - 1) withPred(query, s"$ref >= $a")
            else withPred(query, s"$ref >= $a AND $ref < $b")
          }
          if (idNumeric) slices
          // catch-all: non-numeric, >18-digit, AND NULL ids — `NOT (id ~ …)`
          // alone is NULL for a NULL id, which would drop the row
          else slices :+ withPred(query, s"NOT ($digits) OR $idc IS NULL")
        case _ => Seq(query)
      }
    scan(spark, ep, query, ranged)
  }

  private def withPred(query: QuerySpec, p: String): QuerySpec =
    query.copy(filter = Some(query.filter.map(f => s"($f) AND ($p)").getOrElse(p)))

  /** One Spark partition per slice: each streams its pushdown SELECT on
    * its own connection and decodes every `DataRow` straight into a
    * Catalyst row — TEXT fields as `UTF8String`s over the frame's bytes,
    * the vector field parsed into a float array — with no `Row`, no
    * `String` per field and no second parsing pass. */
  private def scan(spark: SparkSession, ep: PgEndpoint, query: QuerySpec,
                   slices: Seq[QuerySpec]): DataFrame = {
    val cols = Seq(query.idColumn) ++ query.vectorColumn.toSeq ++ query.metadataColumns
    val vecAt = if (query.vectorColumn.isDefined) 1 else -1
    val schema = StructType(cols.zipWithIndex.map { case (c, i) =>
      StructField(c, if (i == vecAt) ArrayType(FloatType) else StringType) })
    val sqls = slices.map(buildSelect)
    val rows = spark.sparkContext.parallelize(sqls, sqls.length)
      .flatMap(sql => stream(ep, sql).map(decode(_, vecAt)))
    Canonical.from(GraftColumnBridge.internalCreateDataFrame(spark, rows, schema),
      query.idColumn, query.vectorColumn, query.metadataColumns)
  }

  /** The write codec's inverse: [[write]] renames id/vector to the load
    * spec's columns and flattens the canonical metadata map to a
    * `to_json` string column named `metadata` — a plain read would both
    * miss renamed columns and return an EMPTY map (hash-mismatching
    * every metadata-bearing row in the incremental migrator, which then
    * re-ships the whole collection per run).
    *
    * The read slices itself across cores by physical position: one
    * driver query sizes the relation in blocks (B), and
    * `min(defaultParallelism, B)` slices each scan a block range —
    * `ctid < '(b,0)'::tid`, `ctid >= '(a,0)'::tid AND ctid <
    * '(b,0)'::tid`, …, `ctid >= '(a,0)'::tid` — the first unbounded
    * below and the last above, so they are disjoint and cover the table
    * even if it grows after the probe. PostgreSQL 14+ runs each as a TID
    * Range Scan; older servers filter a sequential scan, slower but
    * still correct. A view or foreign table has no blocks and reads as
    * one slice. The slices do not share a snapshot (neither do the
    * declared-bounds slices of [[read]], nor Spark's JDBC reader): the
    * re-sync's anti-join is duplicate-safe, and a row missed under a
    * concurrent write re-ships as an idempotent upsert. */
  override def readBack(spark: SparkSession, connection: Map[String, String],
                        load: LoadSpec): DataFrame = {
    val ep = endpoint(connection)
    val query = QuerySpec(collection = load.collection, idColumn = load.idColumn,
      vectorColumn = Some(load.vectorColumn), metadataColumns = Seq("metadata"))
    // the literal resolves by search_path, as the SELECT's name does
    val blocks = withClient(ep)(_.query(s"SELECT pg_relation_size('${ident(load.collection)}') " +
      "/ current_setting('block_size')::int").rows.head.head.toLong)
    val n = math.min(spark.sparkContext.defaultParallelism.toLong, blocks).toInt
    def tid(k: Int) = s"'(${blocks * k / n},0)'::tid"
    val slices =
      if (n <= 1) Seq(query)
      else (0 until n).map(i => withPred(query,
        if (i == 0) s"ctid < ${tid(1)}"
        else if (i == n - 1) s"ctid >= ${tid(i)}"
        else s"ctid >= ${tid(i)} AND ctid < ${tid(i + 1)}"))
    scan(spark, ep, query, slices)
      .withColumn(Canonical.METADATA, coalesce(
        from_json(element_at(col(Canonical.METADATA), "metadata"),
          MapType(StringType, StringType)),
        map().cast(MapType(StringType, StringType))))
  }

  /** Distributed wire write: DDL once from the driver (VECTOR(d), TEXT
    * fallback on 42704), then every partition drives its own connection
    * through PostgreSQL's documented bulk path, `COPY … FROM STDIN`
    * (CopyInResponse/CopyData/CopyDone). `batch_size` does not apply: a
    * partition is one COPY, streamed in 64 KiB CopyData chunks. Every
    * write is an ATOMIC id-keyed UPSERT — changed records replace their
    * previous versions (the incremental migrator ships updates here
    * instead of withholding them, [[upsertsById]]) and a RETRIED Spark
    * task re-applies its rows idempotently instead of duplicating ids
    * (the standing insert-only hazard of append sinks):
    *
    *  - a `recreate` load builds a fresh table beside the target
    *    (`<table>_graft_build`, with its id index) and COPYs each
    *    partition straight into it: there is no previous version to
    *    replace. COPY FROM STDIN is ONE statement in its own implicit
    *    transaction, so a task failing mid-copy lands ZERO rows and its
    *    re-run is the first landing. Once every partition landed, ONE
    *    Simple Query message holding one explicit transaction renames
    *    the old target away (`<table>_graft_retired`) and the build
    *    table and its index into place; a failed load drops the build
    *    table and leaves the target as it was (an absent target is
    *    created empty by the DDL step, as for any load). The swap
    *    RETIRES the old target instead of dropping it because the drop
    *    is the slow part: PostgreSQL fsyncs a btree index when it builds
    *    it, and at commit a DROP truncates each dropped relation's file —
    *    28–52 ms per already-synced file on an ext4 disk, for the id
    *    index and the TOAST index, so a swap that dropped took 81–144 ms
    *    of a 0.8 s `migrate` run, a rename 0.5–2 ms. A rolled-back drop
    *    inside the swap (it truncates nothing) keeps the old rule that a
    *    target with a dependent view or foreign key fails the load. The
    *    retired table's DROP is then sent on the driver connection
    *    ahead of its Terminate, and `write` returns without waiting for
    *    it; the next recreate of the target drops whatever it left;
    *  - the build, retired and index names fit PostgreSQL's 63-byte
    *    identifiers (`fitName`) and differ from each
    *    other; a collection name for which that fails is rejected before
    *    any DDL runs;
    *  - any other load COPYs the partition into a session-private TEMP
    *    stage, then publishes with ONE `DELETE … IN (SELECT id FROM
    *    stage); INSERT … SELECT` Simple Query — a single implicit
    *    transaction, so the whole partition lands atomically.
    *
    * The driver's DDL, catalog type probe and swap share one connection.
    * The row count rides the write action via `Dataset.observe` — no
    * second pass. */
  override def write(df: DataFrame, connection: Map[String, String],
                     load: LoadSpec): WriteReport = {
    val ep = endpoint(connection)
    val table = load.collection
    val dim = load.dimension.orElse(Canonical.inferDim(df)).getOrElse(0)
    // ident-whitelist every identifier BEFORE any SQL is assembled
    val (idCol, vecCol) = (load.idColumn, load.vectorColumn)
    val select = buildSelect(QuerySpec(collection = table,
      idColumn = idCol, vectorColumn = Some(vecCol)))
    require(select.nonEmpty) // buildSelect ran the whitelist on all three
    // the stage is a session-private TEMP table; pg_temp precedes every
    // schema on the search path, so a TARGET named like the stage would
    // make the publish statement's unqualified references resolve to the
    // temp table — rows would land nowhere while the report claims
    // success. Reject the collision loudly, before any DDL runs.
    val (schemaDot, name) = table.splitAt(table.lastIndexOf('.') + 1)
    require(!name.equalsIgnoreCase("graft_copy_stage"),
      s"collection name '$table' collides with the COPY staging table " +
        "(pg_temp shadows it on the search path) — rename the collection")
    // PostgreSQL would silently cut a longer name, and every catalog
    // probe (which matches the name as given) would miss the table
    require(table.split('.').forall(_.length <= MaxIdent),
      s"collection name '$table' is longer than PostgreSQL's $MaxIdent-byte identifiers")
    // the recreate build table and the name the swap retires the old
    // target to: same schema, names PostgreSQL keeps whole; they end in
    // their suffixes, so neither is the staging table. The swap renames
    // six relations in one schema, so their six names must differ.
    val direct = load.recreate
    val (buildName, retiredName) = (fitName(name, BuildSuffix), fitName(name, RetiredSuffix))
    val (build, retired) = (schemaDot + buildName, schemaDot + retiredName)
    if (direct) {
      val names = Seq(name, buildName, retiredName) ++ Seq(table, build, retired).map(indexName)
      require(names.map(_.toLowerCase(java.util.Locale.ROOT)).distinct.size == names.size,
        s"collection name '$table' collides with the names its recreate load " +
          s"derives (${names.mkString(", ")})")
    }
    val copyInto = if (direct) build else table
    val bin = binaryEnabled(connection)
    withClient(ep) { driver =>
      // id index: the upsert's DELETE leg is an index lookup instead of a
      // per-partition sequential scan of the growing table — without it
      // the write law goes quadratic (measured: 10.5k rows/s at 60k rows
      // degrading to 6.7k at 200k; see BASELINE.md r17 probe). An INDEX,
      // not a PRIMARY KEY: canonical frames may carry null ids and the
      // append face must not start rejecting them.
      var vt = s"VECTOR($dim)"
      def create(t: String, index: Boolean): Unit = {
        def ddl = s"CREATE TABLE IF NOT EXISTS $t ($idCol TEXT, $vecCol $vt, " +
          "metadata TEXT)" +
          (if (index) s"; CREATE INDEX IF NOT EXISTS ${indexName(t)} ON $t ($idCol)" else "")
        try driver.query(ddl)
        catch {
          case e: PgWireException if e.sqlState == "42704" && vt != "TEXT" =>
            System.err.println("[graft] pgvector extension absent on the " +
              s"target (SQLSTATE 42704 on $vt) — creating " +
              s"$t.$vecCol as TEXT; vectors travel in pgvector " +
              "text form and decode identically on read")
            vt = "TEXT"
            driver.query(ddl)
        }
      }
      // a recreate load leaves an existing target alone until the swap
      // (whatever its columns); an absent one is created, like any load's
      create(table, index = !direct)
      if (direct) {
        driver.query(s"DROP TABLE IF EXISTS $build") // left by a crashed load
        create(build, index = true)
      }
      // the staging table must parse the same text the COPY target's
      // column parses, and binary framing must send that column's own
      // type — which comes from the CATALOG, not from which DDL branch
      // ran: `CREATE TABLE IF NOT EXISTS` on an already-existing relation
      // short-circuits BEFORE column-type analysis, so the VECTOR probe
      // "succeeds" against a pre-existing TEXT-column table on an
      // extension-less server (caught live by PgLiveWireSpec's
      // append-mode write).
      val vecType = {
        val isVector = describe(driver, copyInto).schema.fields.exists(f =>
          f.name.equalsIgnoreCase(vecCol) && f.dataType.isInstanceOf[ArrayType])
        if (isVector) s"VECTOR($dim)" else "TEXT"
      }
      // binary format against a REAL vector column ships the floats
      // themselves (vector_send) — the projection keeps the array instead
      // of rendering text the server would only re-parse
      val vecFloats = bin && vecType.startsWith("VECTOR")
      val out = df.select(
        col(Canonical.ID).cast("string"),
        if (vecFloats) col(Canonical.VECTOR).cast(ArrayType(FloatType))
        else PgVectorCodec.vectorToText(col(Canonical.VECTOR)),
        to_json(col(Canonical.METADATA)))
      val obs = new org.apache.spark.sql.Observation(s"graft-pgwire-${System.nanoTime()}")
      val observed = out.observe(obs, count(lit(1)).as("rows"))
      var swapping = false
      // NOTE ids are assumed unique within the written frame (the canonical
      // model's contract — every source connector emits one row per id): a
      // frame carrying the same id twice lands both copies. Cross-WRITE
      // duplicates are what the upsert delete leg removes.
      try {
        observed.foreachPartition { (it: Iterator[Row]) =>
          if (it.hasNext) withClient[Unit](ep) { c =>
            val copyTarget =
              if (direct) s"$copyInto ($idCol, $vecCol, metadata)"
              else {
                // per-session TEMP stage: invisible to other connections, so
                // a half-copied retry never leaks rows; dropped with the
                // session
                c.query("CREATE TEMP TABLE graft_copy_stage " +
                  s"(id TEXT, vector $vecType, metadata TEXT)")
                "pg_temp.graft_copy_stage (id, vector, metadata)"
              }
            if (bin) {
              // binary fields: TEXT columns are raw UTF-8; the vector field
              // is float4s against a real VECTOR column, its text otherwise
              def fTxt(r: Row, i: Int): Array[Byte] =
                if (r.isNullAt(i)) null else PgBinary.textSend(r.getString(i))
              def fVec(r: Row): Array[Byte] =
                if (r.isNullAt(1)) null
                else if (vecFloats) PgVectorCodec.vectorSend(r.getString(0), r.getSeq[Any](1))
                else PgBinary.textSend(r.getString(1))
              c.copyInBinary(s"COPY $copyTarget FROM STDIN WITH (FORMAT binary)",
                it.map(r => Array(fTxt(r, 0), fVec(r), fTxt(r, 2))))
            } else {
              import graft.connectors.pgwire.PgWireClient.copyField
              c.copyIn(s"COPY $copyTarget FROM STDIN",
                it.map { r =>
                  def f(i: Int) = copyField(if (r.isNullAt(i)) null else r.getString(i))
                  s"${f(0)}\t${f(1)}\t${f(2)}"
                })
            }
            // ONE implicit-txn publish for the whole partition: the delete
            // leg rides the target's id index; null ids have no previous
            // version to replace. A direct load already landed in the build.
            if (!direct) c.query(
              s"DELETE FROM $table WHERE $idCol IN " +
                "(SELECT id FROM pg_temp.graft_copy_stage WHERE id IS NOT NULL); " +
                s"INSERT INTO $table ($idCol, $vecCol, metadata) " +
                "SELECT id, vector, metadata FROM pg_temp.graft_copy_stage")
          }
        }
        // the swap: one message, one explicit transaction, so readers see
        // the old target or the new one, never neither. It drops a retired
        // table an earlier load left, probes the target with a rolled-back
        // drop (a dependent view or foreign key fails the load as a drop
        // would; SAVEPOINT needs the explicit BEGIN), renames the target
        // and its index away, and the build table and its index in.
        if (direct) {
          swapping = true
          driver.query(s"BEGIN; DROP TABLE IF EXISTS $retired; " +
            s"SAVEPOINT graft_probe; DROP TABLE IF EXISTS $table; " +
            "ROLLBACK TO SAVEPOINT graft_probe; " +
            s"ALTER TABLE IF EXISTS $table RENAME TO $retiredName; " +
            s"ALTER INDEX IF EXISTS $schemaDot${indexName(table)} " +
            s"RENAME TO ${indexName(retired)}; " +
            s"ALTER TABLE $build RENAME TO $name; " +
            s"ALTER INDEX $schemaDot${indexName(build)} RENAME TO ${indexName(table)}; " +
            "COMMIT")
        }
      } catch {
        case e: Throwable =>
          // a failed swap left its transaction aborted: end it first
          if (direct)
            try driver.query((if (swapping) "ROLLBACK; " else "") + s"DROP TABLE IF EXISTS $build")
            catch { case d: Throwable => e.addSuppressed(d) }
          throw e
      }
      // the retire: sent, not waited for, and the connection closed
      // behind it; should it fail or never run, the next recreate's swap
      // drops the leftover
      if (direct)
        try driver.closeAfter(s"DROP TABLE IF EXISTS $retired")
        catch { case NonFatal(_) => () }
      WriteReport(written =
        obs.get.get("rows").map(String.valueOf(_).toLong).getOrElse(0L))
    }
  }

  /** information_schema match for a table reference: Postgres stores
    * UNQUOTED identifiers case-folded to lowercase, and [[write]]'s DDL
    * ships the name unquoted — so the probe must match the FOLDED name
    * or an existing 'MyTable' target reads as absent (and the
    * incremental migrator would full-copy re-append). The verbatim name
    * is matched too (a foreign tool may have created it quoted), and a
    * `schema.table` reference constrains `table_schema`. Both parts are
    * ident-whitelisted before interpolation. */
  private[connectors] def catalogPredicate(collection: String,
                                           mode: String = "either",
                                           firstVisibleOnly: Boolean = false): String = {
    val c = ident(collection)
    require(!c.endsWith("."), s"invalid table reference (trailing dot): $c")
    val parts = c.split('.')
    require(parts.length <= 2,
      s"cross-database references are unsupported (use schema.table): $c")
    val table = parts.last
    val schema = if (parts.length == 2) Some(parts.head) else None
    def matches(colName: String, v: String) = {
      // Locale.ROOT: a tr_TR default locale folds 'I' to dotless 'ı',
      // which matches neither Postgres's fold nor anything else
      val folded = v.toLowerCase(java.util.Locale.ROOT)
      val names = mode match {
        case "verbatim" => Seq(v)
        case "folded" => Seq(folded)
        case _ => Seq(v, folded)
      }
      s"$colName IN (${names.distinct.map(x => s"'$x'").mkString(", ")})"
    }
    // unqualified references resolve along the connection's search_path —
    // so the probe must too: without the constraint a same-named relation
    // in ANY schema (views included) reads as present, and the incremental
    // migrator's read-back of the invisible "existing" table then fails a
    // valid first migration. ANY(current_schemas(false)) is MEMBERSHIP
    // (existence: any visible match IS existence); column introspection
    // needs the FIRST schema in resolution order instead — with the same
    // table name in two visible schemas, a membership match would
    // interleave both schemas' columns into one garbled SchemaInfo while
    // the unqualified read resolves only the first. firstVisibleOnly
    // pins table_schema to the first search_path entry holding the table,
    // exactly Postgres's own resolution.
    val unqualified =
      if (firstVisibleOnly)
        " AND table_schema = (SELECT s.n FROM unnest(current_schemas(false))" +
          " WITH ORDINALITY AS s(n, ord) WHERE EXISTS (SELECT 1 FROM" +
          " information_schema.tables t2 WHERE t2.table_schema = s.n AND " +
          matches("t2.table_name", table) + ") ORDER BY s.ord LIMIT 1)"
      else " AND table_schema = ANY (current_schemas(false))"
    matches("table_name", table) +
      schema.map(s => " AND " + matches("table_schema", s)).getOrElse(unqualified)
  }

  /** Catalog-definitive: zero information_schema rows = absent (NOTE the
    * column query inside [[schemaInfo]] does NOT fail for a missing table
    * — it returns an empty schema — so a Try-around-schemaInfo probe would
    * misreport missing pg tables as present); wire faults propagate. */
  override def exists(spark: SparkSession, connection: Map[String, String],
                      collection: String): Boolean =
    withClient(endpoint(connection)) { c =>
      c.query("SELECT 1 FROM information_schema.tables WHERE " +
        catalogPredicate(collection)).rows.nonEmpty
    }

  override def schemaInfo(spark: SparkSession, connection: Map[String, String],
                          collection: String): SchemaInfo =
    withClient(endpoint(connection))(describe(_, collection))

  /** information_schema introspection (adapters/pgvector.py:244-289).
    * TWO-STEP name resolution, unlike [[exists]]: a column query against
    * IN ('Name', 'name') could match a quoted-mixed-case table AND the
    * folded one at once and silently interleave their columns into one
    * garbled schema — so the verbatim name is tried first, then the
    * Postgres-folded name only if verbatim matched nothing. exists()
    * keeps the combined IN: either match IS existence. */
  private def describe(c: PgWireClient, collection: String): SchemaInfo = {
    def columnsOf(mode: String) =
      c.query("SELECT column_name, data_type, udt_name FROM information_schema.columns " +
        s"WHERE ${catalogPredicate(collection, mode, firstVisibleOnly = true)} " +
        "ORDER BY ordinal_position").rows
    val rows = {
      val verbatim = columnsOf("verbatim")
      if (verbatim.nonEmpty) verbatim else columnsOf("folded")
    }
    val fields = rows.map { r =>
      val dt = r(2) match {
        case "vector" => ArrayType(FloatType)
        case "int4" | "int8" => LongType
        case "float4" | "float8" => DoubleType
        case _ => StringType
      }
      StructField(r(0), dt)
    }
    SchemaInfo(collection, StructType(fields), vectorDim = None, distance = None)
  }
}
