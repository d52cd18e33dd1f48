package graft.connectors.vectorstore

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

/** One stored vector record — the wire shape every emulated backend trades
  * in (the reference's canonical `{id, vector, metadata}` dict,
  * `core/adapter.py:33-42`). Exactly one of `vector` (FLOAT_VECTOR
  * collections) or `binary` (BINARY_VECTOR collections — packed sign
  * bits, dim/8 bytes) is populated; the collection's
  * [[CollectionConfig.vectorType]] says which. */
case class VSRecord(id: String, vector: Array[Float], metadata: Map[String, String],
                    binary: Array[Byte] = null)

object VectorTypes {
  val Float = "FLOAT_VECTOR"
  val Binary = "BINARY_VECTOR"
}

case class CollectionConfig(
    distance: String = "Cosine",
    dim: Int = 0,
    onDisk: Boolean = false,
    props: Map[String, String] = Map.empty,
    /** FLOAT_VECTOR | BINARY_VECTOR — the reference's Milvus adapter
      * accepts either as the vector field (`adapters/milvus.py:82`). */
    vectorType: String = VectorTypes.Float)

/** The transport seam: the five store calls every backend client must
  * provide (the adapter ABC surface, `core/adapter.py:20-66`, minus
  * `connect`, which is an impl detail — a network transport connects
  * lazily on first call, once per executor JVM).
  *
  * The DSv2 readers/writers ([[VSPartitionReader]], [[VSDataWriter]]) only
  * ever talk through this trait, so "production transport drops in" is a
  * compiling interface: implement these six methods over qdrant-client /
  * pymilvus-equivalent wire calls and register via [[VectorStore.use]].
  * Implementations must be safe to call from executor threads.
  */
trait VectorStoreTransport extends Serializable {
  def createCollection(name: String, config: CollectionConfig, recreate: Boolean): Unit
  def exists(name: String): Boolean
  def describe(name: String): Option[CollectionConfig]
  def scroll(name: String, fromIdx: Int, pageSize: Int): Seq[VSRecord]

  /** True when the backend's native pagination is CURSOR-paged — Qdrant
    * scrolls by `next_page_offset` point id, Pinecone lists by an opaque
    * `pagination_token` — so an arbitrary integer offset is not wire-
    * addressable. Scans over such transports run as one sequential cursor
    * walk ([[VSScan.planInputPartitions]]) instead of parallel offset
    * ranges; parallel range scans stay available on backends whose real
    * API takes offsets (Milvus v2 query, pgvector OFFSET/LIMIT). */
  def cursorPaged: Boolean = false

  /** One page at `cursor` (None = first page); returns `(records,
    * nextCursor)`, nextCursor None = exhausted. The default renders the
    * integer offset as the cursor; cursor-paged backends override with
    * their native verbs and treat the cursor as opaque. */
  def scrollPage(name: String, cursor: Option[String],
                 pageSize: Int): (Seq[VSRecord], Option[String]) = {
    val from = cursor.map(_.toInt).getOrElse(0)
    val recs = scroll(name, from, pageSize)
    (recs, if (recs.length < pageSize) None else Some((from + recs.length).toString))
  }

  /** Offset scroll with a SERVER-side filter (`filter` is the backend
    * dialect's rendered predicate — Milvus expr, Qdrant JSON). The
    * default ignores it: readers re-check pushed filters client-side
    * regardless, so a backend without server filtering stays correct, it
    * just ships non-matching rows over the wire. Backends with a real
    * filter param override and prune at the source. NOTE: with a server
    * filter, offsets index the FILTERED row sequence. */
  def scrollFiltered(name: String, fromIdx: Int, pageSize: Int,
                     filter: Option[String]): Seq[VSRecord] =
    scroll(name, fromIdx, pageSize)

  /** [[scrollPage]] with a server-side filter; same default-ignore
    * contract as [[scrollFiltered]]. */
  def scrollPageFiltered(name: String, cursor: Option[String], pageSize: Int,
                         filter: Option[String]): (Seq[VSRecord], Option[String]) =
    scrollPage(name, cursor, pageSize)

  /** Integer-offset compat shim over the native cursor walk, shared by
    * cursor-paged transports (their wire cannot address offsets): walks
    * [[scrollPage]], drops `fromIdx` records, returns up to `pageSize`.
    * O(fromIdx) wire traffic — primary read paths use the cursor
    * directly. An empty page only ends the walk when no continuation
    * cursor came with it (a live cursor with an empty page can happen on
    * real backends when records move between pages). */
  protected def scrollViaCursor(name: String, fromIdx: Int,
                                pageSize: Int): Seq[VSRecord] = {
    var skipped = 0
    var cursor: Option[String] = None
    var first = true
    val out = scala.collection.mutable.ArrayBuffer.empty[VSRecord]
    while (out.length < pageSize && (first || cursor.isDefined)) {
      val (recs, next) = scrollPage(name, cursor, pageSize)
      first = false
      if (recs.isEmpty && next.isEmpty) return out.toSeq
      val drop = math.max(0, math.min(fromIdx - skipped, recs.length))
      skipped += drop
      out ++= recs.drop(drop).take(pageSize - out.length)
      cursor = next
    }
    out.toSeq
  }

  /** True when [[scrollFiltered]]/[[scrollPageFiltered]] actually apply
    * the filter at the backend (vs the default ignore-and-let-the-reader-
    * re-check). Gates LIMIT/OFFSET pushdown: with pushed filters, a
    * pushed limit must slice the FILTERED row sequence — a transport
    * that cannot filter server-side would slice raw rows first and
    * silently drop matches, so the engine refuses the limit pushdown
    * there and lets Spark's own Limit run above the scan. */
  def serverSideFilters: Boolean = false

  /** True when the backend serves `metric` top-k search natively
    * (Qdrant `points/search`, Milvus `entities/search`, Pinecone
    * `/query`) — the scan then issues ONE search call instead of
    * scrolling the collection and scoring engine-side. */
  def supportsNativeSearch(metric: String): Boolean = false

  /** True when [[nativeSearch]] can apply the rendered filter BEFORE
    * top-k (filtered search). When false and pushed filters exist, the
    * engine must NOT use native search — filter-after-top-k drops rows a
    * filtered search would have returned. */
  def supportsSearchFilter: Boolean = false

  /** Native top-k by the spec's metric, ties broken on id ascending (the
    * engine's canonical search order), after the optional rendered
    * filter. None = unsupported → caller scans + scores.
    *
    * Fidelity note: the loopback servers compute EXACT top-k (and the
    * plan's Sort re-scores returned rows, so ordering is always exact),
    * but a real cluster answers from its ANN index (HNSW/IVF) — RECALL
    * of the returned candidate set is then the backend's, tuned by its
    * index params, exactly as for any client of that backend. A caller
    * needing exact results against a real cluster scans + scores
    * (disable the search pushdown) and pays the full read. */
  def nativeSearch(name: String, sp: SearchSpec,
                   filter: Option[String]): Option[Seq[VSRecord]] = None

  def count(name: String): Int

  /** Count under a rendered server-side filter, where the wire offers one
    * (Qdrant `POST /points/count` takes the same filter body as scroll).
    * Default falls back to the unfiltered count — callers treat the
    * result as an ESTIMATE for planning (cursor-slice balance), never for
    * correctness. */
  def countFiltered(name: String, filter: Option[String]): Int = count(name)

  def upsert(name: String, records: Seq[VSRecord]): Int
  /** Delete by id (Qdrant `POST /points/delete`, Milvus `delete(expr)`,
    * Pinecone `delete(ids)`); returns how many stored records this call
    * removed. Deleting an absent id is a no-op, not an error — the
    * idempotency the retry layer and CDC re-application rely on. */
  def delete(name: String, ids: Seq[String]): Int
  def drop(name: String): Unit
  /** Enumerate collections (Qdrant `GET /collections`, Milvus
    * `list_collections`) — backs [[VSCatalog.listTables]]. Default empty
    * so narrow test doubles keep compiling. */
  def listCollections(): Seq[String] = Seq.empty

  /** Name for an invisible per-job shadow of `target` — the atomic sink
    * writes here and [[rename]]s onto the target at commit. Default is a
    * sibling collection; backends where a sibling collection is the wrong
    * granularity override (Pinecone: a sibling INDEX would pay real
    * index-provisioning latency and force the copy-then-drop publish, so
    * its shadow is a NAMESPACE of the target's own index and publish is a
    * same-index pointer flip). The `__staging_` marker is load-bearing:
    * the operator `--sweep-staging` verb finds strandable generations by
    * it. */
  def stagingName(target: String): String =
    s"${target}__staging_${java.util.UUID.randomUUID().toString.replace("-", "")}"

  /** Physical name a SCAN should address for a consistent snapshot of
    * `name`. Identity by default; backends with an engine-level
    * indirection (Pinecone's namespace pointer) resolve it ONCE here at
    * plan time, so every task of a scan job reads the SAME generation —
    * a publish landing mid-job flips new scans, never a running one —
    * and tasks address the generation directly instead of re-resolving
    * the pointer page by page. */
  def snapshotName(name: String): String = name

  /** Make `from`'s contents visible under `to` (replacing `to` if it
    * exists) and remove `from` — the publish step of the exactly-once sink
    * ([[VSAtomicBatchWrite]]). Backends with a native rename verb override
    * with the single atomic call (Milvus v2:
    * `POST /v2/vectordb/collections/rename`); this default is a
    * copy-then-drop over the existing scroll/upsert verbs — correct but
    * not atomic, the documented compatibility fallback for wire APIs
    * without rename. */
  def rename(from: String, to: String): Unit = {
    // IDEMPOTENT under retries, and never destructive when the source is
    // gone: a retried publish whose first attempt applied (response lost)
    // sees from-absent/to-present and must treat that as success — NOT
    // touch the target. Only when the source exists may the target be
    // recreated ("replacing `to` if it exists" is the contract, and a
    // transport whose describe returns None must not silently merge).
    if (!exists(from)) {
      if (exists(to)) return // already renamed (retried publish)
      throw new NoSuchElementException(s"collection not found: $from")
    }
    // the unsafe path must be LOUD: callers chose `atomic` for its safety
    // claim, and this fallback drops the live target before copying
    System.err.println(s"[graft] WARNING: ${getClass.getSimpleName} has no " +
      s"native rename/alias publish; replacing '$to' by copy-then-drop — NOT " +
      s"atomic. A crash mid-copy leaves '$to' partial; every row survives in " +
      s"the shadow '$from' — re-run the publish to recover.")
    createCollection(to, describe(from).getOrElse(CollectionConfig()), recreate = true)
    var cursor: Option[String] = None
    var first = true
    while (first || cursor.isDefined) {
      val (recs, next) = scrollPage(from, cursor, 1000)
      first = false
      if (recs.nonEmpty) upsert(to, recs)
      cursor = if (recs.isEmpty && next.isEmpty) None else next
    }
    drop(from)
  }
}

/** Shared-JVM emulation of a vector store: collections of [[VSRecord]]s
  * with per-collection config. In `local[n]` the executors share this JVM,
  * so the DSv2 readers/writers exercise the full distributed code path
  * against it. Instantiable so tests can stand up several INDEPENDENT
  * stores (e.g. one per loopback server when proving that a migration
  * between two endpoints reads from the right one); the default
  * process-wide store is the [[InMemoryTransport]] singleton.
  */
class InMemoryStore extends VectorStoreTransport {
  private val data = new ConcurrentHashMap[String, ArrayBuffer[VSRecord]]()
  private val configs = new ConcurrentHashMap[String, CollectionConfig]()
  private val versions = new ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()

  private def bump(name: String): Unit =
    versions.computeIfAbsent(name, _ => new java.util.concurrent.atomic.AtomicLong())
      .incrementAndGet()

  /** Monotone per-collection mutation counter. Lets the loopback wire
    * servers memoize filtered views so a filtered scroll costs what an
    * INDEXED backend charges (proportional to the result page, not a full
    * re-scan per page) — the cost model a real cluster presents. */
  def version(name: String): Long =
    Option(versions.get(name)).map(_.get()).getOrElse(0L)

  override def createCollection(name: String, config: CollectionConfig, recreate: Boolean): Unit =
    synchronized {
      if (recreate || !data.containsKey(name)) {
        data.put(name, ArrayBuffer.empty)
        configs.put(name, config)
        bump(name)
      }
    }

  override def exists(name: String): Boolean = data.containsKey(name)

  override def describe(name: String): Option[CollectionConfig] = Option(configs.get(name))

  /** Paged scroll — full pagination, unlike the reference's single-page
    * Qdrant scroll that silently truncates at `limit`
    * (`adapters/qdrant.py:99-106`, defect noted in SURVEY §2). */
  override def scroll(name: String, fromIdx: Int, pageSize: Int): Seq[VSRecord] = {
    val buf = Option(data.get(name)).getOrElse(
      throw new NoSuchElementException(s"collection not found: $name"))
    buf.synchronized { buf.slice(fromIdx, fromIdx + pageSize).toSeq }
  }

  override def count(name: String): Int =
    Option(data.get(name)).map(b => b.synchronized(b.length)).getOrElse(0)

  /** Batched upsert (id-keyed replace), returns records written. Updates
    * replace IN PLACE — a record keeps its stored position, like any real
    * id-addressed store (recency-reordering would break position-paged
    * walks that update records behind the cursor, e.g. the `backfill-gid`
    * verb walking Pinecone's list tokens); new ids append in batch order,
    * last occurrence of a duplicated id wins. */
  override def upsert(name: String, records: Seq[VSRecord]): Int = {
    val buf = Option(data.get(name)).getOrElse(
      throw new NoSuchElementException(s"collection not found: $name (create it first)"))
    buf.synchronized {
      val byId = scala.collection.mutable.LinkedHashMap.empty[String, VSRecord]
      records.foreach(r => byId(r.id) = r)
      var i = 0
      while (i < buf.length) {
        byId.remove(buf(i).id).foreach(r => buf(i) = r)
        i += 1
      }
      buf ++= byId.values
    }
    bump(name)
    records.length
  }

  override def delete(name: String, ids: Seq[String]): Int = {
    val buf = Option(data.get(name)).getOrElse(
      throw new NoSuchElementException(s"collection not found: $name"))
    buf.synchronized {
      val doomed = ids.toSet
      val before = buf.length
      val kept = buf.filterNot(r => doomed.contains(r.id))
      buf.clear()
      buf ++= kept
      bump(name)
      before - buf.length
    }
  }

  override def drop(name: String): Unit = {
    data.remove(name); configs.remove(name); bump(name)
  }

  /** Atomic in the emulation: one synchronized map move (the native-rename
    * analog — real backends with a rename verb are one atomic call too).
    * Same idempotency contract as the trait: from-absent/to-present is a
    * retried already-applied rename, not an error. */
  override def rename(from: String, to: String): Unit = synchronized {
    if (!data.containsKey(from)) {
      if (data.containsKey(to)) return
      throw new NoSuchElementException(s"collection not found: $from")
    }
    data.put(to, data.remove(from))
    Option(configs.remove(from)).foreach(configs.put(to, _))
    bump(from); bump(to)
  }

  override def listCollections(): Seq[String] = {
    import scala.jdk.CollectionConverters._
    data.keySet.asScala.toSeq.sorted
  }

  def clear(): Unit = { data.clear(); configs.clear() }
}

/** The process default [[InMemoryStore]]. */
object InMemoryTransport extends InMemoryStore

/** Serializable address of a backend endpoint, derived from connection /
  * DSv2 options on the driver and resolved to a live transport lazily in
  * whichever JVM a store call runs (driver or executor — each JVM builds
  * the client once per endpoint and caches it). Keying transports by
  * endpoint — instead of swapping one process-wide transport at read()/
  * write() call time — is what makes a migration between two DIFFERENT
  * url endpoints sound: DSv2 scans execute lazily, so the source's scroll
  * calls run during the target's write, and a process-global install
  * would read the source collection from the TARGET backend (silently
  * wrong data when a same-named collection exists there). */
case class TransportSpec(url: Option[String] = None, backend: String = "qdrant",
                         apiKey: Option[String] = None, maxRetries: Int = 3,
                         /** `reject` (default) fails an upsert whose
                           * metadata carries a codec-reserved key
                           * (`__gid`/`__binary_b64`); `strip` drops the
                           * key with a warning — the escape hatch for
                           * migrating FOREIGN collections that happen to
                           * carry an unrelated `__gid` (readable but
                           * otherwise unwritable). */
                         reservedKeys: String = "reject") {
  def isRemote: Boolean = url.isDefined
}

object TransportSpec {
  /** The in-process default (whatever [[VectorStore.use]] registered). */
  val Local: TransportSpec = TransportSpec()

  /** From a connection/options map: `url` selects the backend's wire
    * client (absent → in-process default), `api_key` rides as the
    * backend's auth header, `max_retries` bounds the transient-fault
    * retry wrapper, `reserved_key_policy` ∈ {reject, strip} decides what
    * an upsert does with codec-reserved metadata keys. */
  def fromOptions(get: String => Option[String], backend: String): TransportSpec = {
    val rk = get("reserved_key_policy").filter(_.nonEmpty).getOrElse("reject")
    require(rk == "reject" || rk == "strip",
      s"reserved_key_policy must be 'reject' or 'strip', got '$rk'")
    TransportSpec(
      url = get("url").map(_.trim).filter(_.nonEmpty),
      backend = backend,
      apiKey = get("api_key").filter(_.nonEmpty),
      maxRetries = get("max_retries").map(_.toInt).getOrElse(3),
      reservedKeys = rk)
  }
}

/** Routing facade the source code calls: delegates every store call to the
  * registered [[VectorStoreTransport]] (default: the in-JVM emulation).
  * `use` swaps the transport process-wide — on a real cluster the same
  * registration runs in each executor via the transport's lazy connect. */
object VectorStore {
  @volatile private var transport: VectorStoreTransport = InMemoryTransport

  private val remote =
    new ConcurrentHashMap[TransportSpec, VectorStoreTransport]()

  /** Register a transport (network client, mock, …); returns the previous
    * one so callers can restore it. */
  def use(t: VectorStoreTransport): VectorStoreTransport = {
    val prev = transport; transport = t; prev
  }
  def current: VectorStoreTransport = transport

  /** Resolve a spec to a live transport. No url → the process default;
    * a url → a retry-wrapped [[wireClient]], built once per (endpoint,
    * auth, backend) per JVM. Tests can pre-pin an endpoint to a custom
    * transport via [[pin]]. */
  def resolve(spec: TransportSpec): VectorStoreTransport =
    if (!spec.isRemote) transport
    else remote.computeIfAbsent(spec, s =>
      RetryingTransport(wireClient(s), maxAttempts = s.maxRetries))

  /** The client for a url spec: each backend speaks its own public REST
    * dialect ([[QdrantWireTransport]]/[[MilvusWireTransport]]/
    * [[PineconeWireTransport]]). Any other backend name is a config error,
    * not a protocol to guess. */
  def wireClient(spec: TransportSpec): VectorStoreTransport = {
    val url = spec.url.getOrElse(
      throw new IllegalArgumentException("a wire client needs a url"))
    val strip = spec.reservedKeys == "strip"
    spec.backend match {
      case "qdrant" => new QdrantWireTransport(url, spec.apiKey, strip)
      case "milvus" => new MilvusWireTransport(url, spec.apiKey)
      case "pinecone" => new PineconeWireTransport(url, spec.apiKey, strip)
      case other => throw new IllegalArgumentException(
        s"no wire client for backend '$other' (url $url): expected qdrant, milvus or pinecone")
    }
  }

  /** Pre-bind an endpoint spec to a specific transport (fault-injection
    * doubles, counters); returns any previously pinned transport. */
  def pin(spec: TransportSpec, t: VectorStoreTransport): Option[VectorStoreTransport] =
    Option(remote.put(spec, t))

  /** Drop cached endpoint clients (test hygiene between loopback servers
    * that reuse ports). */
  def clearRemotes(): Unit = remote.clear()

  def createCollection(name: String, config: CollectionConfig, recreate: Boolean): Unit =
    transport.createCollection(name, config, recreate)
  def exists(name: String): Boolean = transport.exists(name)
  def config(name: String): Option[CollectionConfig] = transport.describe(name)
  def scroll(name: String, fromIdx: Int, pageSize: Int): Seq[VSRecord] =
    transport.scroll(name, fromIdx, pageSize)
  def count(name: String): Int = transport.count(name)
  def upsert(name: String, records: Seq[VSRecord]): Int = transport.upsert(name, records)
  def delete(name: String, ids: Seq[String]): Int = transport.delete(name, ids)
  def drop(name: String): Unit = transport.drop(name)
  def listCollections(): Seq[String] = transport.listCollections()

  /** Test hygiene: wipe the in-memory emulation (no-op for other transports). */
  def clear(): Unit = transport match {
    case s: InMemoryStore => s.clear()
    case _ => ()
  }
}
