package graft.connectors.vectorstore

import java.io.{ByteArrayOutputStream, InputStream}
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import scala.jdk.CollectionConverters._

/** Loopback servers shaped like the real backends, one per wire dialect —
  * the hermetic stand-ins the [[QdrantWireTransport]]/
  * [[MilvusWireTransport]]/[[PineconeWireTransport]] clients hit in
  * tests. Each records every request line so specs can assert the exact
  * paths/queries the client emits match the backend's documented API.
  *
  * These are TEST DOUBLES, not storage engines: cursor lookup, filter
  * evaluation, and search each materialize the full collection per
  * request (O(collection) per page, where a real backend serves them
  * from its indexes) — exact semantics at fixture scale is the contract,
  * not throughput. */
private[vectorstore] abstract class WireServer(port: Int) {
  import WireJson.mapper

  private val log = new ConcurrentLinkedQueue[(String, String)]()
  /** Every request as "METHOD /path[?query]", in arrival order. */
  def requestLines: Seq[String] = log.asScala.map(_._1).toSeq
  def requests: Long = log.size().toLong
  /** Body of the first request whose line starts with `prefix`. */
  def bodyOf(prefix: String): Option[String] =
    log.asScala.find(_._1.startsWith(prefix)).map(_._2)

  /** Bodies of ALL requests whose line starts with `prefix`, in order. */
  def bodiesOf(prefix: String): Seq[String] =
    log.asScala.filter(_._1.startsWith(prefix)).map(_._2).toSeq

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  server.createContext("/", (ex: HttpExchange) => dispatch(ex))
  // DAEMON pool: gate queries start servers they cannot stop (the result
  // DataFrame outlives the builder), and non-daemon handler threads would
  // pin the JVM open after spark.stop() — measured as a Verify main that
  // never exited. stop() also shuts the pool for the well-behaved callers.
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8, r => {
    val t = new Thread(r); t.setDaemon(true); t
  })
  server.setExecutor(pool)
  server.start()

  val boundPort: Int = server.getAddress.getPort
  def url: String = s"http://127.0.0.1:$boundPort"
  def stop(): Unit = { server.stop(0); pool.shutdown() }

  /** (auth-header name, required value); None → open server. */
  protected def auth: Option[(String, String)]
  protected def route(method: String, parts: Array[String],
                      query: Map[String, String], body: JsonNode,
                      ex: HttpExchange): Unit

  protected def readBody(ex: HttpExchange): JsonNode = {
    val in: InputStream = ex.getRequestBody
    val buf = new ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    var n = in.read(tmp)
    while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
    if (buf.size() == 0) mapper.createObjectNode() else mapper.readTree(buf.toByteArray)
  }

  protected def respond(ex: HttpExchange, code: Int, body: JsonNode): Unit = {
    val bytes = mapper.writeValueAsBytes(body)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  protected def err(ex: HttpExchange, code: Int, msg: String): Unit = {
    val o = mapper.createObjectNode(); o.put("error", msg)
    respond(ex, code, o)
  }

  private def parseQuery(raw: String): Map[String, String] =
    if (raw == null || raw.isEmpty) Map.empty
    else raw.split("&").toSeq.flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(URLDecoder.decode(k, UTF_8) -> URLDecoder.decode(v, UTF_8))
        case Array(k) => Some(URLDecoder.decode(k, UTF_8) -> "")
        case _ => None
      }
    }.toMap

  /** Query params that repeat (Pinecone's `ids=`): all values, in order. */
  protected def multi(raw: String, key: String): Seq[String] =
    if (raw == null || raw.isEmpty) Seq.empty
    else raw.split("&").toSeq.flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if URLDecoder.decode(k, UTF_8) == key =>
          Some(URLDecoder.decode(v, UTF_8))
        case _ => None
      }
    }

  /** Test/probe knob: per-request latency injection, emulating the
    * network + backend service time a real cluster charges every page of
    * a cursor walk (the loopback answers in microseconds, which makes
    * sequential walks look artificially cheap — see the "wire cursor
    * walk" ScaleProbe). */
  @volatile var injectLatencyMs: Int = 0

  /** Test/probe knob: answer the next N requests with `429 Too Many
    * Requests` + a `Retry-After` header (delta-seconds, fractional
    * accepted), the shape real Pinecone/Qdrant rate limiters send.
    * Negative `inject429RetryAfterSec` omits the header (some services
    * send a bare 429). */
  val inject429Next = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile var inject429RetryAfterSec: Double = 1.0

  private val inflight = new java.util.concurrent.atomic.AtomicInteger(0)
  private val inflightHigh = new java.util.concurrent.atomic.AtomicInteger(0)
  /** High-water mark of concurrently-served requests since [[resetInflight]]
    * — what the throttle-window concurrency cap is asserted against. */
  def maxInflight: Int = inflightHigh.get()
  def resetInflight(): Unit = inflightHigh.set(0)

  private def dispatch(ex: HttpExchange): Unit = try {
    val cur = inflight.incrementAndGet()
    var high = inflightHigh.get()
    while (cur > high && !inflightHigh.compareAndSet(high, cur)) high = inflightHigh.get()
    try dispatchInner(ex)
    finally inflight.decrementAndGet()
  } catch {
    case e: Throwable => err(ex, 500, String.valueOf(e.getMessage))
  }

  private def dispatchInner(ex: HttpExchange): Unit = try {
    if (injectLatencyMs > 0) Thread.sleep(injectLatencyMs.toLong)
    val uri = ex.getRequestURI
    val line = ex.getRequestMethod + " " + uri.getPath +
      Option(uri.getRawQuery).map("?" + _).getOrElse("")
    val body = readBody(ex)
    log.add(line -> body.toString)
    if (inject429Next.getAndUpdate(n => math.max(0, n - 1)) > 0) {
      if (inject429RetryAfterSec >= 0)
        ex.getResponseHeaders.set("Retry-After",
          if (inject429RetryAfterSec == inject429RetryAfterSec.toLong)
            inject429RetryAfterSec.toLong.toString
          else inject429RetryAfterSec.toString)
      err(ex, 429, "rate limited")
      return
    }
    // plain conditional, NOT a return inside the Option lambda: a
    // non-local return throws NonLocalReturnControl, which the Throwable
    // handler below would catch and answer a second time on the closed
    // exchange
    val denied = auth.collect {
      case (header, value)
        if Option(ex.getRequestHeaders.getFirst(header)).forall(_ != value) => header
    }
    if (denied.isDefined)
      err(ex, 401, s"invalid or missing ${denied.get}")
    else {
      val parts = uri.getPath.split("/").filter(_.nonEmpty)
      route(ex.getRequestMethod, parts, parseQuery(uri.getRawQuery), body, ex)
    }
  } catch {
    case e: NoSuchElementException =>
      err(ex, 404, Option(e.getMessage).getOrElse("not found"))
    case e: Throwable =>
      err(ex, 500, String.valueOf(e.getMessage))
  }
}

/** Qdrant-shaped server: `{"result": …, "status": "ok"}` envelopes, the
  * documented collection/point verbs, `api-key` auth. */
class QdrantWireServer(inner: VectorStoreTransport, port: Int = 0,
                       apiKey: Option[String] = None) extends WireServer(port) {
  import WireJson._

  override protected def auth: Option[(String, String)] = apiKey.map("api-key" -> _)

  private def ok(payload: JsonNode): ObjectNode = {
    val o = obj()
    o.set[ObjectNode]("result", payload)
    o.put("status", "ok")
    o
  }

  /** Evaluate the request's structured `filter` (if any) through the
    * engine's own [[FilterEval]] — parsed by the client's own
    * [[QdrantFilterDialect]], so server and engine can never disagree
    * about a match. */
  private def applyFilter(recs: Seq[VSRecord], body: JsonNode): Seq[VSRecord] =
    Option(body.get("filter")).filterNot(_.isNull) match {
      case None => recs
      case Some(f) =>
        val filter = new QdrantFilterDialect().parseFilter(f)
        recs.filter(r => FilterEval.eval(filter, r))
    }

  /** Filtered view of a collection plus an id→position index for cursor
    * lookup. A REAL backend serves an indexed filter at result cost — it
    * does not re-scan the collection for every page of a scroll — so the
    * emulation matches that cost model by memoizing the filtered sequence
    * per (collection, filter, collection-version); any mutation bumps the
    * [[InMemoryStore.version]] and invalidates. Without this, an N-page
    * filtered walk costs O(N·|collection|) and benchmarks of the sliced
    * cursor scan measure the emulation's re-scan, not the wire pattern.
    * Non-InMemoryStore transports (no version signal) recompute per
    * request as before. */
  private val viewCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (Long, Seq[VSRecord], Map[String, Int])]()
  private def filteredView(name: String,
                           body: JsonNode): (Seq[VSRecord], Map[String, Int]) = {
    def compute(): (Seq[VSRecord], Map[String, Int]) = {
      val recs = applyFilter(inner.scroll(name, 0, Int.MaxValue), body)
      (recs, recs.iterator.map(_.id).zipWithIndex.toMap)
    }
    inner match {
      case m: InMemoryStore =>
        val v = m.version(name)
        val key = (name,
          Option(body.get("filter")).filterNot(_.isNull).map(_.toString).getOrElse(""))
        val cached = viewCache.get(key)
        if (cached != null && cached._1 == v) (cached._2, cached._3)
        else {
          if (viewCache.size > 64) viewCache.clear() // bound test-JVM memory
          val (r, ix) = compute()
          viewCache.put(key, (v, r, ix))
          (r, ix)
        }
      case _ => compute()
    }
  }
  private def okTrue(): ObjectNode = {
    val o = obj()
    o.put("result", true)
    o.put("status", "ok")
    o
  }

  private def recordToPoint(r: VSRecord): ObjectNode = {
    val p = obj()
    // real Qdrant returns uint point ids as JSON NUMBERS — mirror the
    // client's round-trip rule so response bodies are wire-faithful too
    r.id.toLongOption.filter(l => l >= 0 && l.toString == r.id) match {
      case Some(l) => p.put("id", l)
      case None => p.put("id", r.id)
    }
    if (r.vector != null) putFloats(p, "vector", r.vector)
    val payload = p.putObject("payload")
    r.metadata.foreach { case (k, v) => if (v == null) payload.putNull(k) else payload.put(k, v) }
    if (r.binary != null) payload.put("__binary_b64", b64(r.binary))
    p
  }

  private def pointToRecord(p: JsonNode): VSRecord = {
    val payload = metadataFrom(p.get("payload"))
    VSRecord(p.get("id").asText(),
      if (p.hasNonNull("vector")) floats(p.get("vector")) else null,
      payload - "__binary_b64",
      payload.get("__binary_b64").map(unb64).orNull)
  }

  /** Collection aliases, the real API's atomic-swap face:
    * `POST /collections/aliases` applies an ACTIONS list in one atomic
    * step (the documented blue/green publish verb), `GET /aliases` lists
    * them, and alias names resolve on the collection-info and points
    * routes like the live service. */
  private val aliases = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def resolved(name: String): String = aliases.getOrDefault(name, name)

  override protected def route(method: String, parts: Array[String],
                               query: Map[String, String], body: JsonNode,
                               ex: HttpExchange): Unit = {
    if (parts.toSeq == Seq("aliases") && method == "GET") {
      val r = obj()
      val a = r.putArray("aliases")
      aliases.forEach { (al, c) =>
        val o = a.addObject(); o.put("alias_name", al); o.put("collection_name", c)
      }
      return respond(ex, 200, ok(r))
    }
    if (parts.isEmpty || parts(0) != "collections") return err(ex, 400, "bad path")
    if (parts.length == 1) {
      if (method != "GET") return err(ex, 400, s"unsupported: $method /collections")
      val r = obj()
      val a = r.putArray("collections")
      inner.listCollections().foreach(c => a.addObject().put("name", c))
      return respond(ex, 200, ok(r))
    }
    if (parts.toSeq == Seq("collections", "aliases")) {
      if (method != "POST") return err(ex, 400, "aliases updates are POST")
      // the whole actions list applies atomically, like real Qdrant
      aliases.synchronized {
        val actions = Option(body.get("actions")).map(_.elements().asScala.toSeq)
          .getOrElse(Seq.empty)
        // validate everything BEFORE applying anything (atomicity)
        actions.foreach { act =>
          Option(act.get("create_alias")).foreach { c =>
            val coll = c.get("collection_name").asText()
            val al = c.get("alias_name").asText()
            if (!inner.exists(coll))
              return err(ex, 404, s"Collection `$coll` doesn't exist!")
            if (inner.exists(al))
              return err(ex, 400, s"alias `$al` conflicts with an existing collection")
          }
        }
        // commit the NET effect of the batch: compute the post-batch map
        // locally, then apply per-key diffs with put (atomic replace)
        // BEFORE removes — the data-plane reader resolves aliases without
        // this monitor, and a naive remove-then-put of the same alias
        // would expose a gap real Qdrant's atomic batch never shows
        val after = new java.util.HashMap[String, String](aliases)
        actions.foreach { act =>
          Option(act.get("delete_alias")).foreach(d =>
            after.remove(d.get("alias_name").asText()))
          Option(act.get("create_alias")).foreach { c =>
            after.put(c.get("alias_name").asText(), c.get("collection_name").asText())
          }
        }
        after.forEach((k, v) => aliases.put(k, v))
        aliases.keySet.removeIf(k => !after.containsKey(k))
      }
      return respond(ex, 200, okTrue())
    }
    val name = resolved(parts(1))
    val verb = parts.drop(2).mkString("/")
    (method, verb) match {
      case ("PUT", "") =>
        val v = body.get("vectors")
        def cfgFrom(field: String, prefix: String): Map[String, String] =
          Option(body.get(field)).filter(!_.isNull).map(_.properties().asScala
            .map(e => s"$prefix${e.getKey}" ->
              (if (e.getValue.isTextual) e.getValue.asText() else e.getValue.toString))
            .toMap).getOrElse(Map.empty)
        inner.createCollection(name, CollectionConfig(
          distance = v.get("distance").asText(),
          dim = v.get("size").asInt(),
          onDisk = v.hasNonNull("on_disk") && v.get("on_disk").asBoolean(),
          props = cfgFrom("hnsw_config", "hnsw_") ++
            cfgFrom("quantization_config", "quantization_"),
          vectorType = if (v.hasNonNull("datatype") && v.get("datatype").asText() == "uint8")
            VectorTypes.Binary else VectorTypes.Float),
          recreate = true) // client already dropped for recreate; PUT is idempotent create
        respond(ex, 200, okTrue())
      case ("GET", "") =>
        inner.describe(name) match {
          case None => err(ex, 404, s"Collection `$name` doesn't exist!")
          case Some(cfg) =>
            val r = obj()
            val params = r.putObject("config").putObject("params")
            val v = params.putObject("vectors")
            v.put("size", cfg.dim)
            v.put("distance", cfg.distance)
            v.put("on_disk", cfg.onDisk)
            if (cfg.vectorType == VectorTypes.Binary) v.put("datatype", "uint8")
            val (hnsw, quant) = cfg.props.partition(_._1.startsWith("hnsw_"))
            if (hnsw.nonEmpty) {
              val h = r.get("config").asInstanceOf[ObjectNode].putObject("hnsw_config")
              hnsw.foreach { case (k, x) => h.put(k.stripPrefix("hnsw_"), x) }
            }
            if (quant.nonEmpty) {
              val q = r.get("config").asInstanceOf[ObjectNode].putObject("quantization_config")
              quant.foreach { case (k, x) => q.put(k.stripPrefix("quantization_"), x) }
            }
            r.put("points_count", inner.count(name))
            respond(ex, 200, ok(r))
        }
      case ("DELETE", "") =>
        inner.drop(name)
        // no dangling aliases: entries pointing at the dropped collection go
        aliases.entrySet().removeIf(e => e.getValue == name)
        respond(ex, 200, okTrue())
      case ("POST", "points/scroll") =>
        // real Qdrant cursor shape: `offset` is a point id (number or
        // string), the page starts AT that point, and `next_page_offset`
        // is the first id of the following page (null when exhausted)
        val limit = Option(body.get("limit")).map(_.asInt()).getOrElse(10)
        // server-side structured filter: evaluated through the SAME
        // FilterEval the engine uses, so non-matching points never leave
        // the server — cursor ids then address the FILTERED sequence
        val (all, idIndex) = filteredView(name, body)
        val from = Option(body.get("offset")).filterNot(_.isNull).map(_.asText()) match {
          case None => 0
          case Some(id) =>
            idIndex.getOrElse(id, all.length) // unknown cursor id -> empty page
        }
        val recs = all.slice(from, from + limit)
        val r = obj()
        val a = r.putArray("points")
        recs.foreach(rec => a.add(recordToPoint(rec)))
        all.lift(from + limit).map(_.id) match {
          // numeric form only when it round-trips exactly ('007' must
          // come back as the string '007', not 7)
          case Some(id) => id.toLongOption.filter(_.toString == id) match {
            case Some(l) => r.put("next_page_offset", l) // numeric point id
            case None => r.put("next_page_offset", id)   // uuid/string id
          }
          case None => r.putNull("next_page_offset")
        }
        respond(ex, 200, ok(r))
      case ("POST", "points/search") =>
        // native filtered cosine search: filter BEFORE top-k (the real
        // API's contract), scored + tie-broken by the engine's canonical
        // VSScoring so native and scroll+score paths agree exactly
        val limit = Option(body.get("limit")).map(_.asInt()).getOrElse(10)
        val qv = WireJson.floats(body.get("vector"))
        val cands = filteredView(name, body)._1
        val top = VSScoring.topK(cands, SearchSpec(qv, limit))
        val arr = WireJson.mapper.createArrayNode()
        top.foreach { case (rec, score) =>
          val p = recordToPoint(rec)
          p.put("score", score)
          arr.add(p)
        }
        respond(ex, 200, ok(arr))
      case ("POST", "points/count") =>
        // the documented count body carries the same structured filter as
        // scroll — evaluate it like the real service
        val r = obj()
        val n = if (Option(body.get("filter")).exists(!_.isNull))
          filteredView(name, body)._1.length
        else inner.count(name)
        r.put("count", n)
        respond(ex, 200, ok(r))
      case ("PUT", "points") =>
        val pts = body.get("points").asInstanceOf[ArrayNode]
        inner.upsert(name, (0 until pts.size()).map(i => pointToRecord(pts.get(i))))
        val r = obj()
        r.put("operation_id", 0)
        r.put("status", "completed")
        respond(ex, 200, ok(r))
      case ("POST", "points/delete") =>
        val arr = body.get("points").asInstanceOf[ArrayNode]
        val n = inner.delete(name, (0 until arr.size()).map(i => arr.get(i).asText()))
        val r = obj()
        r.put("deleted", n)
        r.put("status", "completed")
        respond(ex, 200, ok(r))
      case _ => err(ex, 400, s"unsupported: $method /$verb")
    }
  }
}

/** Milvus-shaped server: every verb POSTed under /v2/vectordb, responses
  * `{"code": 0, "data": …}` — errors are HTTP 200 with a non-zero code,
  * exactly the quirk the client must (and does) handle. Bearer auth. */
class MilvusWireServer(inner: VectorStoreTransport, port: Int = 0,
                       apiKey: Option[String] = None) extends WireServer(port) {
  import WireJson._

  override protected def auth: Option[(String, String)] =
    apiKey.map(k => "Authorization" -> s"Bearer $k")

  private def ok(data: JsonNode): ObjectNode = {
    val o = obj()
    o.put("code", 0)
    o.set[ObjectNode]("data", data)
    o
  }
  private def milvusErr(ex: HttpExchange, code: Int, msg: String): Unit = {
    val o = obj()
    o.put("code", code)
    o.put("message", msg)
    respond(ex, 200, o) // Milvus REST reports errors with HTTP 200
  }

  private def rowNode(r: VSRecord): ObjectNode = {
    val row = obj()
    row.put("id", r.id)
    if (r.vector != null) putFloats(row, "vector", r.vector)
    if (r.binary != null) row.put("vector", b64(r.binary))
    r.metadata.foreach { case (k, v) =>
      if (v == null) row.putNull(k) else row.put(k, v)
    }
    row
  }

  /** Collection aliases, the real API's atomic-publish face: the
    * documented `/v2/vectordb/aliases` verbs (`create`, `alter` — the
    * one-call repoint, `drop`, `list`, `describe`), with alias names
    * resolving on every data-plane verb like the live service. */
  private val aliases = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def resolved(name: String): String = aliases.getOrDefault(name, name)

  /** Evaluate the request's boolean-expression `filter` (if non-empty)
    * through the engine's FilterEval, parsed by the client's own
    * [[MilvusExprDialect]]. */
  private def applyExprFilter(recs: Seq[VSRecord], body: JsonNode): Seq[VSRecord] =
    Option(body.get("filter")).map(_.asText()).filter(_.nonEmpty) match {
      case None => recs
      case Some(expr) =>
        val f = new MilvusExprDialect().parseFilter(expr)
        recs.filter(r => FilterEval.eval(f, r))
    }

  /** Filtered view of a collection, memoized per (collection, filter expr,
    * mutation version) — the same cost model the Qdrant server's
    * [[QdrantWireServer.filteredView]] documents: a REAL backend answers a
    * filtered query (count(*) included) from an index at result cost, it
    * does not re-materialize the collection per request. Every
    * `entities/query`/`count(*)`/`entities/search` planning probe rides
    * this; non-InMemoryStore inners (no version signal) recompute. */
  private val viewCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (Long, Seq[VSRecord])]()
  private def filteredView(name: String, body: JsonNode): Seq[VSRecord] = {
    def compute(): Seq[VSRecord] =
      applyExprFilter(inner.scroll(name, 0, Int.MaxValue), body)
    inner match {
      case m: InMemoryStore =>
        val v = m.version(name)
        val key = (name,
          Option(body.get("filter")).map(_.asText()).filter(_.nonEmpty).getOrElse(""))
        val cached = viewCache.get(key)
        if (cached != null && cached._1 == v) cached._2
        else {
          if (viewCache.size > 64) viewCache.clear() // bound test-JVM memory
          val r = compute()
          viewCache.put(key, (v, r))
          r
        }
      case _ => compute()
    }
  }

  override protected def route(method: String, parts: Array[String],
                               query: Map[String, String], body: JsonNode,
                               ex: HttpExchange): Unit = {
    if (method != "POST" || parts.length < 3 ||
        parts(0) != "v2" || parts(1) != "vectordb")
      return err(ex, 400, "bad path")
    val verb = parts.drop(2).mkString("/")
    val name = Option(body.get("collectionName")).map(_.asText()).getOrElse("")
    // alias names resolve on every data-plane verb, like the live service
    val entity = resolved(name)
    try {
      verb match {
        case "collections/create" =>
          if (aliases.containsKey(name))
            return milvusErr(ex, 65535,
              s"collection name conflicts with an existing alias[collection=$name]")
          val vt = Option(body.get("vectorDataType")).map(_.asText()) match {
            case Some("BinaryVector") => VectorTypes.Binary
            case _ => VectorTypes.Float
          }
          val props = Option(body.get("params")).map(metadataFrom).getOrElse(Map.empty)
          inner.createCollection(name, CollectionConfig(
            distance = Option(body.get("metricType")).map(_.asText()).getOrElse("COSINE") match {
              case "COSINE" => "Cosine"
              case "L2" => "Euclid"
              case "IP" => "Dot"
              case "HAMMING" => "Hamming"
              case "JACCARD" => "Jaccard"
              case other => other
            },
            dim = Option(body.get("dimension")).map(_.asInt()).getOrElse(0),
            onDisk = props.get("on_disk").contains("true"),
            props = props - "on_disk",
            vectorType = vt), recreate = false)
          respond(ex, 200, ok(obj()))
        case "collections/describe" =>
          inner.describe(resolved(name)) match {
            case None => milvusErr(ex, 100, s"collection not found[collection=$name]")
            case Some(cfg) =>
              // REAL v2 response shape: the metric lives in the `indexes`
              // array, and properties / field params are {key,value}
              // pair LISTS, not flat objects
              val metric = cfg.distance match {
                case "Cosine" => "COSINE"
                case "Euclid" | "Euclidean" => "L2"
                case "Dot" | "DotProduct" => "IP"
                case "Hamming" => "HAMMING"
                case "Jaccard" => "JACCARD"
                case other => other
              }
              val d = obj()
              d.put("collectionName", name)
              val fields = d.putArray("fields")
              val idF = fields.addObject()
              idF.put("name", "id"); idF.put("type", "VarChar"); idF.put("primaryKey", true)
              val vecF = fields.addObject()
              vecF.put("name", "vector")
              vecF.put("type",
                if (cfg.vectorType == VectorTypes.Binary) "BinaryVector" else "FloatVector")
              val dimKv = vecF.putArray("params").addObject()
              dimKv.put("key", "dim"); dimKv.put("value", cfg.dim.toString)
              val ixs = d.putArray("indexes")
              val ix = ixs.addObject()
              ix.put("fieldName", "vector"); ix.put("indexName", "vector")
              ix.put("metricType", metric)
              val ps = d.putArray("properties")
              (cfg.props ++ (if (cfg.onDisk) Map("on_disk" -> "true") else Map.empty))
                .foreach { case (k, v) =>
                  val kv = ps.addObject(); kv.put("key", k); kv.put("value", v)
                }
              respond(ex, 200, ok(d))
          }
        case "collections/drop" =>
          // real Milvus refuses to drop a collection through its alias —
          // the client must drop the alias, then the underlying name
          if (aliases.containsKey(name))
            return milvusErr(ex, 65535, s"cannot drop an alias[alias=$name]")
          inner.drop(name)
          // no dangling aliases: entries pointing at the dropped collection go
          aliases.entrySet().removeIf(e => e.getValue == name)
          respond(ex, 200, ok(obj()))
        case "collections/rename" =>
          // documented v2 verb: {"collectionName": old, "newCollectionName": new}
          val to = Option(body.get("newCollectionName")).map(_.asText()).getOrElse("")
          if (aliases.containsKey(name))
            return milvusErr(ex, 65535, s"cannot rename an alias[alias=$name]")
          if (!inner.exists(name))
            return milvusErr(ex, 100, s"collection not found[collection=$name]")
          if (to.isEmpty) return milvusErr(ex, 1100, "newCollectionName required")
          if (inner.exists(to) || aliases.containsKey(to))
            // real Milvus REJECTS an existing target — reproducing the
            // error keeps any rename-based swap honest (a server that
            // silently replaced would mask a production commit failure)
            return milvusErr(ex, 65535, s"duplicated new collection name[collection=$to]")
          inner.rename(name, to)
          respond(ex, 200, ok(obj()))
        case "aliases/create" =>
          val alias = Option(body.get("aliasName")).map(_.asText()).getOrElse("")
          if (alias.isEmpty) return milvusErr(ex, 1100, "aliasName required")
          if (!inner.exists(name))
            return milvusErr(ex, 100, s"collection not found[collection=$name]")
          if (inner.exists(alias))
            return milvusErr(ex, 65535,
              s"alias name conflicts with an existing collection[alias=$alias]")
          if (aliases.containsKey(alias))
            return milvusErr(ex, 1601, s"alias already exists[alias=$alias]")
          aliases.put(alias, name)
          respond(ex, 200, ok(obj()))
        case "aliases/alter" =>
          // the documented atomic repoint: one map put, no window — like
          // the real service's AlterAlias
          val alias = Option(body.get("aliasName")).map(_.asText()).getOrElse("")
          if (!inner.exists(name))
            return milvusErr(ex, 100, s"collection not found[collection=$name]")
          if (!aliases.containsKey(alias))
            return milvusErr(ex, 1600, s"alias not found[alias=$alias]")
          aliases.put(alias, name)
          respond(ex, 200, ok(obj()))
        case "aliases/drop" =>
          val alias = Option(body.get("aliasName")).map(_.asText()).getOrElse("")
          aliases.remove(alias) // idempotent, like the real verb
          respond(ex, 200, ok(obj()))
        case "aliases/list" =>
          val collFilter = Option(body.get("collectionName")).map(_.asText()).filter(_.nonEmpty)
          val a = mapper.createArrayNode()
          aliases.forEach { (al, c) =>
            if (collFilter.forall(_ == c)) a.add(al)
          }
          val o = obj(); o.put("code", 0); o.set[ObjectNode]("data", a)
          respond(ex, 200, o)
        case "aliases/describe" =>
          val alias = Option(body.get("aliasName")).map(_.asText()).getOrElse("")
          Option(aliases.get(alias)) match {
            case None => milvusErr(ex, 1600, s"alias not found[alias=$alias]")
            case Some(c) =>
              val d = obj()
              d.put("aliasName", alias)
              d.put("collectionName", c)
              respond(ex, 200, ok(d))
          }
        case "collections/list" =>
          val a = mapper.createArrayNode()
          inner.listCollections().foreach(a.add)
          val o = obj()
          o.put("code", 0)
          o.set[ObjectNode]("data", a)
          respond(ex, 200, o)
        case "entities/upsert" | "entities/insert" =>
          if (!inner.exists(entity))
            return milvusErr(ex, 100, s"collection not found[collection=$name]")
          val data = body.get("data").asInstanceOf[ArrayNode]
          val recs = (0 until data.size()).map { i =>
            val row = data.get(i)
            val meta = row.properties().asScala
              .filterNot(e => e.getKey == "id" || e.getKey == "vector")
              .map(e => e.getKey -> (if (e.getValue.isNull) null
              else if (e.getValue.isTextual) e.getValue.asText()
              else e.getValue.toString)).toMap
            val vecNode = row.get("vector")
            val (vec, bin) =
              if (vecNode == null || vecNode.isNull) (null, null)
              else if (vecNode.isTextual) (null, unb64(vecNode.asText()))
              else (floats(vecNode), null)
            VSRecord(row.get("id").asText(), vec, meta, bin)
          }
          val n = inner.upsert(entity, recs)
          val d = obj()
          d.put("upsertCount", n)
          respond(ex, 200, ok(d))
        case "entities/query" =>
          if (!inner.exists(entity))
            return milvusErr(ex, 100, s"collection not found[collection=$name]")
          val outputFields = Option(body.get("outputFields"))
            .map(_.asInstanceOf[ArrayNode].asScala.map(_.asText()).toSeq)
            .getOrElse(Seq("*"))
          if (outputFields == Seq("count(*)")) {
            // real Milvus applies the query's filter expr to count(*) —
            // an unfiltered count here would overstate filtered scans'
            // range planning (empty filter string = no-op, like query)
            val a = mapper.createArrayNode()
            a.addObject().put("count(*)", filteredView(entity, body).size)
            val o = obj(); o.put("code", 0); o.set[ObjectNode]("data", a)
            respond(ex, 200, o)
          } else {
            // server-side boolean-expression filter: parsed by the
            // client's dialect into the engine's own Filter/FilterEval, then
            // offset/limit index the FILTERED sequence — the real
            // entities/query contract
            val filtered = filteredView(entity, body)
            val off = Option(body.get("offset")).map(_.asInt()).getOrElse(0)
            val lim = Option(body.get("limit")).map(_.asInt()).getOrElse(100)
            val recs = filtered.slice(off, off + lim)
            val a = mapper.createArrayNode()
            recs.foreach(r => a.add(rowNode(r)))
            val o = obj(); o.put("code", 0); o.set[ObjectNode]("data", a)
            respond(ex, 200, o)
          }
        case "entities/search" =>
          if (!inner.exists(entity))
            return milvusErr(ex, 100, s"collection not found[collection=$name]")
          val lim = Option(body.get("limit")).map(_.asInt()).getOrElse(10)
          val q = body.get("data").get(0)
          val sp =
            if (q.isTextual) SearchSpec(null, lim, unb64(q.asText()), "hamming")
            else SearchSpec(floats(q), lim)
          val cands = filteredView(entity, body)
          val a = mapper.createArrayNode()
          VSScoring.topK(cands, sp).foreach { case (rec, score) =>
            val row = rowNode(rec)
            row.put("distance", score)
            a.add(row)
          }
          val o = obj(); o.put("code", 0); o.set[ObjectNode]("data", a)
          respond(ex, 200, o)
        case "entities/delete" =>
          if (!inner.exists(entity))
            return milvusErr(ex, 100, s"collection not found[collection=$name]")
          // parse the expr through the engine's own parser instead of a
          // regex — quotes in ids survive, and non-id filters raise
          val filter = Option(body.get("filter")).map(_.asText()).getOrElse("")
          val ids = new MilvusExprDialect().parseFilter(filter) match {
            case org.apache.spark.sql.sources.In("id", vs) => vs.map(String.valueOf).toSeq
            case other => throw new IllegalArgumentException(s"unsupported delete filter: $other")
          }
          val n = inner.delete(entity, ids)
          val d = obj()
          d.put("deleteCount", n)
          respond(ex, 200, ok(d))
        case other => err(ex, 400, s"unsupported verb: $other")
      }
    } catch {
      case e: NoSuchElementException =>
        milvusErr(ex, 100, Option(e.getMessage).getOrElse("collection not found"))
    }
  }
}

/** Pinecone-shaped server: control plane under /indexes, data plane under
  * /vectors + /describe_index_stats, namespace on every data call,
  * Api-Key auth. (The emulation keys data-plane paths with an `index=`
  * query param where the real service uses a per-index host.) */
class PineconeWireServer(inner: VectorStoreTransport, port: Int = 0,
                         apiKey: Option[String] = None) extends WireServer(port) {
  import WireJson._

  override protected def auth: Option[(String, String)] = apiKey.map("Api-Key" -> _)

  private def coll(ix: String, ns: String): String =
    if (ns.isEmpty) ix else s"$ix::$ns"

  /** Namespaces present for an index, via the inner listing. */
  private def namespacesOf(ix: String): Seq[String] =
    inner.listCollections().collect {
      case c if c == ix => ""
      case c if c.startsWith(ix + "::") => c.stripPrefix(ix + "::")
    }

  /** Memoized id→record map per collection MUTATION VERSION (when the
    * inner store exposes one) — keyed lookups then cost O(page), the cost
    * model of the real service's fetch. */
  private val fetchCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Map[String, VSRecord])]()
  private def fetchIndex(target: String): Map[String, VSRecord] = {
    if (!inner.exists(target)) return Map.empty
    val ver = inner match {
      case s: InMemoryStore => s.version(target)
      case _ => -1L
    }
    val cached = fetchCache.get(target)
    if (ver >= 0 && cached != null && cached._1 == ver) return cached._2
    val built = inner.scroll(target, 0, Int.MaxValue).map(r => r.id -> r).toMap
    if (ver >= 0) {
      if (fetchCache.size > 16) fetchCache.clear() // bound test-JVM memory
      fetchCache.put(target, (ver, built))
    }
    built
  }

  /** Memoized numeric-`__gid` ordering per collection version: real
    * Pinecone serves metadata range filters from an index, so the
    * emulation must answer a gid-range query in O(log n + matches), not
    * O(collection) per call — otherwise every cost comparison against the
    * sliced-walk client is fiction. Sorted gid array + the no-gid rest. */
  @volatile private var gidCache: (String, Long, Array[(Double, VSRecord)], Seq[VSRecord]) = null
  private def gidIndex(target: String): (Array[(Double, VSRecord)], Seq[VSRecord]) = {
    if (!inner.exists(target)) return (Array.empty, Seq.empty)
    val ver = inner match {
      case s: InMemoryStore => s.version(target)
      case _ => -1L
    }
    val cached = gidCache
    if (ver >= 0 && cached != null && cached._1 == target && cached._2 == ver)
      return (cached._3, cached._4)
    val all = inner.scroll(target, 0, Int.MaxValue)
    val (withGid, rest) = all.partition(r =>
      r.metadata.get("__gid").exists(g => g != null && g.toDoubleOption.isDefined))
    val sorted = withGid.map(r => r.metadata("__gid").toDouble -> r)
      .sortBy(_._1).toArray
    if (ver >= 0) gidCache = (target, ver, sorted, rest)
    (sorted, rest)
  }

  /** Candidate pre-selection for a /query filter: when the filter's
    * top-level conjuncts bound `__gid` (the sliced-walk shapes), answer
    * from the gid index; otherwise scan. The FULL filter is re-evaluated
    * over the candidates either way, so pre-selection is pure pruning. */
  private def queryCandidates(target: String,
                              filter: Option[org.apache.spark.sql.sources.Filter]): Seq[VSRecord] = {
    import org.apache.spark.sql.sources._
    def conjuncts(f: Filter): Seq[Filter] = f match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val cs = filter.map(conjuncts).getOrElse(Seq.empty)
    var lo = Double.NegativeInfinity
    var hi = Double.PositiveInfinity
    var hiInclusive = false
    var hasRange = false
    var noGid = false
    var hasGid = false
    cs.foreach {
      case GreaterThanOrEqual("__gid", v: Number) => lo = math.max(lo, v.doubleValue()); hasRange = true
      case GreaterThan("__gid", v: Number) => lo = math.max(lo, v.doubleValue()); hasRange = true
      case LessThan("__gid", v: Number) =>
        if (v.doubleValue() <= hi) { hi = v.doubleValue(); hiInclusive = false }
        hasRange = true
      case LessThanOrEqual("__gid", v: Number) =>
        if (v.doubleValue() < hi) { hi = v.doubleValue(); hiInclusive = true }
        hasRange = true
      case IsNull("__gid") => noGid = true
      case IsNotNull("__gid") => hasGid = true
      case _ => ()
    }
    if (noGid) return gidIndex(target)._2 // superset: FilterEval re-checks
    if (!hasRange && !hasGid)
      return if (inner.exists(target)) inner.scroll(target, 0, Int.MaxValue) else Seq.empty
    val (sorted, rest) = gidIndex(target)
    if (!hasRange) // $exists:true alone: PRESENT keys include non-numeric
      return sorted.map(_._2).toSeq ++
        rest.filter(_.metadata.get("__gid").exists(_ != null))
    // candidates must be a SUPERSET of matches; a numeric range can only
    // match numerically-valued keys, so the sorted index suffices here.
    // lowerBound = first index with gid >= x; the $lte upper bound is
    // INCLUSIVE, so `until` steps past ties of hi when one was seen.
    def lowerBound(x: Double, strictlyGreater: Boolean): Int = {
      var a = 0; var b = sorted.length
      while (a < b) {
        val m = (a + b) >>> 1
        val below = if (strictlyGreater) sorted(m)._1 <= x else sorted(m)._1 < x
        if (below) a = m + 1 else b = m
      }
      a
    }
    val from = if (lo.isNegInfinity) 0 else lowerBound(lo, strictlyGreater = false)
    val until = if (hi.isPosInfinity) sorted.length
      else lowerBound(hi, strictlyGreater = hiInclusive)
    sorted.slice(from, until).map(_._2).toSeq
  }

  override protected def route(method: String, parts: Array[String],
                               query: Map[String, String], body: JsonNode,
                               ex: HttpExchange): Unit = {
    val rawQuery = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    (method, parts.toSeq) match {
      case ("POST", Seq("indexes")) =>
        val name = body.get("name").asText()
        inner.createCollection(name, CollectionConfig(
          distance = Option(body.get("metric")).map(_.asText()).getOrElse("cosine") match {
            case "cosine" => "Cosine"
            case "euclidean" => "Euclid"
            case "dotproduct" => "Dot"
            case other => other
          },
          dim = Option(body.get("dimension")).map(_.asInt()).getOrElse(0)),
          recreate = false)
        val o = obj()
        o.put("name", name)
        o.put("status", "Ready")
        respond(ex, 201, o)
      case ("GET", Seq("indexes")) =>
        val o = obj()
        val a = o.putArray("indexes")
        inner.listCollections().map(_.split("::", 2)(0)).distinct.foreach { ix =>
          a.addObject().put("name", ix)
        }
        respond(ex, 200, o)
      case ("GET", Seq("indexes", ix)) =>
        inner.describe(ix) match {
          case None => err(ex, 404, s"index $ix not found")
          case Some(cfg) =>
            val o = obj()
            o.put("name", ix)
            o.put("dimension", cfg.dim)
            o.put("metric", cfg.distance match {
              case "Cosine" => "cosine"
              case "Euclid" | "Euclidean" => "euclidean"
              case "Dot" | "DotProduct" => "dotproduct"
              case other => other.toLowerCase(java.util.Locale.ROOT)
            })
            respond(ex, 200, o)
        }
      case ("DELETE", Seq("indexes", ix)) =>
        // dropping an index removes every namespace under it
        namespacesOf(ix).foreach(ns => inner.drop(coll(ix, ns)))
        if (inner.exists(ix)) inner.drop(ix)
        respond(ex, 202, obj())
      case ("POST", Seq("describe_index_stats")) =>
        val ix = query.getOrElse("index", "")
        if (!inner.exists(ix) && namespacesOf(ix).isEmpty)
          return err(ex, 404, s"index $ix not found")
        val o = obj()
        val ns = o.putObject("namespaces")
        var total = 0
        namespacesOf(ix).foreach { n =>
          val c = inner.count(coll(ix, n))
          // the real service omits empty namespaces from stats
          if (c > 0) ns.putObject(n).put("vectorCount", c)
          total += c
        }
        o.put("dimension", inner.describe(ix).map(_.dim).getOrElse(0))
        o.put("totalVectorCount", total)
        respond(ex, 200, o)
      case ("POST", Seq("vectors", "upsert")) =>
        val ix = query.getOrElse("index", "")
        val ns = Option(body.get("namespace")).map(_.asText()).getOrElse("")
        val target = coll(ix, ns)
        // namespaces auto-create on first upsert, like the real service
        if (!inner.exists(target)) {
          val cfg = inner.describe(ix).getOrElse(
            throw new NoSuchElementException(s"index $ix not found"))
          inner.createCollection(target, cfg, recreate = false)
        }
        val vs = body.get("vectors").asInstanceOf[ArrayNode]
        val recs = (0 until vs.size()).map { i =>
          val v = vs.get(i)
          VSRecord(v.get("id").asText(),
            if (v.hasNonNull("values")) floats(v.get("values")) else null,
            metadataFrom(v.get("metadata")))
        }
        val n = inner.upsert(target, recs)
        val o = obj()
        o.put("upsertedCount", n)
        respond(ex, 200, o)
      case ("GET", Seq("vectors", "list")) =>
        val ix = query.getOrElse("index", "")
        val ns = query.getOrElse("namespace", "")
        val limit = query.get("limit").map(_.toInt).getOrElse(100)
        // the token is OPAQUE to clients (they echo it verbatim); this
        // server's choice is url-safe base64 of its internal position,
        // unpadded so it survives a query string without %-escaping
        val offset = query.get("paginationToken").filter(_.nonEmpty)
          .map(t => new String(
            java.util.Base64.getUrlDecoder.decode(t), UTF_8).toInt).getOrElse(0)
        val target = coll(ix, ns)
        val recs = if (inner.exists(target)) inner.scroll(target, offset, limit) else Seq.empty
        val o = obj()
        val a = o.putArray("vectors")
        recs.foreach(r => a.addObject().put("id", r.id))
        o.put("namespace", ns)
        if (recs.size == limit)
          o.putObject("pagination").put("next",
            java.util.Base64.getUrlEncoder.withoutPadding
              .encodeToString((offset + limit).toString.getBytes(UTF_8)))
        respond(ex, 200, o)
      case ("GET", Seq("vectors", "fetch")) =>
        val ix = query.getOrElse("index", "")
        val ns = query.getOrElse("namespace", "")
        val ids = multi(rawQuery, "ids")
        val target = coll(ix, ns)
        // the emulation seam has no fetch-by-id; memoize the id index per
        // collection version so a fetch costs what a REAL keyed lookup
        // charges (a rebuild per page would be O(n) per fetch — a cost
        // model no real backend presents)
        val byId = fetchIndex(target)
        val o = obj()
        val vs = o.putObject("vectors")
        ids.flatMap(byId.get).foreach { r =>
          val v = vs.putObject(r.id)
          v.put("id", r.id)
          if (r.vector != null) putFloats(v, "values", r.vector)
          if (r.metadata.nonEmpty) metadataToNode(v, "metadata", r.metadata)
        }
        o.put("namespace", ns)
        respond(ex, 200, o)
      case ("POST", Seq("query")) =>
        // native top-k: {namespace, vector, topK, filter, includeValues,
        // includeMetadata} -> {matches: [{id, score, values, metadata}]},
        // scored by the engine's canonical VSScoring; the Mongo-style
        // metadata filter applies BEFORE selection (the real service's
        // filtered-query contract), parsed by the client's own dialect so
        // the server can never disagree with the engine's FilterEval
        val ix = query.getOrElse("index", "")
        val ns = Option(body.get("namespace")).map(_.asText()).getOrElse("")
        val target = coll(ix, ns)
        val topK = Option(body.get("topK")).map(_.asInt()).getOrElse(10)
        val qv = floats(body.get("vector"))
        val filterF = Option(body.get("filter")).filterNot(_.isNull)
          .map(new PineconeFilterDialect().parseFilter(_))
        val cands = filterF.fold(queryCandidates(target, None))(f =>
          queryCandidates(target, Some(f)).filter(FilterEval.eval(f, _)))
        val includeValues = Option(body.get("includeValues")).exists(_.asBoolean())
        val includeMeta = Option(body.get("includeMetadata")).exists(_.asBoolean())
        val o = obj()
        val ms = o.putArray("matches")
        VSScoring.topK(cands, SearchSpec(qv, topK)).foreach { case (rec, score) =>
          val m = ms.addObject()
          m.put("id", rec.id)
          m.put("score", score)
          if (includeValues && rec.vector != null) putFloats(m, "values", rec.vector)
          if (includeMeta && rec.metadata.nonEmpty) metadataToNode(m, "metadata", rec.metadata)
        }
        o.put("namespace", ns)
        respond(ex, 200, o)
      case ("POST", Seq("vectors", "delete")) =>
        val ix = query.getOrElse("index", "")
        val ns = Option(body.get("namespace")).map(_.asText()).getOrElse("")
        val target = coll(ix, ns)
        if (Option(body.get("deleteAll")).exists(_.asBoolean())) {
          if (inner.exists(target)) inner.drop(target)
        } else {
          val a = body.get("ids").asInstanceOf[ArrayNode]
          inner.delete(target, (0 until a.size()).map(i => a.get(i).asText()))
        }
        respond(ex, 200, obj())
      case _ => err(ex, 400, s"unsupported: $method /${parts.mkString("/")}")
    }
  }
}
