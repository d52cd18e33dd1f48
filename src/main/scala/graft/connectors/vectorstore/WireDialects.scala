package graft.connectors.vectorstore

import java.io.{ByteArrayOutputStream, InputStream}
import java.net.{HttpURLConnection, InetSocketAddress, URI, URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import scala.jdk.CollectionConverters._

/** Per-backend REST wire dialects: each client speaks the PUBLIC HTTP API
  * of its backend (request paths, bodies, auth header, response
  * envelopes), and each loopback server answers in exactly that shape —
  * so the hermetic test double is interchangeable with the real service
  * at the wire level, and "point the engine at a real cluster" is a url
  * swap, not a code change.
  *
  *  - Qdrant: `PUT /collections/{c}`, `PUT /collections/{c}/points?wait=
  *    true`, `POST /collections/{c}/points/scroll` with `with_payload`/
  *    `with_vector`, `POST …/points/count`, responses wrapped in
  *    `{"result": …, "status": "ok"}`, auth via the `api-key` header —
  *    the surface the reference drives through qdrant_client
  *    (`adapters/qdrant.py:42-50`, `:99-106`).
  *  - Milvus: the v2 RESTful verbs (`POST /v2/vectordb/collections/
  *    create|describe|drop|list`, `entities/upsert|query|delete`),
  *    responses as `{"code": 0, "data": …}` (errors are HTTP 200 with a
  *    non-zero code!), auth via `Authorization: Bearer`, metrics as
  *    COSINE/L2/IP — the pymilvus surface of `adapters/milvus.py`.
  *  - Pinecone: control plane (`POST/GET/DELETE /indexes…`) + data plane
  *    (`POST /vectors/upsert|delete`, `GET /vectors/list` +
  *    `GET /vectors/fetch`, `POST /describe_index_stats`) with
  *    `namespace` on every data call, auth via `Api-Key` — the surface
  *    the reference documents in its Pinecone example config.
  *
  * Pagination is wire-faithful per backend: Qdrant scrolls by the
  * `next_page_offset` POINT-ID cursor, Pinecone lists by an opaque
  * `pagination.next` token (echoed verbatim, never constructed
  * client-side), and Milvus v2 `entities/query` takes real
  * `offset`/`limit` params — so Qdrant/Pinecone scans walk the cursor
  * chain sequentially while Milvus keeps parallel offset ranges
  * ([[VectorStoreTransport.cursorPaged]]).
  *
  * Emulation notes (documented divergences, all invisible to callers):
  * binary vectors ride base64 in a reserved payload/field slot on
  * backends whose float-only JSON APIs lack a binary face.
  */
private[vectorstore] object WireJson {
  val mapper = HttpJson.mapper

  def obj(): ObjectNode = mapper.createObjectNode()

  def metadataToNode(parent: ObjectNode, field: String, m: Map[String, String]): Unit = {
    val p = parent.putObject(field)
    m.foreach { case (k, v) => if (v == null) p.putNull(k) else p.put(k, v) }
  }

  def metadataFrom(n: JsonNode): Map[String, String] =
    if (n == null || n.isNull) Map.empty
    else n.properties().asScala
      .map(e => e.getKey -> (if (e.getValue.isNull) null
      else if (e.getValue.isTextual) e.getValue.asText()
      else e.getValue.toString)).toMap

  def floats(n: JsonNode): Array[Float] = {
    if (n == null || !n.isArray)
      throw new WireShapeException(s"expected a JSON float array, got: $n")
    val a = n.asInstanceOf[ArrayNode]
    Array.tabulate(a.size())(i => a.get(i).floatValue())
  }

  def putFloats(parent: ObjectNode, field: String, v: Array[Float]): Unit = {
    val a = parent.putArray(field)
    v.foreach(a.add)
  }

  def b64(bytes: Array[Byte]): String = java.util.Base64.getEncoder.encodeToString(bytes)
  def unb64(s: String): Array[Byte] = java.util.Base64.getDecoder.decode(s)
}

/** Shared client plumbing: one HTTP request per call, per-dialect auth
  * headers, JDK connection pooling underneath. Serializable by
  * construction — state is the endpoint + header strings. */
private[vectorstore] abstract class WireClient(baseUrl: String,
                                               authHeaders: Map[String, String],
                                               connectTimeoutMs: Int = 2000,
                                               readTimeoutMs: Int = 10000)
  extends VectorStoreTransport {
  import WireJson.mapper

  protected def enc(s: String): String = URLEncoder.encode(s, UTF_8)

  /** Raw exchange; returns (status, parsed body, Retry-After header). */
  protected def http(method: String, path: String,
                     body: Option[JsonNode]): (Int, JsonNode, Option[String]) = {
    val conn = new URI(s"$baseUrl$path").toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(connectTimeoutMs)
    conn.setReadTimeout(readTimeoutMs)
    conn.setRequestMethod(method)
    authHeaders.foreach { case (k, v) => conn.setRequestProperty(k, v) }
    body.foreach { b =>
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/json")
      val bytes = mapper.writeValueAsBytes(b)
      conn.setFixedLengthStreamingMode(bytes.length)
      conn.getOutputStream.write(bytes)
    }
    val code = conn.getResponseCode
    val retryAfter = Option(conn.getHeaderField("Retry-After"))
    val stream = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val text = if (stream == null) "{}" else new String(stream.readAllBytes(), UTF_8)
    conn.disconnect()
    (code, if (text.isEmpty) WireJson.obj() else mapper.readTree(text), retryAfter)
  }

  /** Exchange with the shared error contract: 404 → NoSuchElementException
    * (logic error, never retried), 429 → [[RateLimitedException]] carrying
    * the service's `Retry-After` (the retry layer honors it instead of its
    * own schedule, and the per-endpoint [[ThrottleGate]] caps concurrent
    * calls — 8 sliced walks each retry-storming a throttled account is how
    * parallel extraction gets banned), other 4xx/5xx → IOException (the
    * retry layer's transient class). */
  protected def call(method: String, path: String,
                     body: Option[JsonNode] = None): JsonNode = {
    val release = ThrottleGate.enter(baseUrl)
    val (code, node, retryAfter) =
      try http(method, path, body)
      finally release()
    if (code == 404)
      throw new NoSuchElementException(errText(node, s"not found: $path"))
    if (code == 429) {
      // Retry-After is RFC delta-seconds; fractional accepted leniently
      val ms = retryAfter.flatMap(_.trim.toDoubleOption).map(s => (s * 1000).toLong)
      ThrottleGate.throttled(baseUrl, ms.getOrElse(ThrottleGate.defaultWindowMs))
      throw new RateLimitedException(
        s"HTTP 429 on $method $path: ${errText(node, node.toString)}", ms)
    }
    if (code >= 400)
      throw new java.io.IOException(s"HTTP $code on $method $path: " +
        errText(node, node.toString))
    node
  }

  private def errText(n: JsonNode, dflt: String): String =
    Seq("error", "message", "status").iterator
      .flatMap(f => Option(n.get(f)).filter(_.isTextual).map(_.asText()))
      .nextOption().getOrElse(dflt)
}

// ======================================================================
// Qdrant
// ======================================================================

/** Reserved-key policy applied to upsert metadata: default REJECT (silent
  * overwrite — or strip-on-read of a user's value — would be silent data
  * alteration); `reserved_key_policy=strip` drops the keys with one
  * warning — the escape hatch for migrating a FOREIGN collection that
  * carries an unrelated reserved key (readable either way; only the
  * write needed an answer). */
private[vectorstore] trait ReservedKeyPolicy {
  protected def stripReserved: Boolean
  @transient private var warnedReserved = false
  protected def applyReservedPolicy(meta: Map[String, String], reserved: Seq[String],
                                    codec: String): Map[String, String] = {
    val hit = reserved.filter(meta.contains)
    if (hit.isEmpty) meta
    else if (!stripReserved)
      throw new IllegalArgumentException(
        s"metadata key '${hit.head}' is reserved by the $codec wire codec " +
          "(pass reserved_key_policy=strip to drop it with a warning)")
    else {
      if (!warnedReserved) {
        warnedReserved = true
        System.err.println(s"[graft] WARNING: stripping reserved metadata " +
          s"key(s) ${hit.mkString(", ")} on upsert ($codec codec, " +
          "reserved_key_policy=strip)")
      }
      meta -- hit
    }
  }
}

/** Client speaking Qdrant's REST API. Collection config maps onto the
  * documented create body: `vectors.size/distance/on_disk/datatype`
  * (datatype `uint8` marks our BINARY_VECTOR face), `hnsw_config` /
  * `quantization_config` carry the `hnsw_*`/`quantization_*` props. */
class QdrantWireTransport(baseUrl: String, apiKey: Option[String] = None,
                          protected val stripReserved: Boolean = false)
  extends WireClient(baseUrl, apiKey.map("api-key" -> _).toMap)
    with ReservedKeyPolicy {
  import WireJson._

  /** Recreate of a LIVE collection routes through the alias-swap publish
    * ([[rename]]) instead of drop-then-PUT: a fresh empty generation is
    * created under a staging name and swapped in with ONE atomic alias
    * action, so concurrent readers of a PUBLISHED (aliased) name never
    * see a 404 window — the reference client drops first and leaves one
    * (`adapters/qdrant.py:42-50`). A LITERAL live collection keeps the
    * same one-time window as the first atomic publish (alias names
    * cannot shadow collection names on this wire), recoverable by
    * re-running — documented at [[rename]]. */
  override def createCollection(name: String, config: CollectionConfig,
                                recreate: Boolean): Unit = {
    if (recreate && exists(name)) {
      val staging = stagingName(name)
      createCollection(staging, config, recreate = false)
      rename(staging, name)
      return
    }
    if (!recreate && exists(name)) return
    val b = obj()
    val v = b.putObject("vectors")
    v.put("size", config.dim)
    v.put("distance", config.distance)
    v.put("on_disk", config.onDisk)
    if (config.vectorType == VectorTypes.Binary) v.put("datatype", "uint8")
    val (hnsw, quant) = config.props.partition(_._1.startsWith("hnsw_"))
    if (hnsw.nonEmpty) {
      val h = b.putObject("hnsw_config")
      hnsw.foreach { case (k, x) => h.put(k.stripPrefix("hnsw_"), x) }
    }
    if (quant.nonEmpty) {
      val q = b.putObject("quantization_config")
      quant.foreach { case (k, x) => q.put(k.stripPrefix("quantization_"), x) }
    }
    call("PUT", s"/collections/${enc(name)}", Some(b))
  }

  override def exists(name: String): Boolean =
    try { call("GET", s"/collections/${enc(name)}"); true }
    catch { case _: NoSuchElementException => false }

  /** Shape-checked ([[WireShape]]): an unexpected response — proxy error
    * page, API drift — raises a typed "unexpected describe response from
    * qdrant: missing '<path>'" instead of a context-free NPE, and is
    * NEVER swallowed into None (absent collection ≠ wrong protocol). */
  override def describe(name: String): Option[CollectionConfig] =
    try {
      val sh = WireShape("qdrant", "describe", call("GET", s"/collections/${enc(name)}"))
      val v = sh.down("result", "config", "params", "vectors")
      def cfgProps(field: String, prefix: String): Map[String, String] =
        sh.opt("result", "config", field).map(_.properties().asScala
          .map(e => s"$prefix${e.getKey}" ->
            (if (e.getValue.isTextual) e.getValue.asText() else e.getValue.toString))
          .toMap).getOrElse(Map.empty)
      Some(CollectionConfig(
        distance = v.text("distance"),
        dim = v.int("size"),
        onDisk = v.opt("on_disk").exists(_.asBoolean()),
        props = cfgProps("hnsw_config", "hnsw_") ++
          cfgProps("quantization_config", "quantization_"),
        vectorType =
          if (v.opt("datatype").exists(_.asText() == "uint8")) VectorTypes.Binary
          else VectorTypes.Float))
    } catch { case _: NoSuchElementException => None }

  /** Qdrant pages by POINT ID: the scroll response's `next_page_offset`
    * is the id to pass as the next request's `offset` (qdrant_client's
    * scroll cursor, `adapters/qdrant.py:99-106`). Numeric ids travel as
    * JSON numbers, UUIDs as strings — both documented offset shapes. */
  override def cursorPaged: Boolean = true

  override def scrollPage(name: String, cursor: Option[String],
                          pageSize: Int): (Seq[VSRecord], Option[String]) =
    scrollPageFiltered(name, cursor, pageSize, None)

  /** The rendered structured filter rides the scroll body — real Qdrant
    * evaluates it server-side, so non-matching points never cross the
    * wire (the engine still re-checks client-side, by contract). */
  override def serverSideFilters: Boolean = true

  override def scrollPageFiltered(name: String, cursor: Option[String], pageSize: Int,
                                  filter: Option[String]): (Seq[VSRecord], Option[String]) = {
    val b = obj()
    // numeric point ids ride as JSON numbers, but ONLY when the text
    // round-trips through Long exactly ('007' and >19-digit ids stay
    // strings — a lossy coercion would address the wrong point)
    cursor.foreach(c => putId(b, "offset", c))
    b.put("limit", pageSize)
    b.put("with_payload", true)
    b.put("with_vector", true)
    filter.foreach(f => b.set[ObjectNode]("filter", mapper.readTree(f)))
    val sh = WireShape("qdrant", "scroll",
      call("POST", s"/collections/${enc(name)}/points/scroll", Some(b)))
    val pts = sh.down("result").arr("points")
    val next = sh.opt("result", "next_page_offset").map(_.asText())
    ((0 until pts.size()).map(i => pointToRecord(pts.get(i))), next)
  }

  /** Native `POST /points/search`: cosine top-k with ties on id, filter
    * applied BEFORE selection (filtered search, the real API's contract). */
  override def supportsNativeSearch(metric: String): Boolean = metric == "cosine"
  override def supportsSearchFilter: Boolean = true

  override def nativeSearch(name: String, sp: SearchSpec,
                            filter: Option[String]): Option[Seq[VSRecord]] = {
    if (sp.metric != "cosine") return None
    val b = obj()
    putFloats(b, "vector", sp.vector)
    b.put("limit", sp.k)
    b.put("with_payload", true)
    b.put("with_vector", true)
    filter.foreach(f => b.set[ObjectNode]("filter", mapper.readTree(f)))
    val res = WireShape("qdrant", "search",
      call("POST", s"/collections/${enc(name)}/points/search", Some(b))).arr("result")
    Some((0 until res.size()).map(i => pointToRecord(res.get(i))))
  }

  override def scroll(name: String, fromIdx: Int, pageSize: Int): Seq[VSRecord] =
    scrollViaCursor(name, fromIdx, pageSize)

  override def count(name: String): Int = countFiltered(name, None)

  /** The documented count body takes the same structured filter as scroll
    * — real Qdrant counts server-side, so slice planning under a pushed
    * filter sizes splits from the FILTERED population. */
  override def countFiltered(name: String, filter: Option[String]): Int = {
    val b = obj(); b.put("exact", true)
    filter.foreach(f => b.set[ObjectNode]("filter", mapper.readTree(f)))
    WireShape("qdrant", "count",
      call("POST", s"/collections/${enc(name)}/points/count", Some(b)))
      .int("result", "count")
  }

  /** Real Qdrant accepts only UNSIGNED-INT or UUID point ids — digit
    * ids (the exact form `WriteRules.coerceDigitIds` produces) must ride
    * as JSON numbers; everything else travels as a string and a real
    * cluster adjudicates it. Same round-trip rule as the scroll cursor. */
  private def putId(node: ObjectNode, field: String, id: String): Unit =
    id.toLongOption.filter(l => l >= 0 && l.toString == id) match {
      case Some(l) => node.put(field, l)
      case None => node.put(field, id)
    }

  override def upsert(name: String, records: Seq[VSRecord]): Int = {
    val b = obj()
    val pts = b.putArray("points")
    records.foreach { r =>
      val p = pts.addObject()
      putId(p, "id", r.id)
      if (r.vector != null) putFloats(p, "vector", r.vector)
      // reserved payload names: reject by default, strip-with-warning
      // under reserved_key_policy=strip (see ReservedKeyPolicy)
      val meta = applyReservedPolicy(r.metadata, Seq("__gid", "__binary_b64"), "qdrant")
      val payload = p.putObject("payload")
      meta.foreach { case (k, v) =>
        if (v == null) payload.putNull(k) else payload.put(k, v)
      }
      // no binary face in Qdrant's JSON point — base64 in a reserved slot
      if (r.binary != null) payload.put("__binary_b64", b64(r.binary))
      // numeric ids ALSO land as a reserved numeric payload field: real
      // Qdrant cannot range-filter POINT ids, but it range-filters numeric
      // payload — __gid is what the engine's parallel cursor slices
      // address (VSScan.planCursorSlices), the standard migrator pattern
      // of storing a filterable id copy for parallel export. Stripped on
      // read only when it matches the point id (a foreign tool's
      // unrelated __gid survives); collections written by other tools
      // simply lack it and degrade to the catch-all (sequential) walk.
      r.id.toLongOption.filter(l => l >= 0 && l.toString == r.id)
        .foreach(l => payload.put("__gid", l))
    }
    call("PUT", s"/collections/${enc(name)}/points?wait=true", Some(b))
    records.length
  }

  override def delete(name: String, ids: Seq[String]): Int = {
    val b = obj()
    val pts = b.putArray("points")
    ids.foreach { id =>
      id.toLongOption.filter(l => l >= 0 && l.toString == id) match {
        case Some(l) => pts.add(l)
        case None => pts.add(id)
      }
    }
    val r = call("POST", s"/collections/${enc(name)}/points/delete?wait=true", Some(b))
    Option(r.get("result")).flatMap(n => Option(n.get("deleted")))
      .map(_.asInt()).getOrElse(ids.length)
  }

  /** Alias map on the wire (`GET /aliases`) — the face of Qdrant's
    * documented atomic-publish mechanism. */
  private def listAliases(): Map[String, String] = {
    val sh = WireShape("qdrant", "aliases", call("GET", "/aliases"))
    val a = sh.down("result").arr("aliases")
    (0 until a.size()).map { i =>
      val e = sh.at(a.get(i), s"aliases[$i]")
      e.text("alias_name") -> e.text("collection_name")
    }.toMap
  }

  /** Publish via the documented ATOMIC alias swap — real Qdrant has no
    * collection-rename verb, and the trait's copy-then-drop fallback
    * drops the LIVE target before copying (a crash mid-copy leaves it
    * partial). Here `to` becomes an alias of `from` in ONE
    * `POST /collections/aliases` actions call (delete_alias +
    * create_alias applied atomically by the service); the previous
    * generation — the collection the alias pointed at — is retired after
    * the swap. The FIRST publish over a REAL collection named `to` must
    * drop it before aliasing (alias names cannot shadow collection
    * names): that one-time window is recoverable by re-running the
    * publish, exactly like the Milvus drop-then-rename. Readers keep
    * addressing `to` — aliases resolve on every data-plane call. */
  override def rename(from: String, to: String): Unit = {
    // idempotent under retries: an applied rename leaves `from` as the
    // alias's underlying collection — re-running repoints to the same
    // place and retires nothing
    if (!exists(from)) {
      if (exists(to)) return
      throw new NoSuchElementException(s"collection not found: $from")
    }
    val oldGen = listAliases().get(to)
    if (oldGen.isEmpty && exists(to)) call("DELETE", s"/collections/${enc(to)}")
    val b = obj()
    val acts = b.putArray("actions")
    if (oldGen.isDefined)
      acts.addObject().putObject("delete_alias").put("alias_name", to)
    val ca = acts.addObject().putObject("create_alias")
    ca.put("collection_name", from)
    ca.put("alias_name", to)
    call("POST", "/collections/aliases", Some(b))
    oldGen.filter(_ != from).foreach(g => call("DELETE", s"/collections/${enc(g)}"))
  }

  override def drop(name: String): Unit = listAliases().get(name) match {
    case Some(underlying) => // dropping an aliased name = alias + generation
      val b = obj()
      b.putArray("actions").addObject().putObject("delete_alias").put("alias_name", name)
      call("POST", "/collections/aliases", Some(b))
      call("DELETE", s"/collections/${enc(underlying)}")
    case None => call("DELETE", s"/collections/${enc(name)}")
  }

  /** Catalog view: alias names stand in for the generation collections
    * they point at (`GET /collections` + `GET /aliases`, merged client-
    * side) — callers address published names, not `__staging_*`
    * generations. */
  override def listCollections(): Seq[String] = {
    val sh = WireShape("qdrant", "collections", call("GET", "/collections"))
    val a = sh.down("result").arr("collections")
    val raw = (0 until a.size()).map(i => sh.at(a.get(i), s"collections[$i]").text("name"))
    val al = listAliases()
    if (al.isEmpty) return raw
    val targets = al.values.toSet
    val kept = raw.filterNot(targets.contains)
    kept ++ al.keys.toSeq.sorted.filterNot(kept.contains)
  }

  private def pointToRecord(p: JsonNode): VSRecord = {
    val sh = WireShape("qdrant", "point", p)
    val payload = metadataFrom(p.get("payload"))
    val binary = payload.get("__binary_b64").map(unb64).orNull
    val id = sh.text("id")
    // strip ONLY the mirror this codec wrote (value == the point id); a
    // foreign collection's unrelated __gid payload is user data and stays
    val meta0 = payload - "__binary_b64"
    val meta = if (payload.get("__gid").contains(id)) meta0 - "__gid" else meta0
    VSRecord(
      id = id,
      vector = if (p.hasNonNull("vector")) sh.floats("vector") else null,
      metadata = meta,
      binary = binary)
  }
}

// ======================================================================
// Milvus
// ======================================================================

/** Client speaking Milvus's v2 RESTful API. Every verb is a POST under
  * /v2/vectordb; errors arrive as HTTP 200 with a non-zero `code`. */
class MilvusWireTransport(baseUrl: String, apiKey: Option[String] = None)
  extends WireClient(baseUrl, apiKey.map(k => "Authorization" -> s"Bearer $k").toMap) {
  import WireJson._

  private def post(verb: String, body: ObjectNode): JsonNode = {
    val r = call("POST", s"/v2/vectordb/$verb", Some(body))
    val code = Option(r.get("code")).map(_.asInt()).getOrElse(0)
    if (code == 100 || code == 4) // collection not found family
      throw new NoSuchElementException(
        Option(r.get("message")).map(_.asText()).getOrElse("collection not found"))
    if (code != 0)
      throw new java.io.IOException(s"milvus code $code on $verb: " +
        Option(r.get("message")).map(_.asText()).getOrElse(""))
    r
  }

  private def named(name: String): ObjectNode = {
    val b = obj(); b.put("collectionName", name); b
  }

  private def toMetric(distance: String): String = distance match {
    case "Cosine" => "COSINE"
    case "Euclid" | "Euclidean" => "L2"
    case "Dot" | "DotProduct" => "IP"
    case "Hamming" => "HAMMING"
    case "Jaccard" => "JACCARD"
    case other => other
  }
  private def fromMetric(m: String): String = m match {
    case "COSINE" => "Cosine"
    case "L2" => "Euclid"
    case "IP" => "Dot"
    case "HAMMING" => "Hamming"
    case "JACCARD" => "Jaccard"
    case other => other
  }

  /** Recreate of a LIVE collection routes through the alias publish
    * ([[rename]]) instead of drop-then-create: a fresh empty generation
    * is created under a staging name and published with ONE
    * `aliases/alter` repoint, so concurrent readers of a PUBLISHED
    * (aliased) name never see a not-found window. A LITERAL live
    * collection keeps the same one-time window as the first alias
    * publish (alias names cannot shadow collection names on this wire),
    * recoverable by re-running — documented at [[rename]]. */
  override def createCollection(name: String, config: CollectionConfig,
                                recreate: Boolean): Unit = {
    if (recreate && exists(name)) {
      val staging = stagingName(name)
      createCollection(staging, config, recreate = false)
      rename(staging, name)
      return
    }
    if (!recreate && exists(name)) return
    val b = named(name)
    b.put("dimension", config.dim)
    b.put("metricType", toMetric(config.distance))
    b.put("vectorDataType",
      if (config.vectorType == VectorTypes.Binary) "BinaryVector" else "FloatVector")
    if (config.props.nonEmpty || config.onDisk) {
      val p = b.putObject("params")
      config.props.foreach { case (k, v) => p.put(k, v) }
      if (config.onDisk) p.put("on_disk", "true")
    }
    post("collections/create", b)
  }

  override def exists(name: String): Boolean =
    try { post("collections/describe", named(name)); true }
    catch { case _: NoSuchElementException => false }

  /** Real v2 `collections/describe` nests the metric inside the `indexes`
    * array and renders `properties` / field `params` as `[{key,value}]`
    * pair lists — this parser reads that shape first and falls back to
    * the flat object forms, so both a real cluster and simpler doubles
    * describe correctly (and nothing NPEs on an absent field). */
  override def describe(name: String): Option[CollectionConfig] =
    try {
      val d = WireShape("milvus", "describe",
        post("collections/describe", named(name))).node("data")
      // {key,value} pair-list OR flat object -> Map
      def kvMap(n: JsonNode): Map[String, String] =
        if (n == null || n.isNull) Map.empty
        else if (n.isArray) n.asInstanceOf[ArrayNode].asScala
          .flatMap(e => Option(e.get("key")).map(k =>
            k.asText() -> Option(e.get("value")).map(_.asText()).orNull)).toMap
        else metadataFrom(n)
      val vecField = Option(d.get("fields")).filter(_.isArray)
        .flatMap(_.asInstanceOf[ArrayNode].asScala
          .find(f => Option(f.get("type")).exists(_.asText().endsWith("Vector"))))
      val dim = vecField.flatMap(f => Option(f.get("params"))).map(kvMap)
        .flatMap(_.get("dim")).flatMap(_.toIntOption).getOrElse(0)
      val metric = Option(d.get("metricType")).map(_.asText())
        .orElse(Option(d.get("indexes")).filter(_.isArray)
          .flatMap(_.asInstanceOf[ArrayNode].asScala.iterator
            .flatMap(i => Option(i.get("metricType")).map(_.asText())).nextOption()))
        .getOrElse("COSINE")
      val props = kvMap(d.get("properties"))
      Some(CollectionConfig(
        distance = fromMetric(metric),
        dim = dim,
        onDisk = props.get("on_disk").contains("true"),
        props = props.removed("on_disk"),
        vectorType = vecField.map(_.get("type").asText()) match {
          case Some("BinaryVector") => VectorTypes.Binary
          case _ => VectorTypes.Float
        }))
    } catch { case _: NoSuchElementException => None }

  /** Milvus v2 `entities/query` takes real `offset`/`limit` params, so
    * parallel offset-range scans are wire-faithful here — with the
    * DOCUMENTED caveat that real Milvus bounds the query window at
    * offset + limit ≤ 16384: beyond the first 16384 rows a real
    * deployment pages the pk-sorted QueryIterator pattern (filter
    * `id > last`, pymilvus' iterator) instead of offsets. The emulated
    * store accepts any offset, so the bound is noted, not enforced. */
  override def scroll(name: String, fromIdx: Int, pageSize: Int): Seq[VSRecord] =
    scrollFiltered(name, fromIdx, pageSize, None)

  /** The rendered boolean expression rides `entities/query`'s `filter`
    * param — real Milvus evaluates it server-side. NOTE: offsets then
    * index the FILTERED row sequence, which is exactly how the engine's
    * offset partitions consume them. */
  override def serverSideFilters: Boolean = true

  override def scrollFiltered(name: String, fromIdx: Int, pageSize: Int,
                              filter: Option[String]): Seq[VSRecord] = {
    val b = named(name)
    b.put("filter", filter.getOrElse(""))
    b.put("offset", fromIdx)
    b.put("limit", pageSize)
    val of = b.putArray("outputFields"); of.add("*")
    val rows = WireShape("milvus", "query", post("entities/query", b)).arr("data")
    (0 until rows.size()).map(i => rowToRecord(rows.get(i)))
  }

  /** `dropScore` only on SEARCH responses, where `distance` is the score
    * field — a user metadata key legitimately named "distance" must
    * survive plain query reads. */
  private def rowToRecord(row: JsonNode, dropScore: Boolean = false): VSRecord = {
    val sh = WireShape("milvus", "row", row)
    val meta = row.properties().asScala
      .filterNot(e => e.getKey == "id" || e.getKey == "vector" ||
        (dropScore && e.getKey == "distance"))
      .map(e => e.getKey -> (if (e.getValue.isNull) null
      else if (e.getValue.isTextual) e.getValue.asText()
      else e.getValue.toString)).toMap
    val vecNode = row.get("vector")
    val (vec, bin) =
      if (vecNode == null || vecNode.isNull) (null, null)
      else if (vecNode.isTextual) (null, unb64(vecNode.asText())) // binary face
      else (sh.floats("vector"), null)
    VSRecord(sh.text("id"), vec, meta, bin)
  }

  /** Native `POST /v2/vectordb/entities/search`: COSINE over float
    * collections, HAMMING over BINARY_VECTOR (Milvus's native binary
    * metric) — filtered search via the `filter` expr, ties on id. The
    * binary query vector rides base64 in `data`, the same reserved-slot
    * divergence as the binary upsert face. */
  override def supportsNativeSearch(metric: String): Boolean =
    metric == "cosine" || metric == "hamming"
  override def supportsSearchFilter: Boolean = true

  override def nativeSearch(name: String, sp: SearchSpec,
                            filter: Option[String]): Option[Seq[VSRecord]] = {
    val b = named(name)
    val data = b.putArray("data")
    if (sp.metric == "hamming") data.add(b64(sp.binary))
    else { val v = data.addArray(); sp.vector.foreach(v.add) }
    b.put("limit", sp.k)
    b.put("annsField", "vector")
    filter.foreach(f => b.put("filter", f))
    val of = b.putArray("outputFields"); of.add("*")
    val rows = WireShape("milvus", "search", post("entities/search", b)).arr("data")
    Some((0 until rows.size()).map(i => rowToRecord(rows.get(i), dropScore = true)))
  }

  override def count(name: String): Int = countFiltered(name, None)

  /** `entities/query` with `count(*)` takes the same `filter` expr as a
    * row query — real Milvus counts the FILTERED population, which is
    * exactly what the engine's filtered offset-range planning needs
    * (offsets index the filtered sequence on this wire). */
  override def countFiltered(name: String, filter: Option[String]): Int = {
    val b = named(name)
    b.put("filter", filter.getOrElse(""))
    val of = b.putArray("outputFields"); of.add("count(*)")
    val sh = WireShape("milvus", "count", post("entities/query", b))
    val data = sh.arr("data")
    if (data.size() < 1) sh.fail("'data' has no count(*) row")
    sh.at(data.get(0), "data[0]").int("count(*)")
  }

  override def upsert(name: String, records: Seq[VSRecord]): Int = {
    val b = named(name)
    val data = b.putArray("data")
    records.foreach { r =>
      val row = data.addObject()
      row.put("id", r.id)
      if (r.vector != null) putFloats(row, "vector", r.vector)
      if (r.binary != null) row.put("vector", b64(r.binary))
      r.metadata.foreach { case (k, v) =>
        if (v == null) row.putNull(k) else row.put(k, v)
      }
    }
    WireShape("milvus", "upsert", post("entities/upsert", b))
      .int("data", "upsertCount")
  }

  override def delete(name: String, ids: Seq[String]): Int = {
    val b = named(name)
    // rendered by the dialect ('' for embedded quotes), so ids with quotes
    // survive the expr and Milvus literal quoting lives in one place
    b.put("filter", new MilvusExprDialect()
      .render(org.apache.spark.sql.sources.In("id", ids.toArray[Any])).get)
    val r = post("entities/delete", b)
    Option(r.get("data")).flatMap(d => Option(d.get("deleteCount")))
      .map(_.asInt()).getOrElse(ids.length)
  }

  override def drop(name: String): Unit = listAliases().get(name) match {
    case Some(underlying) => // dropping an aliased name = alias + generation
      post("aliases/drop", aliasBody(name))
      post("collections/drop", named(underlying))
    case None => post("collections/drop", named(name))
  }

  private def aliasBody(alias: String, coll: String = null): ObjectNode = {
    val b = obj()
    b.put("aliasName", alias)
    if (coll != null) b.put("collectionName", coll)
    b
  }

  /** Alias map on the wire (`aliases/list` + `aliases/describe`) — the
    * face of Milvus's documented atomic-publish mechanism
    * (`POST /v2/vectordb/aliases/alter` repoints in one call). */
  private def listAliases(): Map[String, String] = {
    val a = WireShape("milvus", "aliases", post("aliases/list", obj())).arr("data")
    (0 until a.size()).map { i =>
      val al = a.get(i).asText()
      al -> WireShape("milvus", "alias", post("aliases/describe", aliasBody(al)))
        .text("data", "collectionName")
    }.toMap
  }

  /** Publish via the documented ATOMIC alias repoint — `aliases/alter`
    * moves a published name onto the new generation in ONE call, the
    * same blue/green shape as Qdrant's alias-actions swap (the native
    * `collections/rename` verb cannot replace: real Milvus REJECTS an
    * existing `newCollectionName`, so a rename-based swap is
    * drop-then-rename with a reader-visible not-found window). The FIRST
    * publish over a REAL collection named `to` must drop it before
    * aliasing (alias names cannot shadow collection names): that
    * one-time window is recoverable by re-running the publish. Readers
    * keep addressing `to` — aliases resolve on every data-plane verb. */
  override def rename(from: String, to: String): Unit = {
    // IDEMPOTENT under the retry wrapper: if a prior attempt applied but
    // its response was lost, re-running repoints the alias to the same
    // generation and retires nothing. A source gone WITH the target
    // present is a completed publish, not an error.
    if (!exists(from)) {
      if (exists(to)) return
      throw new NoSuchElementException(s"collection not found: $from")
    }
    val oldGen = listAliases().get(to)
    if (oldGen.isDefined) post("aliases/alter", aliasBody(to, from)) // THE atomic flip
    else {
      if (exists(to)) post("collections/drop", named(to)) // one-time literal window
      post("aliases/create", aliasBody(to, from))
    }
    oldGen.filter(_ != from).foreach(g => post("collections/drop", named(g)))
  }

  /** Catalog view: alias names stand in for the generation collections
    * they point at (`collections/list` + the alias map, merged client-
    * side) — callers address published names, not `__staging_*`
    * generations. */
  override def listCollections(): Seq[String] = {
    val a = WireShape("milvus", "list", post("collections/list", obj())).arr("data")
    val raw = (0 until a.size()).map(i => a.get(i).asText())
    val al = listAliases()
    if (al.isEmpty) return raw
    val targets = al.values.toSet
    val kept = raw.filterNot(targets.contains)
    kept ++ al.keys.toSeq.sorted.filterNot(kept.contains)
  }
}

// ======================================================================
// Pinecone
// ======================================================================

/** Client speaking Pinecone's REST API. Our `index::namespace` collection
  * address splits onto the wire: the index rides the control-plane path,
  * the namespace rides every data-plane body/query — namespaces
  * auto-create on upsert, exactly like the real service. */
class PineconeWireTransport(baseUrl: String, apiKey: Option[String] = None,
                            protected val stripReserved: Boolean = false)
  extends WireClient(baseUrl, apiKey.map("Api-Key" -> _).toMap)
    with ReservedKeyPolicy {
  import WireJson._

  private def split(name: String): (String, String) = name.split("::", 2) match {
    case Array(ix, ns) => (ix, ns)
    case _ => (name, "")
  }
  private def toMetric(distance: String): String = distance match {
    case "Cosine" => "cosine"
    case "Euclid" | "Euclidean" => "euclidean"
    case "Dot" | "DotProduct" => "dotproduct"
    case other => other.toLowerCase(java.util.Locale.ROOT)
  }
  private def fromMetric(m: String): String = m match {
    case "cosine" => "Cosine"
    case "euclidean" => "Euclid"
    case "dotproduct" => "Dot"
    case other => other
  }

  override def createCollection(name: String, config: CollectionConfig,
                                recreate: Boolean): Unit = {
    val (ix, ns) = split(name)
    if (recreate && indexExists(ix)) {
      // recreate is scoped to the addressed collection: a bare index drops
      // whole (index-level config — dim/metric — can only change that
      // way); a LIVE namespace rides the SAME pointer machinery as the
      // atomic sink — a fresh EMPTY generation (gen marker at birth) is
      // published with ONE pointer flip and the old generation retired
      // after it, so readers of the logical namespace never see the
      // half-cleared window an in-place deleteAll left them
      if (ns.isEmpty) { call("DELETE", s"/indexes/${enc(ix)}"); invalidateIndexPtrs(ix) }
      else if (exists(name)) {
        val staging = stagingName(name)
        createCollection(staging, config, recreate = false)
        rename(staging, name)
        return
      }
    }
    if (!indexExists(ix)) {
      val b = obj()
      b.put("name", ix)
      b.put("dimension", config.dim)
      b.put("metric", toMetric(config.distance))
      call("POST", "/indexes", Some(b))
    }
    // a shadow namespace records its generation marker at birth, so a
    // zero-row publish is distinguishable from a retired generation later
    if (ns.contains("__staging_")) writeGenMarker(ix, ns)
  }

  private def indexExists(ix: String): Boolean =
    try { call("GET", s"/indexes/${enc(ix)}"); true }
    catch { case _: NoSuchElementException => false }

  override def exists(name: String): Boolean = {
    val (ix, ns) = split(name)
    if (!indexExists(ix)) false
    else if (ns.isEmpty) true
    else if (isReservedNs(ns)) stats(ix).namespaces.contains(ns)
    // a pointered logical namespace exists even when its current
    // generation is empty (stats omits empty namespaces)
    else pointerOf(ix, ns).isDefined || stats(ix).namespaces.contains(ns)
  }

  override def describe(name: String): Option[CollectionConfig] = {
    val (ix, _) = split(name)
    try {
      val sh = WireShape("pinecone", "describe", call("GET", s"/indexes/${enc(ix)}"))
      Some(CollectionConfig(
        distance = fromMetric(sh.text("metric")),
        dim = sh.int("dimension")))
    } catch { case _: NoSuchElementException => None }
  }

  private case class Stats(namespaces: Map[String, Int], total: Int)
  private def stats(ix: String): Stats = {
    val sh = WireShape("pinecone", "stats",
      call("POST", s"/describe_index_stats?index=${enc(ix)}", Some(obj())))
    val ns = sh.opt("namespaces").map(_.properties().asScala
      .map(e => e.getKey ->
        sh.at(e.getValue, s"namespaces.${e.getKey}").int("vectorCount")).toMap)
      .getOrElse(Map.empty[String, Int])
    Stats(ns, sh.opt("totalVectorCount").map(_.asInt()).getOrElse(0))
  }

  override def count(name: String): Int = {
    val (ix, ns) = resolved(name)
    val s = stats(ix)
    if (ns.isEmpty) s.namespaces.getOrElse("", 0) else s.namespaces.getOrElse(ns, 0)
  }

  /** Pinecone pages by an OPAQUE `paginationToken`: `GET /vectors/list`
    * returns ids plus `pagination.next`, which the client echoes verbatim
    * on the next request — it never constructs or decodes a token. */
  override def cursorPaged: Boolean = true

  /** Mirror rule shared with the Qdrant codec: strip the reserved `__gid`
    * metadata mirror on read ONLY when it addresses this record's own id
    * (string- or numerically-equal — the wire may echo `123` as `123.0`);
    * a foreign tool's unrelated `__gid` is user data and stays. */
  private def stripMirror(id: String, meta: Map[String, String]): Map[String, String] =
    if (meta.get("__gid").exists(g => g == id ||
      (for { gd <- g.toDoubleOption; il <- id.toLongOption } yield gd == il.toDouble)
        .getOrElse(false))) meta - "__gid"
    else meta

  // ----------------------------- namespace-pointer publish (atomic mode)

  /** Pinecone's public wire has no collection rename and no alias verb, so
    * the engine maintains its own indirection: a POINTER record in the
    * reserved `__graft_meta` namespace maps each logical namespace to the
    * GENERATION namespace currently published under it. Every data-plane
    * verb resolves the pointer first (cached ~2 s, invalidated by local
    * flips), so `rename(shadow, target)` = one single-record upsert — the
    * same O(1)-verb publish shape as Qdrant's alias swap, replacing the
    * trait's 2×-write drop-before-copy fallback (BASELINE.md priced it at
    * 78.8 s for 200k rows at 10 ms RTT; the flip is one RTT at any size).
    *
    * Pointer record: id `__graft_ptr::<logical-ns>`, metadata
    * `{"target": <generation-ns>, "prev": <retiring-ns>?}`. `prev` is the
    * retire leg's write-ahead note: it is set in the SAME upsert that
    * flips the pointer and cleared only after the old generation's rows
    * are deleted, so a crash between flip and retire leaves a retried
    * publish (or `--sweep-staging`) everything it needs to finish the
    * job. The flip itself is one call, so a scan STARTED after the
    * publish never sees a partial target. The standing caveat — shared
    * with every swap-then-retire publish, Qdrant's alias flavor
    * included — is concurrent IN-FLIGHT readers: a cursor walk that
    * began before the flip keeps addressing the retiring generation
    * (via its own ≤2 s pointer cache or an already-minted cursor) while
    * the retire deletes under it. Publishing under active scans is an
    * operator-level coordination problem on every one of these wires;
    * schedule publishes off the read path, or re-run scans that spanned
    * one. */
  private val metaNs = "__graft_meta"
  private def ptrId(ns: String): String = s"__graft_ptr::$ns"
  private case class NsPointer(target: String, prev: Option[String])

  /** Reserved namespaces are never logical names: the meta namespace
    * itself, and staging/generation namespaces (resolving those would add
    * a pointless fetch to every shadow-write page). */
  private def isReservedNs(ns: String): Boolean =
    ns == metaNs || ns.contains("__staging_")

  @transient private lazy val ptrCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), (Option[NsPointer], Long)]
  private val ptrTtlMs = 2000L

  private def invalidatePtr(ix: String, ns: String): Unit = ptrCache.remove((ix, ns))

  /** Index-wide cache purge — index deletion/recreation kills every
    * pointer with it; a cached entry surviving that would route writes
    * into a dead generation namespace of the FRESH index (silent loss
    * once the cache expired and readers resolved to the empty literal). */
  private def invalidateIndexPtrs(ix: String): Unit = {
    ptrCache.keys.filter(_._1 == ix).foreach(ptrCache.remove)
    legacyVerified.keys.filter(_._1 == ix).foreach(legacyVerified.remove)
  }

  private def fetchPointer(ix: String, ns: String): Option[NsPointer] =
    try {
      val id = ptrId(ns)
      val r = call("GET", s"/vectors/fetch?index=${enc(ix)}&namespace=${enc(metaNs)}" +
        s"&ids=${enc(id)}")
      Option(r.get("vectors")).flatMap(v => Option(v.get(id))).map { v =>
        val meta = metadataFrom(v.get("metadata"))
        NsPointer(meta.getOrElse("target", ns), meta.get("prev").filter(_.nonEmpty))
      }
    } catch { case _: NoSuchElementException => None }

  private def pointerOf(ix: String, ns: String): Option[NsPointer] = {
    val key = (ix, ns)
    val now = System.currentTimeMillis()
    ptrCache.get(key) match {
      case Some((p, at)) if now - at < ptrTtlMs => p
      case _ =>
        val p = fetchPointer(ix, ns)
        ptrCache.put(key, (p, now))
        p
    }
  }

  /** Logical namespace → the generation currently published under it.
    * Readers "resolve the pointer before scanning"; writers land rows
    * where readers look. */
  private def resolveNs(ix: String, ns: String): String =
    if (isReservedNs(ns)) ns else pointerOf(ix, ns).map(_.target).getOrElse(ns)

  private def resolved(name: String): (String, String) = {
    val (ix, ns) = split(name)
    (ix, resolveNs(ix, ns))
  }

  /** [[resolveNs]] + retired-generation staleness check: a cached pointer
    * can outlive its generation by the cache TTL when ANOTHER client
    * published meanwhile — and because the publisher retires (deletes)
    * the old generation, that stale resolution reads, or WRITES, a
    * namespace that no longer exists: emptiness, not even old data. A
    * retired generation has no marker, so one marker fetch detects the
    * stale entry and forces a fresh pointer read. Used where it matters
    * and stays cheap: plan time (once per scan JOB — never per page) and
    * the batched write verbs (one fetch per ≥batch-size rows). The
    * verb-level reads (count/describe/single scrolls) keep the documented
    * ≤TTL bounded staleness. Resolutions that return the caller's own
    * (reserved/literal) name skip the check — shadow writers during an
    * atomic publish never pay it. */
  /** Legacy (pre-marker) generations a FRESH pointer read confirmed live,
    * remembered CLIENT-LOCALLY for one TTL. Deliberately NOT healed by
    * writing the missing marker to the server: that write would race a
    * concurrent retire's marker delete last-writer-wins, and a marker
    * stranded on a retired generation defeats [[rename]]'s gone-source
    * guard (a delayed duplicate rename would then retire the LIVE
    * generation — data loss). A local memo has no cross-client blast
    * radius and expires with the pointer cache, so legacy generations get
    * exactly the documented ≤TTL bounded staleness. */
  @transient private lazy val legacyVerified =
    scala.collection.concurrent.TrieMap.empty[(String, String), Long]

  private def resolveNsFresh(ix: String, ns: String): String = {
    val r = resolveNs(ix, ns)
    if (r == ns || !r.contains("__staging_")) r
    else {
      val now = System.currentTimeMillis()
      if (legacyVerified.get((ix, r)).exists(now - _ < ptrTtlMs)) r
      else if (genMarkerExists(ix, r)) r
      else {
        invalidatePtr(ix, ns)
        val r2 = resolveNs(ix, ns)
        // the same generation on a FRESH pointer read is not staleness —
        // it is a LIVE generation published before markers existed; memo
        // it locally (see legacyVerified for why not a server-side heal)
        if (r2 == r) legacyVerified.put((ix, r), now)
        r2
      }
    }
  }

  private def resolvedFresh(name: String): (String, String) = {
    val (ix, ns) = split(name)
    (ix, resolveNsFresh(ix, ns))
  }

  private def writePointer(ix: String, ns: String, target: String,
                           prev: Option[String]): Unit = {
    // direct wire upsert: the pointer is engine bookkeeping — no reserved
    // key policy, no __gid mirror, and a dim-length dummy vector (real
    // Pinecone rejects wrong-width values)
    val dim = math.max(1, describe(ix).map(_.dim).getOrElse(1))
    val b = obj()
    b.put("namespace", metaNs)
    val v = b.putArray("vectors").addObject()
    v.put("id", ptrId(ns))
    putFloats(v, "values", Array.fill(dim)(1.0f))
    metadataToNode(v, "metadata", Map("target" -> target) ++ prev.map("prev" -> _))
    call("POST", s"/vectors/upsert?index=${enc(ix)}", Some(b))
    invalidatePtr(ix, ns)
  }

  private def deleteAllNs(ix: String, ns: String): Unit = {
    val b = obj()
    b.put("deleteAll", true)
    b.put("namespace", ns)
    call("POST", s"/vectors/delete?index=${enc(ix)}", Some(b))
  }

  private def deletePointer(ix: String, ns: String): Unit = {
    val b = obj()
    b.put("namespace", metaNs)
    b.putArray("ids").add(ptrId(ns))
    call("POST", s"/vectors/delete?index=${enc(ix)}", Some(b))
    invalidatePtr(ix, ns)
  }

  /** Generation marker: proof a `__staging_` namespace was INTENTIONALLY
    * created as a shadow in the current publish cycle. Written at shadow
    * creation ([[createCollection]]), deleted when the generation is
    * retired (its rows emptied). This is what lets [[rename]] distinguish
    * the two row-less publish shapes that stats alone cannot: a GENUINE
    * zero-row overwrite (marker present — publish an empty generation)
    * from a delayed duplicate of an already-retired publish (marker AND
    * rows gone — no-op, keep the live data). */
  private def genId(ns: String): String = s"__graft_gen::$ns"

  private def writeGenMarker(ix: String, ns: String): Unit = {
    val dim = math.max(1, describe(ix).map(_.dim).getOrElse(1))
    val b = obj()
    b.put("namespace", metaNs)
    val v = b.putArray("vectors").addObject()
    v.put("id", genId(ns))
    putFloats(v, "values", Array.fill(dim)(1.0f))
    call("POST", s"/vectors/upsert?index=${enc(ix)}", Some(b))
  }

  private def genMarkerExists(ix: String, ns: String): Boolean =
    try {
      val id = genId(ns)
      val r = call("GET", s"/vectors/fetch?index=${enc(ix)}&namespace=${enc(metaNs)}" +
        s"&ids=${enc(id)}")
      Option(r.get("vectors")).flatMap(v => Option(v.get(id))).isDefined
    } catch { case _: NoSuchElementException => false }

  private def deleteGenMarker(ix: String, ns: String): Unit =
    try {
      val b = obj()
      b.put("namespace", metaNs)
      b.putArray("ids").add(genId(ns))
      call("POST", s"/vectors/delete?index=${enc(ix)}", Some(b))
    } catch {
      // no meta namespace yet = nothing was ever marked here — retiring
      // a generation on a never-published index has no marker to drop
      case _: NoSuchElementException =>
    }

  /** Retire a generation: drop its MARKER first, then empty its rows. The
    * order is what bounds the cross-client lost-write window: a stale-
    * cached writer re-verifies its resolution via [[genMarkerExists]], so
    * once the marker is gone no marker-verified write can begin against a
    * namespace whose rows are about to vanish — the race narrows to a
    * check already in flight when the marker delete lands (one RTT),
    * instead of the whole rows-then-marker gap. A crash between the two
    * legs leaves rows without a marker — the same shape as a pre-marker
    * legacy generation — and every path that can reach it retries through
    * the pointer's `prev` link, which re-runs this retire to completion. */
  private def retireGen(ix: String, ns: String): Unit = {
    deleteGenMarker(ix, ns)
    deleteAllNs(ix, ns)
  }

  /** Scan-snapshot pinning: resolve the pointer ONCE at plan time and
    * hand partitions the generation's own (reserved) name — every task
    * of the job then reads one consistent generation with ZERO pointer
    * fetches per page, and a publish landing mid-job flips the next scan,
    * never this one. */
  override def snapshotName(name: String): String = {
    // resolvedFresh: a scan must never pin a RETIRED generation off a
    // stale cache entry (one marker fetch per scan job, not per page)
    val (ix, ns) = resolvedFresh(name)
    if (ns.isEmpty) ix else s"$ix::$ns"
  }

  /** Atomic-mode shadows live in a NAMESPACE of the target's own index —
    * a sibling index would pay real index-provisioning latency and could
    * only publish via copy-then-drop. A bare-index target stages in
    * `ix::__staging_*` (logical namespace ""), a namespaced one in
    * `ix::<ns>__staging_*`; both carry the `__staging_` marker the sweep
    * verb and [[isReservedNs]] key on. */
  override def stagingName(target: String): String = {
    val (ix, ns) = split(target)
    s"$ix::${ns}__staging_${java.util.UUID.randomUUID().toString.replace("-", "")}"
  }

  /** Publish via the engine's namespace-pointer flip (same-index
    * generations; cross-index renames keep the trait's loud copy
    * fallback). Steps, each idempotent under retries:
    *   1. pointer already on `from` → a lost-response retry: just finish
    *      any pending retire leg (`prev`) and return;
    *   2. ONE pointer upsert flips readers to the new generation,
    *      recording the retiring one as `prev` — the atomic publish;
    *   3. the old generation's rows are deleted and `prev` cleared.
    * A crash before 2 leaves the old target serving untouched; between 2
    * and 3 readers already see the new generation and the retire is
    * re-runnable from `prev`. An EMPTY shadow (zero-row overwrite)
    * publishes an empty target on pointered and never-pointered targets
    * alike — its GENERATION MARKER (written at shadow creation) is what
    * separates it from a delayed duplicate of a retired publish, which
    * has neither rows nor marker and must no-op. */
  override def rename(from: String, to: String): Unit = {
    val (ixF, nsF) = split(from)
    val (ixT, nsT) = split(to)
    if (ixF != ixT || nsF.isEmpty || isReservedNs(nsT)) {
      super.rename(from, to)
      return
    }
    invalidatePtr(ixT, nsT) // decide on fresh wire state, never the cache
    val p = pointerOf(ixT, nsT)
    if (p.exists(_.target == nsF)) {
      p.get.prev.foreach { og => retireGen(ixT, og); writePointer(ixT, nsT, nsF, None) }
      return
    }
    // STALE-RETRY guards — the pointer path's analog of the trait's
    // "never destructive when the source is gone". A delayed duplicate of
    // an OLDER publish shows up in exactly two shapes, and both must
    // no-op rather than flip the live pointer backwards and delete the
    // NEWEST generation as "old":
    //  1. the stale generation is the live pointer's PREV — a newer
    //    publish superseded it but crashed before the retire, so its
    //    rows still exist. Finishing that pending retire is this retry's
    //    only legitimate work;
    //  2. the stale generation is already RETIRED — rows emptied AND its
    //    generation marker deleted. A genuine zero-row overwrite also has
    //    no rows, but its marker (written at shadow creation, deleted
    //    only at retirement) is still present — that one publishes an
    //    empty generation like any other.
    if (p.exists(_.prev.contains(nsF))) {
      retireGen(ixT, nsF)
      writePointer(ixT, nsT, p.get.target, None)
      return
    }
    // gone-source no-op holds WITHOUT a pointer too: a swept zombie
    // shadow renamed onto a target serving LITERAL rows (never published
    // atomically, so no pointer exists) must not flip a pointer onto the
    // retired namespace and delete the live rows as "old". ONE stats
    // fetch serves this guard and the oldGen probe below (the publish
    // stays O(1) wire calls).
    val statsNow = stats(ixT).namespaces
    if (!statsNow.contains(nsF) && !genMarkerExists(ixT, nsF)) return
    // a PENDING retire from a crashed earlier publish (prev set, target
    // != this shadow) is finished FIRST, so its generation's rows can
    // never be stranded by prev being overwritten below. (prev == nsF
    // cannot reach here — the stale-retry guard above returned on it.)
    p.flatMap(_.prev).foreach { og =>
      retireGen(ixT, og)
      writePointer(ixT, nsT, p.get.target, None)
    }
    val oldGen = p.map(_.target).orElse(if (statsNow.contains(nsT)) Some(nsT) else None)
    writePointer(ixT, nsT, nsF, oldGen) // THE publish: one call, any size
    oldGen.foreach(retireGen(ixT, _))
    if (oldGen.isDefined) writePointer(ixT, nsT, nsF, None)
  }

  /** Pointer mappings of an index: logical namespace → generation. One
    * cursor walk of the meta namespace (empty when the engine never
    * published here). */
  private def listPointers(ix: String): Map[String, String] = {
    val out = scala.collection.mutable.Map.empty[String, String]
    var cursor: Option[String] = None
    var first = true
    while (first || cursor.isDefined) {
      val (recs, next) = scrollPage(s"$ix::$metaNs", cursor, 100)
      first = false
      recs.foreach { r =>
        if (r.id.startsWith("__graft_ptr::"))
          out(r.id.stripPrefix("__graft_ptr::")) = r.metadata.getOrElse("target", "")
      }
      cursor = if (recs.isEmpty && next.isEmpty) None else next
    }
    out.toMap
  }

  /** Real Pinecone caps `/vectors/list` at limit ≤ 100, so a page
    * request larger than that is served as a ≤100-record page — the
    * cursor walk simply takes more pages ([[VSPaging]] consumes pages of
    * ANY size). Fetches batch ≤100 ids per request to keep the URL
    * within practical limits. */
  private val listCap = 100

  override def scrollPage(name: String, cursor: Option[String],
                          pageSize: Int): (Seq[VSRecord], Option[String]) = {
    val (ix, ns) = resolved(name)
    // two documented calls: list ids (cursor-paged), then fetch full
    // vectors for the page
    val tok = cursor.map(c => s"&paginationToken=${enc(c)}").getOrElse("")
    val sh = WireShape("pinecone", "list",
      call("GET", s"/vectors/list?index=${enc(ix)}&namespace=${enc(ns)}" +
        s"&limit=${math.min(pageSize, listCap)}$tok"))
    val idNodes = sh.arr("vectors")
    val ids = (0 until idNodes.size()).map(i =>
      sh.at(idNodes.get(i), s"vectors[$i]").text("id"))
    val next = sh.opt("pagination", "next").map(_.asText())
    if (ids.isEmpty) return (Seq.empty, next)
    val byId = ids.grouped(listCap).flatMap { batch =>
      val fsh = WireShape("pinecone", "fetch",
        call("GET", s"/vectors/fetch?index=${enc(ix)}&namespace=${enc(ns)}" +
          batch.map(i => s"&ids=${enc(i)}").mkString))
      val vecs = fsh.node("vectors")
      batch.flatMap { id =>
        Option(vecs.get(id)).map { v =>
          id -> VSRecord(id,
            if (v.hasNonNull("values")) fsh.at(v, id).floats("values") else null,
            stripMirror(id, metadataFrom(v.get("metadata"))))
        }
      }
    }.toMap
    (ids.flatMap(byId.get), next)
  }

  // -------------------------------------------------- filtered scrolls

  /** Filtered scans ride the PUBLIC `/query` endpoint (Pinecone's only
    * filter-evaluating verb — `/vectors/list` takes no metadata filter),
    * so the rendered Mongo-style predicate is evaluated server-side. */
  override def serverSideFilters: Boolean = true

  /** The public query limits: topK ≤ 1,000 when includeValues /
    * includeMetadata ride along — the page granularity of filtered scans. */
  private val queryCap = 1000

  @transient private lazy val dimCache =
    scala.collection.concurrent.TrieMap.empty[String, Int]
  /** Vector dim for the dummy query vector: the index description when it
    * carries one, else one listed record's vector length (indexes created
    * through the engine's writer may register before the dim is known). */
  private def dimOf(name: String): Int = {
    val ix = split(name)._1
    dimCache.getOrElseUpdate(ix,
      describe(name).map(_.dim).filter(_ > 0).getOrElse(
        scrollPage(name, None, 1)._1.headOption.flatMap(r => Option(r.vector))
          .map(_.length).getOrElse(throw new NoSuchElementException(
            s"cannot determine vector dim for a filtered query on $name"))))
  }

  /** One filtered `/query` call: the caller's filter AND-composed with a
    * `__gid` work-item condition, a constant non-zero query vector (scores
    * are irrelevant — the filter does the selection), full values +
    * metadata back. */
  private def filteredQuery(name: String, f: String, gidCond: String,
                            topK: Int): Seq[VSRecord] = {
    val (ix, ns) = resolved(name)
    val b = obj()
    if (ns.nonEmpty) b.put("namespace", ns)
    putFloats(b, "vector", Array.fill(dimOf(name))(1.0f))
    b.put("topK", topK)
    b.put("includeValues", true)
    b.put("includeMetadata", true)
    b.set[ObjectNode]("filter", mapper.readTree(s"""{"$$and":[$f,$gidCond]}"""))
    val sh = WireShape("pinecone", "query",
      call("POST", s"/query?index=${enc(ix)}", Some(b)))
    val ms = sh.arr("matches")
    (0 until ms.size()).map { i =>
      val m = sh.at(ms.get(i), s"matches[$i]")
      val id = m.text("id")
      VSRecord(id,
        if (ms.get(i).hasNonNull("values")) m.floats("values") else null,
        stripMirror(id, metadataFrom(ms.get(i).get("metadata"))))
    }
  }

  /** Filtered cursor walk as a WORK-LIST of `__gid` intervals, bisected on
    * truncation — the only exactly-once filtered scan Pinecone's public
    * API admits (`/query` returns an ARBITRARY topK subset of the matches,
    * so advancing a gid lower bound past "the max seen" would skip rows;
    * disjoint intervals never can).
    *
    * The universe splits into records WITH a numeric `__gid` (range
    * intervals, splittable without bound) and records WITHOUT the key
    * (`$exists: false` — one query, NOT paginatable: if it truncates at
    * the cap the scan fails fast with a pointer at the `backfill-gid` CLI
    * verb rather than silently dropping rows). Records carrying a
    * NON-NUMERIC `__gid` value (no known writer produces one — this
    * codec's mirror is always a JSON number and rejects user `__gid`)
    * are reachable only while the root interval fits in one page;
    * documented unsupported beyond that.
    *
    * The cursor serializes the pending work list, so [[VSPaging]]'s
    * stateless page loop drives it like any other cursor walk. A split
    * emits an EMPTY page with a live cursor (the paging loop's documented
    * continue case). Each split strictly shrinks its interval's
    * population (the pivot is a returned member), so the walk terminates:
    * ≤ 2× the minimal ceil(n/cap) query calls. */
  override def scrollPageFiltered(name: String, cursor: Option[String], pageSize: Int,
                                  filter: Option[String]): (Seq[VSRecord], Option[String]) =
    filter match {
      case None => scrollPage(name, cursor, pageSize)
      case Some(f) =>
        val st = cursor.map(decodeScanState).getOrElse(
          ScanState(List((None, None)), existsLeg = true))
        st.ranges match {
          case (lo, hi) :: rest =>
            val conds = lo.map(l => s""""$$gte":$l""").toSeq ++
              hi.map(h => s""""$$lt":$h""").toSeq
            val gidCond =
              if (conds.isEmpty) """{"__gid":{"$exists":true}}"""
              else s"""{"__gid":{${conds.mkString(",")}}}"""
            val recs = filteredQuery(name, f, gidCond, queryCap)
            if (recs.size < queryCap)
              (recs, encodeScanState(ScanState(rest, st.existsLeg)))
            else {
              // possibly truncated: bisect on the median returned gid
              val vals = recs.flatMap(r => r.id.toDoubleOption
                  .orElse(r.metadata.get("__gid").flatMap(_.toDoubleOption)))
                .distinct.sorted
              if (vals.size < 2)
                throw new java.io.IOException(
                  s"filtered scan of $name cannot make progress: >= $queryCap matches " +
                    s"share one __gid value in [$lo,$hi) — duplicate mirrors from a " +
                    "foreign writer; rewrite them with the backfill-gid CLI verb")
              val pivot = vals(vals.size / 2)
              (Seq.empty, encodeScanState(
                ScanState((lo, Some(pivot)) :: (Some(pivot), hi) :: rest, st.existsLeg)))
            }
          case Nil =>
            val recs = filteredQuery(name, f, """{"__gid":{"$exists":false}}""", queryCap)
            if (recs.size >= queryCap)
              throw new java.io.IOException(
                s"filtered scan of $name: >= $queryCap matching records lack the numeric " +
                  "__gid mirror, and Pinecone's /query cannot paginate a filtered set — " +
                  "run the backfill-gid CLI verb on this namespace (or scan unfiltered)")
            (recs, None)
        }
    }

  private case class ScanState(ranges: List[(Option[Double], Option[Double])],
                               existsLeg: Boolean)

  /** None only when the whole work list (ranges + exists-false leg) is
    * drained. */
  private def encodeScanState(st: ScanState): Option[String] = {
    if (st.ranges.isEmpty && !st.existsLeg) return None
    val o = obj()
    val a = o.putArray("iv")
    st.ranges.foreach { case (lo, hi) =>
      val p = a.addArray()
      lo.fold(p.addNull())(p.add); hi.fold(p.addNull())(p.add)
    }
    o.put("ef", st.existsLeg)
    Some(mapper.writeValueAsString(o))
  }

  private def decodeScanState(s: String): ScanState = {
    val n = mapper.readTree(s)
    val ranges = n.get("iv").asInstanceOf[ArrayNode].asScala.map { p =>
      def side(i: Int): Option[Double] =
        Option(p.get(i)).filterNot(_.isNull).map(_.asDouble())
      (side(0), side(1))
    }.toList
    // the exists-false leg runs AFTER every range: drop it from the state
    // only once consumed
    ScanState(ranges, n.get("ef").asBoolean())
  }

  /** Native `POST /query`: cosine top-k with `includeValues`/
    * `includeMetadata`; pushed filters ride the `filter` body in the
    * Mongo-style JSON [[PineconeFilterDialect]] renders — real filtered
    * search, applied BEFORE top-k selection like the live service. */
  override def supportsNativeSearch(metric: String): Boolean = metric == "cosine"
  override def supportsSearchFilter: Boolean = true

  override def nativeSearch(name: String, sp: SearchSpec,
                            filter: Option[String]): Option[Seq[VSRecord]] = {
    if (sp.metric != "cosine") return None
    val (ix, ns) = resolved(name)
    val b = obj()
    if (ns.nonEmpty) b.put("namespace", ns)
    putFloats(b, "vector", sp.vector)
    b.put("topK", sp.k)
    b.put("includeValues", true)
    b.put("includeMetadata", true)
    filter.foreach(f => b.set[ObjectNode]("filter", mapper.readTree(f)))
    val sh = WireShape("pinecone", "query",
      call("POST", s"/query?index=${enc(ix)}", Some(b)))
    val ms = sh.arr("matches")
    Some((0 until ms.size()).map { i =>
      val m = sh.at(ms.get(i), s"matches[$i]")
      val id = m.text("id")
      VSRecord(id,
        if (ms.get(i).hasNonNull("values")) m.floats("values") else null,
        stripMirror(id, metadataFrom(ms.get(i).get("metadata"))))
    })
  }

  override def scroll(name: String, fromIdx: Int, pageSize: Int): Seq[VSRecord] =
    scrollViaCursor(name, fromIdx, pageSize)

  override def upsert(name: String, records: Seq[VSRecord]): Int = {
    // rows land where readers resolve to; resolvedFresh so a stale cached
    // pointer can never route a batch into a retired (deleted) generation
    val (ix, ns) = resolvedFresh(name)
    val b = obj()
    if (ns.nonEmpty) b.put("namespace", ns)
    val vs = b.putArray("vectors")
    records.foreach { r =>
      val v = vs.addObject()
      v.put("id", r.id)
      if (r.vector != null) putFloats(v, "values", r.vector)
      // reserved metadata name — same policy as the Qdrant codec
      val meta = applyReservedPolicy(r.metadata, Seq("__gid"), "pinecone")
      if (meta.nonEmpty) metadataToNode(v, "metadata", meta)
      // numeric ids mirror into the reserved numeric __gid metadata field:
      // Pinecone cannot filter vector IDS, but /query range-filters numeric
      // metadata — __gid is what the parallel cursor slices address
      // (VSScan.planCursorSlices), stripped back out on read when it
      // matches the id
      r.id.toLongOption.filter(l => l >= 0 && l.toString == r.id).foreach { l =>
        val m = if (v.has("metadata")) v.get("metadata").asInstanceOf[ObjectNode]
          else v.putObject("metadata")
        m.put("__gid", l)
      }
    }
    WireShape("pinecone", "upsert",
      call("POST", s"/vectors/upsert?index=${enc(ix)}", Some(b)))
      .int("upsertedCount")
  }

  override def delete(name: String, ids: Seq[String]): Int = {
    // resolvedFresh like upsert: a stale cached pointer would aim the
    // delete at a retired namespace — a silent no-op that KEEPS the rows
    // the caller asked to remove from the live generation
    val (ix, ns) = resolvedFresh(name)
    val b = obj()
    if (ns.nonEmpty) b.put("namespace", ns)
    val a = b.putArray("ids")
    ids.foreach(a.add)
    call("POST", s"/vectors/delete?index=${enc(ix)}", Some(b))
    ids.length
  }

  override def drop(name: String): Unit = {
    val (ix, ns) = split(name)
    if (ns.isEmpty) { // whole index: gens + meta (and their pointers) go with it
      call("DELETE", s"/indexes/${enc(ix)}")
      invalidateIndexPtrs(ix)
    }
    // staging/meta never have pointers; retiring the marker with the rows
    // makes sweep the explicit ABORT of a stranded generation — a delayed
    // rename of a swept shadow must no-op, not publish emptiness over
    // live data
    else if (isReservedNs(ns)) retireGen(ix, ns)
    else pointerOf(ix, ns) match {
      case Some(p) =>
        // dropping a published logical name retires pointer + generation +
        // any literal rows a crashed retire stranded — Qdrant's
        // drop-alias-and-generation, namespace-shaped. POINTER FIRST: with
        // the pointer still live, a concurrent client's marker-verified
        // resolve would see the half-retired generation as a legacy one
        // and keep routing at it; once the pointer is gone, fresh resolves
        // land on the (empty) literal name. A crash after the pointer
        // delete leaves the generation's rows stranded under a reserved
        // name — exactly what --sweep-staging reaps.
        deletePointer(ix, ns)
        invalidatePtr(ix, ns)
        retireGen(ix, p.target)
        deleteAllNs(ix, ns)
      case None => deleteAllNs(ix, ns)
    }
  }

  override def listCollections(): Seq[String] = {
    val sh = WireShape("pinecone", "indexes", call("GET", "/indexes"))
    val a = sh.arr("indexes")
    (0 until a.size()).flatMap { i =>
      val ix = sh.at(a.get(i), s"indexes[$i]").text("name")
      val s = stats(ix)
      // catalog shows LOGICAL names: the meta namespace and live
      // generations (pointer targets) are engine plumbing — hiding them
      // is what keeps --sweep-staging from ever seeing a published
      // generation as a strandable __staging_ sibling
      val ptrs = listPointers(ix)
      val visible = (s.namespaces.keySet - metaNs -- ptrs.values) ++ ptrs.keySet
      val named = visible.filter(_.nonEmpty).toSeq.sorted.map(ns => s"$ix::$ns")
      val bare = if (visible.contains("") || visible.isEmpty) Seq(ix) else Seq.empty
      bare ++ named
    }
  }
}
