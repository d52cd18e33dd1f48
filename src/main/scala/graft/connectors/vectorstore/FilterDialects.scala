package graft.connectors.vectorstore

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import scala.jdk.CollectionConverters._

/** Backend filter dialects, both directions:
  *
  *  - `parseFilter`: backend-native filter (config `query.filter`, or the
  *    filter of a wire request) → DSv2 [[Filter]]. This is the dialect's
  *    ONE grammar. The client turns its result into a Spark Column
  *    (`parse`), replacing the reference's pass-the-string-through model
  *    (`adapters/pgvector.py:99`, `adapters/qdrant.py:105`,
  *    `adapters/milvus.py:102`) with a parsed, optimizable predicate; the
  *    loopback servers evaluate it with [[FilterEval]], so the emulated
  *    backend and the engine can never disagree about what a filter
  *    matches. Anything outside the grammar raises IllegalArgumentException
  *    — a filter silently ignored would return unfiltered rows.
  *  - `render`: Catalyst pushdown [[Filter]]s → backend filter syntax, the
  *    DSv2 `SupportsPushDownFilters` side the reference never had.
  *
  * Predicates reference the canonical columns: `id`, or `metadata.<key>`
  * (rendered per backend's addressing: payload keys for Qdrant, scalar
  * fields for Milvus, SQL columns for pgvector). Parsed filters address a
  * metadata key by its bare name, which every consumer resolves the same
  * way ([[DialectUtil.attr]], [[FilterEval]]).
  */
trait FilterDialect extends Serializable {
  def name: String
  /** Backend-native filter string → DSv2 Filter over id/metadata keys. */
  def parseFilter(filter: String): Filter
  /** Backend-native filter string → Spark Column over canonical schema. */
  final def parse(filter: String): Column = DialectUtil.column(parseFilter(filter))
  /** Catalyst pushdown filter → backend-native syntax; None = unsupported
    * (Spark re-applies it post-scan — an upgrade on the reference, which
    * cannot evaluate anything engine-side). */
  def render(f: Filter): Option[String]

  /** The attribute the engine's parallel cursor slices may range-filter to
    * address a record's numeric identity server-side, or None when the
    * backend has no such face (metadata-only filter languages, or APIs
    * that cannot range-filter any id-valued field). Qdrant cannot filter
    * POINT ids by range, so its writer mirrors numeric ids into the
    * reserved `__gid` numeric payload field and slices address that —
    * real payload range filters, wire-honest end to end. */
  def idSliceAttribute: Option[String] = None

  /** AND-combine several rendered filters into ONE backend predicate —
    * what actually travels on the wire (scroll/search filter body).
    * Default joins with the expression languages' `AND`; the Qdrant
    * dialect overrides with a `must` clause list. */
  def combine(rendered: Seq[String]): Option[String] =
    rendered.reduceOption((a, b) => s"($a) AND ($b)")
}

private object DialectUtil {
  import graft.model.Canonical

  private val MetaPrefix = Canonical.METADATA + "."

  def mapper = WireJson.mapper

  def raise(msg: String): Nothing = throw new IllegalArgumentException(msg)

  /** Backend filter languages can address the id or a metadata KEY — not
    * the bare map/vector columns. Renderers must refuse anything else
    * (e.g. Spark's inferred `IsNotNull(metadata)` on the map column),
    * otherwise the reader would treat "metadata" as a key lookup and
    * filter every record out. */
  def addressable(name: String): Boolean =
    name == Canonical.ID || name.startsWith(MetaPrefix)

  /** The bare canonical map/vector columns, which no backend filter
    * language can address — shared with [[SqlWhereDialect.sqlAddressable]]
    * so the two guards cannot desynchronize under a canonical rename. */
  def bareCanonical(name: String): Boolean =
    name == Canonical.METADATA || name == Canonical.VECTOR

  /** Canonical column for an attribute name: `id` stays, anything else is a
    * metadata key lookup. */
  def attr(name: String): Column =
    if (name == Canonical.ID) col(Canonical.ID)
    else element_at(col(Canonical.METADATA), stripMeta(name))

  def stripMeta(name: String): String =
    if (name.startsWith(MetaPrefix)) name.substring(MetaPrefix.length) else name

  def litStr(v: Any): String = v match {
    case s: String => s"'${s.replace("'", "''")}'"
    case other => String.valueOf(other)
  }

  /** JSON string escape — rendered filters TRAVEL as parsed scroll/search/
    * query bodies, so values and keys must survive `mapper.readTree`
    * (quotes, backslashes, control chars). */
  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def jkey(a: String): String = jstr(stripMeta(a))

  /** A JSON filter scalar as the parsers type it: a number compares as a
    * double, a string or boolean as text. None for an array, object or
    * null, which `asText()` would silently turn into "" (matching nothing)
    * — callers raise instead. */
  def jsonScalar(v: JsonNode): Option[Any] =
    if (v.isNumber) Some(v.asDouble())
    else if (v.isTextual || v.isBoolean) Some(v.asText())
    else None

  /** Metadata values are strings in canonical shape; compare numerically
    * when the literal is numeric. */
  def cmp(name: String, v: Any): (Column, Column) = v match {
    case n: Number => (attr(name).cast("double"), lit(n.doubleValue()))
    case other => (attr(name), lit(String.valueOf(other)))
  }

  /** The one Filter → Column translation behind every dialect's `parse`.
    * `In` keeps the `isInCollection` shape; a list mixing numbers and
    * strings matches either way, each value typed as [[FilterEval]] types
    * it. */
  def column(f: Filter): Column = {
    def bin(a: String, v: Any)(op: (Column, Column) => Column): Column = {
      val (c, l) = cmp(a, v)
      op(c, l)
    }
    f match {
      case EqualTo(a, v) => bin(a, v)(_ === _)
      case GreaterThan(a, v) => bin(a, v)(_ > _)
      case GreaterThanOrEqual(a, v) => bin(a, v)(_ >= _)
      case LessThan(a, v) => bin(a, v)(_ < _)
      case LessThanOrEqual(a, v) => bin(a, v)(_ <= _)
      case In(a, vs) =>
        val (nums, strs) = vs.toSeq.partition(_.isInstanceOf[Number])
        lazy val numIn = attr(a).cast("double")
          .isInCollection(nums.map(_.asInstanceOf[Number].doubleValue()))
        lazy val strIn = attr(a).isInCollection(strs.map(String.valueOf))
        if (nums.isEmpty) strIn else if (strs.isEmpty) numIn else strIn || numIn
      case IsNull(a) => attr(a).isNull
      case IsNotNull(a) => attr(a).isNotNull
      case StringStartsWith(a, p) => attr(a).startsWith(p)
      case StringEndsWith(a, p) => attr(a).endsWith(p)
      case StringContains(a, p) => attr(a).contains(p)
      case And(l, r) => column(l) && column(r)
      case Or(l, r) => column(l) || column(r)
      case Not(c) => !column(c)
      case _: AlwaysTrue => lit(true)
      case other => raise(s"no Column form for filter: $other")
    }
  }
}

/** SQL WHERE rendering (pgvector): metadata keys are SQL columns there. A
  * user's pgvector filter is already a SQL boolean expression, so there is
  * nothing to parse — this dialect only renders pushdown filters. */
class SqlWhereDialect extends Serializable {
  import DialectUtil._
  def name: String = "sql"

  /** SQL-land addressability: unlike the structured dialects, metadata
    * keys here are real SQL COLUMNS (the pgvector model), so any bare
    * column name is addressable — EXCEPT the canonical map/vector columns
    * themselves. Spark infers `IsNotNull(metadata)` on the map column,
    * and rendering it as a column reference would scan a column that
    * does not exist backend-side (the silent zero-row mode the three
    * structured dialects guard with [[DialectUtil.addressable]]). */
  private def sqlAddressable(name: String): Boolean = !bareCanonical(name)

  def render(f: Filter): Option[String] = f match {
    case EqualTo(a, v) if sqlAddressable(a) => Some(s"${stripMeta(a)} = ${litStr(v)}")
    case GreaterThan(a, v) if sqlAddressable(a) => Some(s"${stripMeta(a)} > ${litStr(v)}")
    case GreaterThanOrEqual(a, v) if sqlAddressable(a) => Some(s"${stripMeta(a)} >= ${litStr(v)}")
    case LessThan(a, v) if sqlAddressable(a) => Some(s"${stripMeta(a)} < ${litStr(v)}")
    case LessThanOrEqual(a, v) if sqlAddressable(a) => Some(s"${stripMeta(a)} <= ${litStr(v)}")
    case In(a, vs) if sqlAddressable(a) => Some(s"${stripMeta(a)} IN (${vs.map(litStr).mkString(", ")})")
    case IsNull(a) if sqlAddressable(a) => Some(s"${stripMeta(a)} IS NULL")
    case IsNotNull(a) if sqlAddressable(a) => Some(s"${stripMeta(a)} IS NOT NULL")
    case StringStartsWith(a, p) if sqlAddressable(a) => Some(s"${stripMeta(a)} LIKE ${litStr(p + "%")}")
    case And(l, r) => for { ls <- render(l); rs <- render(r) } yield s"($ls AND $rs)"
    case Or(l, r) => for { ls <- render(l); rs <- render(r) } yield s"($ls OR $rs)"
    case Not(c) => render(c).map(s => s"NOT ($s)")
    case _ => None
  }
}

/** Qdrant structured-filter dialect: JSON `{"must":[{"key":k,"match":
  * {"value":v}}], "should":[...], "must_not":[...]}` with `match`/`range`
  * conditions — the shape the reference forwards verbatim
  * (`adapters/qdrant.py:84,105`; example in
  * `examples/qdrant_to_pgvector_config.json`). */
class QdrantFilterDialect extends FilterDialect {
  import DialectUtil._
  override def name: String = "qdrant"

  /** Cursor slices range-filter the reserved numeric `__gid` payload field
    * the Qdrant writer mirrors numeric ids into ([[QdrantWireTransport
    * .upsert]]) — real Qdrant evaluates numeric payload ranges, point-id
    * ranges do not exist on its wire. */
  override def idSliceAttribute: Option[String] = Some("metadata.__gid")

  /** Each rendered filter is already a complete clause object, so the AND
    * of several is a `must` list of them. */
  override def combine(rendered: Seq[String]): Option[String] =
    if (rendered.length <= 1) rendered.headOption
    else Some(rendered.mkString("""{"must":[""", ",", "]}"))

  // ------------------------------------------------------------- parse

  override def parseFilter(filter: String): Filter = parseFilter(mapper.readTree(filter))

  /** Entry for an already-parsed request body (the loopback server's). */
  def parseFilter(node: JsonNode): Filter = clauseList(node)

  /** Clause lists must BE lists: Jackson's `elements()` on a scalar is
    * empty, so `{"must": "lang=en"}` (a malformed hand-written filter)
    * would silently parse as NO constraints — a subset migration quietly
    * copying the whole collection. Real Qdrant 400s on the shape. */
  private def jarr(n: JsonNode, what: String): Seq[JsonNode] = {
    if (!n.isArray) raise(s"qdrant filter: '$what' must be an array, got: $n")
    n.elements().asScala.toSeq
  }

  private def clauseList(n: JsonNode): Filter = {
    if (!n.isObject) raise(s"qdrant filter must be an object, got: $n")
    def conds(key: String): Seq[Filter] =
      Option(n.get(key)).map(v => jarr(v, key).map(cond)).getOrElse(Nil)
    Seq(conds("must").reduceOption(And(_, _)),
      conds("should").reduceOption(Or(_, _)),
      conds("must_not").reduceOption(Or(_, _)).map(Not(_)))
      .flatten.reduceOption(And(_, _)).getOrElse(AlwaysTrue)
  }

  /** `{"is_null": {"key": k}}`-shaped conditions, loudly: a scalar or
    * key-less body (`{"is_null": "x"}` — the hand-written-config typo)
    * must raise the same parse error as the sibling branches, never NPE. */
  private def keyOf(c: JsonNode, cond: String): String =
    Option(c.get(cond)).flatMap(n => Option(n.get("key"))).filterNot(_.isNull)
      .map(_.asText()).getOrElse(raise(s"""qdrant $cond condition needs {"key": ...}: $c"""))

  private def scalar(key: String, v: JsonNode): Any = jsonScalar(v).getOrElse(
    raise(s"qdrant match value for '$key' must be a string/number/boolean, got: $v"))

  private def cond(c: JsonNode): Filter = {
    if (c.has("must") || c.has("should") || c.has("must_not")) return clauseList(c)
    if (c.has("is_null")) return IsNull(keyOf(c, "is_null"))
    if (c.has("is_empty")) return IsNull(keyOf(c, "is_empty"))
    if (c.has("has_id")) // documented point-id membership condition
      return In("id", jarr(c.get("has_id"), "has_id").map(v => v.asText(): Any).toArray)
    val key = Option(c.get("key")).map(_.asText())
      .getOrElse(raise(s"qdrant condition missing key: $c"))
    if (c.has("match")) {
      val m = c.get("match")
      if (m.has("any")) In(key, jarr(m.get("any"), "match.any").map(scalar(key, _)).toArray)
      else EqualTo(key, scalar(key, Option(m.get("value")).orElse(Option(m.get("text")))
        .filterNot(_.isNull)
        .getOrElse(raise(s"qdrant match condition needs value/text/any: $c"))))
    } else if (c.has("range")) {
      // a bound must be a number: Jackson's asDouble() turns a string (an
      // RFC 3339 datetime, "abc") into 0.0 — a silent `>= 0`
      val r = c.get("range")
      Seq[(String, Double => Filter)]("gt" -> (GreaterThan(key, _)),
        "gte" -> (GreaterThanOrEqual(key, _)), "lt" -> (LessThan(key, _)),
        "lte" -> (LessThanOrEqual(key, _)))
        .flatMap { case (k, op) => Option(r.get(k)).map { v =>
          if (!v.isNumber) raise(s"qdrant range '$k' for '$key' needs a number, got: $v")
          op(v.asDouble())
        } }
        .reduceOption(And(_, _)).getOrElse(AlwaysTrue)
    } else raise(s"unsupported qdrant condition: $c")
  }

  // ------------------------------------------------------------ render

  /** Point-id literal for a `has_id` list: canonical uints ride as JSON
    * numbers, everything else as strings — the same round-trip rule as
    * the wire client's point ids. */
  private def idVal(v: Any): String = {
    val s = String.valueOf(v)
    s.toLongOption.filter(l => l >= 0 && l.toString == s)
      .map(_.toString).getOrElse(jstr(s))
  }

  override def render(f: Filter): Option[String] = f match {
    case _ if f.references.exists(!addressable(_)) => None
    // Point ids are NOT payload: real Qdrant addresses them only through
    // the documented has_id condition (equality/membership). Id RANGES do
    // not exist on its wire (the parallel cursor slices use the __gid
    // payload mirror instead), and is_null on a missing payload key
    // MATCHES in real Qdrant — so a pushed IsNotNull(id) rendered as
    // must_not(is_null) would return ZERO rows on a real cluster. All
    // such shapes return None and Spark evaluates them client-side.
    case EqualTo("id", v) =>
      Some(s"""{"must":[{"has_id":[${idVal(v)}]}]}""")
    case In("id", vs) if vs.nonEmpty =>
      Some(s"""{"must":[{"has_id":[${vs.map(idVal).mkString(",")}]}]}""")
    case GreaterThan("id", _) | GreaterThanOrEqual("id", _) |
         LessThan("id", _) | LessThanOrEqual("id", _) |
         IsNull("id") | IsNotNull("id") => None
    case EqualTo(a, v: String) =>
      Some(s"""{"must":[{"key":${jkey(a)},"match":{"value":${jstr(v)}}}]}""")
    case EqualTo(a, v: Number) =>
      Some(s"""{"must":[{"key":${jkey(a)},"match":{"value":$v}}]}""")
    case GreaterThan(a, v: Number) =>
      Some(s"""{"must":[{"key":${jkey(a)},"range":{"gt":$v}}]}""")
    case GreaterThanOrEqual(a, v: Number) =>
      Some(s"""{"must":[{"key":${jkey(a)},"range":{"gte":$v}}]}""")
    case LessThan(a, v: Number) =>
      Some(s"""{"must":[{"key":${jkey(a)},"range":{"lt":$v}}]}""")
    case LessThanOrEqual(a, v: Number) =>
      Some(s"""{"must":[{"key":${jkey(a)},"range":{"lte":$v}}]}""")
    case In(a, vs) if vs.nonEmpty =>
      val rendered = vs.map {
        case s: String => jstr(s)
        case other => String.valueOf(other)
      }.mkString(",")
      Some(s"""{"must":[{"key":${jkey(a)},"match":{"any":[$rendered]}}]}""")
    case IsNull(a) =>
      Some(s"""{"must":[{"is_null":{"key":${jkey(a)}}}]}""")
    case IsNotNull(a) =>
      Some(s"""{"must_not":[{"is_null":{"key":${jkey(a)}}}]}""")
    case And(l, r) => for { ls <- render(l); rs <- render(r) } yield
      s"""{"must":[$ls,$rs]}"""
    case Or(l, r) => for { ls <- render(l); rs <- render(r) } yield
      s"""{"should":[$ls,$rs]}"""
    case Not(c) => render(c).map(s => s"""{"must_not":[$s]}""")
    case _ => None
  }
}

/** Pinecone metadata-filter dialect: the Mongo-style JSON of the public
  * query API — `{"genre": {"$eq": "drama"}}`, `{"$and": [...]}`, with
  * `$eq/$ne/$gt/$gte/$lt/$lte/$in/$nin/$exists` operators. Filters address
  * METADATA ONLY (vector ids are not filterable on Pinecone's wire, so
  * id predicates return None and Spark evaluates them client-side).
  *
  * Emulation notes: `$ne`/`$nin` here require the key to be present
  * (missing-key records do not match — hence the IsNotNull conjunct the
  * parser adds, without which [[FilterEval]]'s two-valued `Not` would
  * match them), and `$exists: false` matches only missing keys — a record
  * whose key holds a non-numeric value where a numeric range is expected
  * simply fails the range, like the real service's typed metadata. */
class PineconeFilterDialect extends FilterDialect {
  import DialectUtil._
  override def name: String = "pinecone"

  /** Parallel cursor slices range-filter the reserved numeric `__gid`
    * metadata field the Pinecone writer mirrors numeric ids into
    * ([[PineconeWireTransport.upsert]]) — Pinecone's `/query` evaluates
    * numeric metadata `$gte`/`$lt` natively; vector ids are not
    * range-addressable on its wire. */
  override def idSliceAttribute: Option[String] = Some("metadata.__gid")

  override def combine(rendered: Seq[String]): Option[String] =
    if (rendered.length <= 1) rendered.headOption
    else Some(rendered.mkString("""{"$and":[""", ",", "]}"))

  // ------------------------------------------------------------- parse

  override def parseFilter(filter: String): Filter = parseFilter(mapper.readTree(filter))

  /** Entry for an already-parsed request body (the loopback server's). */
  def parseFilter(n: JsonNode): Filter = {
    if (!n.isObject) raise(s"pinecone filter must be an object, got: $n")
    n.properties().iterator().asScala.map { e =>
      (e.getKey, e.getValue) match {
        case ("$and", arr) => list(arr, "$and").reduce(And(_, _))
        case ("$or", arr) => list(arr, "$or").reduce(Or(_, _))
        case (key, v) if v.isObject => ops(key, v)
        case (key, v) => EqualTo(key, prim(key, "$eq", v)) // implicit $eq shorthand
      }
    }.reduceOption(And(_, _)).getOrElse(AlwaysTrue)
  }

  private def list(arr: JsonNode, op: String): Iterator[Filter] = {
    if (!arr.isArray || arr.isEmpty)
      raise(s"pinecone filter: '$op' needs a non-empty array, got: $arr")
    arr.elements().asScala.map(parseFilter)
  }

  /** Every operator validates its value SHAPE — a structured value
    * silently coerced via asText() would compare against "" and match
    * nothing (or nearly everything under $ne): the zero-row/all-rows
    * failure must be a parse error, not a quiet result. A config carrying
    * the OLD Qdrant-style filter shape fails here too. */
  private def prim(key: String, op: String, v: JsonNode): Any = jsonScalar(v).getOrElse(
    raise(s"pinecone filter value for '$key'.$op must be a string/number/boolean, " +
      s"got: $v (Qdrant-style structured filters are not valid Pinecone filters — " +
      "use the Mongo-style operators)"))

  private def ops(key: String, ops: JsonNode): Filter =
    ops.properties().iterator().asScala.map { e =>
      val (op, v) = (e.getKey, e.getValue)
      def num: Double =
        if (v.isNumber) v.asDouble()
        else raise(s"pinecone filter '$key'.$op needs a numeric value, got: $v")
      def vals: Array[Any] =
        if (v.isArray) v.elements().asScala.map(prim(key, op, _)).toArray
        else raise(s"pinecone filter '$key'.$op needs an array value, got: $v")
      op match {
        case "$eq" => EqualTo(key, prim(key, op, v))
        case "$ne" => And(IsNotNull(key), Not(EqualTo(key, prim(key, op, v))))
        case "$gt" => GreaterThan(key, num)
        case "$gte" => GreaterThanOrEqual(key, num)
        case "$lt" => LessThan(key, num)
        case "$lte" => LessThanOrEqual(key, num)
        case "$in" => In(key, vals)
        case "$nin" => And(IsNotNull(key), Not(In(key, vals)))
        case "$exists" =>
          // asBoolean() reads "yes" as false — IsNull, the opposite intent
          if (!v.isBoolean) raise(s"pinecone filter '$key'.$op needs a boolean, got: $v")
          if (v.asBoolean()) IsNotNull(key) else IsNull(key)
        case other => raise(s"unsupported pinecone filter operator: $other")
      }
    }.reduceOption(And(_, _)).getOrElse(raise(s"empty operator object for key $key"))

  // ------------------------------------------------------------ render

  private def jval(v: Any): String = v match {
    case n: Number => String.valueOf(n)
    case other => jstr(String.valueOf(other))
  }

  override def render(f: Filter): Option[String] = f match {
    case _ if f.references.exists(a => !addressable(a) || a == "id") => None
    case EqualTo(a, v) => Some(s"""{${jkey(a)}:{"$$eq":${jval(v)}}}""")
    case GreaterThan(a, v: Number) => Some(s"""{${jkey(a)}:{"$$gt":$v}}""")
    case GreaterThanOrEqual(a, v: Number) => Some(s"""{${jkey(a)}:{"$$gte":$v}}""")
    case LessThan(a, v: Number) => Some(s"""{${jkey(a)}:{"$$lt":$v}}""")
    case LessThanOrEqual(a, v: Number) => Some(s"""{${jkey(a)}:{"$$lte":$v}}""")
    case In(a, vs) if vs.nonEmpty =>
      Some(s"""{${jkey(a)}:{"$$in":[${vs.map(jval).mkString(",")}]}}""")
    // the cursor planner's catch-all `NOT(a < x OR a >= y)` is true exactly
    // when `a` is missing/non-numeric — Pinecone's `$exists: false`
    case Not(Or(LessThan(a1, _), GreaterThanOrEqual(a2, _))) if a1 == a2 =>
      Some(s"""{${jkey(a1)}:{"$$exists":false}}""")
    case Not(EqualTo(a, v)) => Some(s"""{${jkey(a)}:{"$$ne":${jval(v)}}}""")
    case Not(In(a, vs)) if vs.nonEmpty =>
      Some(s"""{${jkey(a)}:{"$$nin":[${vs.map(jval).mkString(",")}]}}""")
    case And(l, r) => for { ls <- render(l); rs <- render(r) } yield
      s"""{"$$and":[$ls,$rs]}"""
    case Or(l, r) => for { ls <- render(l); rs <- render(r) } yield
      s"""{"$$or":[$ls,$rs]}"""
    case _ => None // $exists cannot express IsNull-on-present-key; no $not
  }
}

/** Milvus boolean-expression dialect: `field == value && other > 3`
  * (`adapters/milvus.py:101-111`). Recursive-descent parser for the
  * documented grammar subset: comparisons, `in`, `like`, `&&`/`and`,
  * `||`/`or`, `!`/`not`, parens. */
class MilvusExprDialect extends FilterDialect {
  import DialectUtil._
  override def name: String = "milvus"

  override def combine(rendered: Seq[String]): Option[String] =
    rendered.reduceOption((a, b) => s"($a && $b)")

  override def parseFilter(filter: String): Filter = new MilvusExprParser(filter).parse()

  override def render(f: Filter): Option[String] = f match {
    case _ if f.references.exists(!addressable(_)) => None
    case EqualTo(a, v) => Some(s"${stripMeta(a)} == ${litStr(v)}")
    case GreaterThan(a, v) => Some(s"${stripMeta(a)} > ${litStr(v)}")
    case GreaterThanOrEqual(a, v) => Some(s"${stripMeta(a)} >= ${litStr(v)}")
    case LessThan(a, v) => Some(s"${stripMeta(a)} < ${litStr(v)}")
    case LessThanOrEqual(a, v) => Some(s"${stripMeta(a)} <= ${litStr(v)}")
    case In(a, vs) => Some(s"${stripMeta(a)} in [${vs.map(litStr).mkString(", ")}]")
    case And(l, r) => for { ls <- render(l); rs <- render(r) } yield s"($ls && $rs)"
    case Or(l, r) => for { ls <- render(l); rs <- render(r) } yield s"($ls || $rs)"
    case Not(c) => render(c).map(s => s"!($s)")
    case _ => None
  }
}

/** Recursive-descent parser over the Milvus expression grammar. */
private class MilvusExprParser(input: String) {
  import DialectUtil.raise
  private var pos = 0

  def parse(): Filter = {
    val f = parseOr()
    skipWs()
    if (pos < input.length) raise(s"trailing input at $pos in: $input")
    f
  }

  private def skipWs(): Unit = while (pos < input.length && input(pos).isWhitespace) pos += 1

  private def peekWord(w: String): Boolean = {
    skipWs()
    // boundary must match the IDENTIFIER charset ('_' and '.' included):
    // a field named not_spam must not tokenize as `not` + `_spam`
    def identChar(c: Char) = c.isLetterOrDigit || c == '_' || c == '.'
    input.regionMatches(true, pos, w, 0, w.length) &&
      (pos + w.length >= input.length || !identChar(input(pos + w.length)))
  }

  private def eat(s: String): Boolean = {
    skipWs()
    if (input.regionMatches(true, pos, s, 0, s.length)) { pos += s.length; true } else false
  }

  private def eatWord(w: String): Boolean = peekWord(w) && eat(w)

  private def parseOr(): Filter = {
    var l = parseAnd()
    while (eat("||") || eatWord("or")) l = Or(l, parseAnd())
    l
  }

  private def parseAnd(): Filter = {
    var l = parseNot()
    while (eat("&&") || eatWord("and")) l = And(l, parseNot())
    l
  }

  private def parseNot(): Filter = {
    skipWs()
    if (eatWord("not")) Not(parseNot())
    else if (pos < input.length && input(pos) == '!' &&
      (pos + 1 >= input.length || input(pos + 1) != '=')) { pos += 1; Not(parseNot()) }
    else parsePrimary()
  }

  private def parsePrimary(): Filter = {
    if (eat("(")) {
      val f = parseOr()
      if (!eat(")")) raise(s"expected ) at $pos: $input")
      return f
    }
    val field = parseIdent()
    if (eatWord("in")) {
      if (!eat("[")) raise(s"expected [ at $pos: $input")
      val vals = scala.collection.mutable.ArrayBuffer.empty[Any]
      while (!eat("]")) {
        if (vals.nonEmpty && !eat(",")) raise(s"expected , at $pos: $input")
        vals += parseLiteral()
      }
      In(field, vals.toArray)
    } else if (eatWord("like")) parseLiteral() match {
      case p: String => like(field, p)
      case v => raise(s"like needs a string pattern, got $v in: $input")
    } else {
      val op = Seq("==", "!=", ">=", "<=", ">", "<").find(eat)
        .getOrElse(raise(s"expected operator at $pos: $input"))
      val v = parseLiteral()
      op match {
        case "==" => EqualTo(field, v)
        case "!=" => Not(EqualTo(field, v))
        case ">" => GreaterThan(field, v)
        case ">=" => GreaterThanOrEqual(field, v)
        case "<" => LessThan(field, v)
        case "<=" => LessThanOrEqual(field, v)
      }
    }
  }

  /** The `like` patterns the Filter algebra states exactly — prefix `p%`,
    * suffix `%s`, infix `%s%`, and a wildcard-free literal. Anything else
    * (an inner `%`, the `_` single-char wildcard, a `\` escape) raises
    * rather than match by a rule the servers would not share. */
  private def like(field: String, p: String): Filter = {
    val lead = p.startsWith("%")
    val trail = p.length > (if (lead) 1 else 0) && p.endsWith("%")
    val body = p.substring(if (lead) 1 else 0, p.length - (if (trail) 1 else 0))
    if (body.exists("%_\\".contains(_))) raise(s"unsupported like pattern '$p' in: $input")
    (lead, trail) match {
      case (false, false) => EqualTo(field, body)
      case (false, true) => StringStartsWith(field, body)
      case (true, false) => StringEndsWith(field, body)
      case (true, true) => StringContains(field, body)
    }
  }

  private def parseIdent(): String = {
    skipWs()
    val start = pos
    while (pos < input.length &&
      (input(pos).isLetterOrDigit || input(pos) == '_' || input(pos) == '.')) pos += 1
    if (pos == start) raise(s"expected identifier at $start: $input")
    input.substring(start, pos)
  }

  private def parseLiteral(): Any = {
    skipWs()
    if (pos < input.length && (input(pos) == '\'' || input(pos) == '"')) {
      val quote = input(pos); pos += 1
      val sb = new StringBuilder
      var closed = false
      while (!closed && pos < input.length) {
        if (input(pos) == quote) {
          // '' escapes a quote inside single-quoted strings (litStr's form)
          if (quote == '\'' && pos + 1 < input.length && input(pos + 1) == '\'') {
            sb.append('\''); pos += 2
          } else { pos += 1; closed = true }
        } else { sb.append(input(pos)); pos += 1 }
      }
      if (!closed) raise(s"unterminated string: $input")
      sb.toString
    } else {
      val start = pos
      while (pos < input.length && (input(pos).isDigit || "+-.eE".contains(input(pos)))) pos += 1
      if (pos == start) raise(s"expected literal at $start: $input")
      val s = input.substring(start, pos)
      s.toDoubleOption.getOrElse(raise(s"bad number '$s' in: $input"))
    }
  }
}
