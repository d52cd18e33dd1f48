package graft.connectors.vectorstore

import java.util.concurrent.atomic.AtomicInteger
import graft.SparkSpec
import graft.model.Canonical
import org.apache.spark.sql.functions._

/** The connector stack's runtime FALLBACKS, inventoried and pinned — each
  * is either gated (a spec/oracle proves the degraded path is correct and
  * bounded) or refuses loudly; there is no silent third state:
  *
  *  1. native search declined at runtime → scroll + k-bounded-heap score
  *     (oracle-gated: `q_connector_search` rides it; property-pinned in
  *     [[VectorStoreProps]]).
  *  2. cursor slicing unavailable (no numeric ids / dialect can't slice /
  *     probe gave up) → ONE sequential walk, WARNING on the give-up path
  *     (correctness never depends on slicing — `q_connector_cursor_sliced`
  *     gates the sliced path, plain wire gates the single walk).
  *  3. `countFiltered` default → RAW count, an ESTIMATE for planning only
  *     (VectorStore.scala) — pinned here per shipped transport: the two
  *     backends that PLAN offset ranges from it override it with a real
  *     filtered count; the one that inherits the default is cursor-paged,
  *     so no offset range is ever sized from the estimate, and planning
  *     issues it at most once per pass.
  *  4. trait `rename` → copy-then-drop with a LOUD non-atomic warning
  *     (spec'd in the publish suites).
  *  5. Pinecone filtered-scan truncation (≥cap matches without a `__gid`
  *     mirror) → loud IOException naming the backfill-gid verb, never a
  *     silent subset (spec'd in HttpLoopbackSpec).
  */
class FallbackInventorySpec extends SparkSpec {
  import spark.implicits._

  /** Pass-through decorator counting the calls the planner makes. */
  private class CountingTransport(inner: VectorStoreTransport)
    extends VectorStoreTransport {
    val filteredCountCalls = new AtomicInteger(0) // countFiltered WITH a filter
    val rawCountCalls = new AtomicInteger(0)
    val offsetScrollCalls = new AtomicInteger(0) // integer-offset addressing

    override def createCollection(name: String, config: CollectionConfig,
                                  recreate: Boolean): Unit =
      inner.createCollection(name, config, recreate)
    override def exists(name: String): Boolean = inner.exists(name)
    override def describe(name: String): Option[CollectionConfig] = inner.describe(name)
    override def scroll(name: String, fromIdx: Int, pageSize: Int): Seq[VSRecord] = {
      offsetScrollCalls.incrementAndGet(); inner.scroll(name, fromIdx, pageSize)
    }
    override def cursorPaged: Boolean = inner.cursorPaged
    override def scrollPage(name: String, cursor: Option[String],
                            pageSize: Int): (Seq[VSRecord], Option[String]) =
      inner.scrollPage(name, cursor, pageSize)
    override def scrollFiltered(name: String, fromIdx: Int, pageSize: Int,
                                filter: Option[String]): Seq[VSRecord] = {
      offsetScrollCalls.incrementAndGet()
      inner.scrollFiltered(name, fromIdx, pageSize, filter)
    }
    override def scrollPageFiltered(name: String, cursor: Option[String], pageSize: Int,
                                    filter: Option[String]): (Seq[VSRecord], Option[String]) =
      inner.scrollPageFiltered(name, cursor, pageSize, filter)
    override def serverSideFilters: Boolean = inner.serverSideFilters
    override def supportsNativeSearch(metric: String): Boolean =
      inner.supportsNativeSearch(metric)
    override def supportsSearchFilter: Boolean = inner.supportsSearchFilter
    override def nativeSearch(name: String, sp: SearchSpec,
                              filter: Option[String]): Option[Seq[VSRecord]] =
      inner.nativeSearch(name, sp, filter)
    override def count(name: String): Int = {
      rawCountCalls.incrementAndGet(); inner.count(name)
    }
    override def countFiltered(name: String, filter: Option[String]): Int = {
      if (filter.isDefined) filteredCountCalls.incrementAndGet()
      else rawCountCalls.incrementAndGet()
      inner.countFiltered(name, filter)
    }
    override def upsert(name: String, records: Seq[VSRecord]): Int =
      inner.upsert(name, records)
    override def delete(name: String, ids: Seq[String]): Int = inner.delete(name, ids)
    override def drop(name: String): Unit = inner.drop(name)
    override def listCollections(): Seq[String] = inner.listCollections()
    override def stagingName(target: String): String = inner.stagingName(target)
    override def snapshotName(name: String): String = inner.snapshotName(name)
    override def rename(from: String, to: String): Unit = inner.rename(from, to)
  }

  private def seed(t: VectorStoreTransport, coll: String, n: Int): Unit = {
    t.createCollection(coll, CollectionConfig(dim = 2), recreate = true)
    t.upsert(coll, (0 until n).map(i =>
      VSRecord(s"$i", Array(i.toFloat, 1f), Map("label" -> s"${i % 10}"))))
  }

  test("filtered-count posture per shipped transport: real count or cursor-paged") {
    // Qdrant and Milvus PLAN from the filtered count (offset ranges /
    // slice sizing) and both serve a REAL filtered count on their wires
    val qs = new QdrantWireServer(new InMemoryStore)
    try {
      val t = new QdrantWireTransport(qs.url)
      seed(t, "fc_q", 40)
      assert(t.count("fc_q") == 40)
      assert(t.countFiltered("fc_q",
        Some("""{"must":[{"key":"label","match":{"value":"3"}}]}""")) == 4)
    } finally qs.stop()

    val ms = new MilvusWireServer(new InMemoryStore)
    try {
      val t = new MilvusWireTransport(ms.url)
      seed(t, "fc_m", 40)
      assert(t.count("fc_m") == 40)
      assert(t.countFiltered("fc_m", Some("label == '3'")) == 4)
      assert(!t.cursorPaged, "milvus offset ranges REQUIRE the real filtered count")
    } finally ms.stop()

    // Pinecone's public wire has no count-with-filter verb: it inherits
    // the documented raw-count ESTIMATE — pinned here, together with the
    // property that makes the estimate harmless: the transport is
    // cursor-paged, so the engine NEVER sizes offset ranges from it
    // (planning uses it only for slice balance / probe budget).
    val ps = new PineconeWireServer(new InMemoryStore)
    try {
      val t = new PineconeWireTransport(ps.url)
      seed(t, "fc_p::ns", 40)
      assert(t.count("fc_p::ns") == 40)
      assert(t.countFiltered("fc_p::ns",
        Some("""{"label":{"$eq":"3"}}""")) == 40, "documented estimate = raw count")
      assert(t.cursorPaged,
        "a transport inheriting the countFiltered default MUST NOT be " +
          "offset-planned: either override countFiltered or stay cursor-paged")
    } finally ps.stop()
  }

  test("in-process default (no server filters): planner never asks for a filtered count") {
    val counting = new CountingTransport(new InMemoryStore)
    val prev = VectorStore.use(counting)
    try {
      seed(counting, "fb_local", 60)
      val rows = spark.read.format("graft-qdrant").option("collection", "fb_local").load()
        .filter(element_at(col(Canonical.METADATA), "label") === "3")
        .select(Canonical.ID).as[String].collect().toSeq.sorted
      assert(rows == Seq("13", "23", "3", "33", "43", "53"))
      // serverSideFilters=false → offsets index RAW rows → planning must
      // size from the RAW count; a filtered-count call here would mean the
      // planner trusted a filter the backend never applies
      assert(counting.filteredCountCalls.get() == 0,
        s"planner issued ${counting.filteredCountCalls.get()} filtered-count " +
          "calls against a transport that does not filter server-side")
    } finally VectorStore.use(prev)
  }

  test("pinecone filtered scan: ≤1 filtered-count per plan, zero offset addressing") {
    val server = new PineconeWireServer(new InMemoryStore)
    try {
      val spec = TransportSpec(url = Some(server.url), backend = "pinecone")
      val counting = new CountingTransport(VectorStore.wireClient(spec))
      VectorStore.pin(spec, counting)
      try {
        (0 until 400).map(i =>
          (s"$i", Seq.fill(2)(i.toFloat), Map("label" -> s"${i % 10}")))
          .toDF(Canonical.ID, Canonical.VECTOR, Canonical.METADATA)
          .write.format("graft-pinecone").option("collection", "fb_pine::ns")
          .option("url", server.url).option("recreate", "true")
          .mode("overwrite").save()
        counting.filteredCountCalls.set(0)
        counting.offsetScrollCalls.set(0)
        val rows = spark.read.format("graft-pinecone").option("collection", "fb_pine::ns")
          .option("url", server.url).load()
          .filter(element_at(col(Canonical.METADATA), "label") === "3")
          .select(Canonical.ID).as[String].collect().toSeq
        assert(rows.map(_.toInt).sorted == (3 until 400 by 10).toSeq, s"got $rows")
        // the raw-count ESTIMATE is consulted at most once per planning
        // pass (slice sizing) and NEVER turned into offset ranges — the
        // assertion that keeps a future offset-planned backend from
        // silently riding the default
        assert(counting.filteredCountCalls.get() <= 1,
          s"${counting.filteredCountCalls.get()} filtered-count calls in one scan")
        assert(counting.offsetScrollCalls.get() == 0,
          "cursor-paged transport was addressed by integer offset")
      } finally VectorStore.clearRemotes()
    } finally server.stop()
  }

  test("UNfiltered sliced scan also issues at most one wire count (qdrant)") {
    val server = new QdrantWireServer(new InMemoryStore)
    try {
      val spec = TransportSpec(url = Some(server.url), backend = "qdrant")
      val counting = new CountingTransport(VectorStore.wireClient(spec))
      VectorStore.pin(spec, counting)
      try {
        (0 until 400).map(i => (s"$i", Seq.fill(2)(i.toFloat), Map("k" -> "v")))
          .toDF(Canonical.ID, Canonical.VECTOR, Canonical.METADATA)
          .write.format("graft-qdrant").option("collection", "fb_qun")
          .option("url", server.url).option("recreate", "true")
          .mode("overwrite").save()
        counting.rawCountCalls.set(0)
        counting.filteredCountCalls.set(0)
        val n = spark.read.format("graft-qdrant").option("collection", "fb_qun")
          .option("url", server.url).option("page_size", "50").load()
          .select(Canonical.ID).as[String].collect().length
        assert(n == 400)
        // stats estimate + slice-planning hi-extension share ONE lazy
        // population — the unfiltered branch used to issue a second raw
        // count per scan
        assert(counting.rawCountCalls.get() <= 1,
          s"${counting.rawCountCalls.get()} raw-count calls in one unfiltered scan")
        assert(counting.filteredCountCalls.get() == 0)
      } finally VectorStore.clearRemotes()
    } finally server.stop()
  }

  test("a planned and executed sliced scan sends exactly one probe scroll (qdrant)") {
    val server = new QdrantWireServer(new InMemoryStore)
    try {
      (0 until 400).map(i => (s"$i", Seq.fill(2)(i.toFloat), Map("k" -> "v")))
        .toDF(Canonical.ID, Canonical.VECTOR, Canonical.METADATA)
        .write.format("graft-qdrant").option("collection", "fb_probe")
        .option("url", server.url).option("recreate", "true")
        .mode("overwrite").save()
      val scroll = "POST /collections/fb_probe/points/scroll"
      val mark = server.bodiesOf(scroll).size
      assert(spark.read.format("graft-qdrant").option("collection", "fb_probe")
        .option("url", server.url).option("page_size", "50").load()
        .select(Canonical.ID).as[String].collect().length == 400)
      // the probe is the one scroll without a slice's __gid range; the
      // slice walks each carry one. Spark asks for the scan's partitions
      // once per copy of its BatchScanExec (2 probe scrolls when each ask
      // planned anew).
      val (sliced, probes) = server.bodiesOf(scroll).drop(mark).partition(_.contains("__gid"))
      assert(sliced.nonEmpty, "the scan was not sliced")
      assert(probes.size == 1, s"${probes.size} probe scrolls: $probes")
    } finally server.stop()
  }

  test("cursor slices follow the probe's id spacing: a filter keeping every other id") {
    // ids 0..1999, the filter keeps the even ones: 1,000 rows over an id
    // range of 2,000. Sized for dense ids, the split points cover only
    // 0..1000 and the last slice holds 562 rows (three 256-row pages);
    // sized at the probe page's spacing of 2, each slice fits one page.
    val server = new QdrantWireServer(new InMemoryStore)
    try {
      // seeded in id order through the wire client (which adds the __gid
      // mirror the slices range-filter): the scroll is id-ordered, as
      // Qdrant's is
      val t = new QdrantWireTransport(server.url)
      t.createCollection("fb_thin", CollectionConfig(dim = 2), recreate = true)
      t.upsert("fb_thin", (0 until 2000).map(i =>
        VSRecord(s"$i", Array(i.toFloat, 1f), Map("parity" -> s"${i % 2}"))))
      val scroll = "POST /collections/fb_thin/points/scroll"
      val mark = server.bodiesOf(scroll).size
      val ids = spark.read.format("graft-qdrant").option("collection", "fb_thin")
        .option("url", server.url).option("page_size", "256")
        .option("cursor_parallelism", "8").load()
        .filter(element_at(col(Canonical.METADATA), "parity") === "0")
        .select(Canonical.ID).as[String].collect().map(_.toInt).sorted.toSeq
      assert(ids == (0 until 2000 by 2))
      // one slice = one filter; each page of its walk is one scroll
      val pagesPerSlice = server.bodiesOf(scroll).drop(mark).filter(_.contains("__gid"))
        .groupBy(b => WireJson.mapper.readTree(b).get("filter").toString)
        .values.map(_.size).toSeq
      assert(pagesPerSlice.size >= 8, s"${pagesPerSlice.size} slices")
      assert(pagesPerSlice.max == 1, s"pages per slice: $pagesPerSlice")
    } finally server.stop()
  }
}
