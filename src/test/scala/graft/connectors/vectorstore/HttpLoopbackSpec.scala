package graft.connectors.vectorstore

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.model.Canonical

/** The transport seam crossed for real: a backend-shaped loopback server
  * fronts the store, and the DSv2 scan/write and [[RetryingTransport]]
  * drive it through actual sockets with the backend's own JSON dialect.
  * Each case runs on the server whose wire semantics it needs: Milvus for
  * offset-range scans and base64 binary vectors, Qdrant for the error and
  * retry contract (404 vs 503 vs 429), the transport verbs, delete-by-id
  * and CDC application. */
class HttpLoopbackSpec extends SparkSpec {
  import spark.implicits._

  /** Install `client` (retry-wrapped when `retries > 1`) as the process
    * default transport for the body; stop the server afterwards. */
  private def serve[S <: WireServer, T <: VectorStoreTransport, A](server: S, client: T,
      retries: Int)(f: (S, T) => A): A = {
    val prev = VectorStore.use(
      if (retries > 1) RetryingTransport(client, maxAttempts = retries, backoffMs = 1L)
      else client)
    try f(server, client)
    finally { VectorStore.use(prev); server.stop() }
  }

  private def withQdrant[A](failEveryNth: Int = 0, retries: Int = 1)
                           (f: (QdrantWireServer, QdrantWireTransport) => A): A = {
    val server = new QdrantWireServer(InMemoryTransport)
    server.injectEveryNth = failEveryNth
    serve(server, new QdrantWireTransport(server.url), retries)(f)
  }

  private def withMilvus[A](f: (MilvusWireServer, MilvusWireTransport) => A): A = {
    val server = new MilvusWireServer(InMemoryTransport)
    serve(server, new MilvusWireTransport(server.url), retries = 1)(f)
  }

  private def canonDf(n: Int) = {
    val rows = (0 until n).map(i =>
      (s"$i", Seq(i.toFloat, 0.1f * i, -1e-8f * i), Map("cat" -> s"c${i % 3}")))
    rows.toDF(Canonical.ID, Canonical.VECTOR, Canonical.METADATA)
  }

  test("DSv2 write + paged scan round trip over a real localhost socket") {
    withMilvus { (server, _) =>
      canonDf(2500).write.format("graft-milvus")
        .option("collection", "http_rt").option("recreate", "true")
        .option("batch_size", "250").mode("overwrite").save()
      val before = server.requests
      val back = spark.read.format("graft-milvus").option("collection", "http_rt")
        .option("page_size", "500").load()
      assert(back.count() == 2500)
      assert(back.rdd.getNumPartitions == 5) // one offset range per page
      // values survive JSON: shortest-decimal float round trip is exact
      val r = back.filter(col(Canonical.ID) === "7")
        .select(Canonical.VECTOR, Canonical.METADATA)
        .as[(Seq[Float], Map[String, String])].head()
      assert(r._1 == Seq(7f, 0.7f, -7e-8f) && r._2 == Map("cat" -> "c1"))
      assert(server.requests > before) // the scan really crossed the wire
    }
  }

  test("binary vectors travel base64 over the wire bit-for-bit") {
    withMilvus { (_, _) =>
      val bytes = Array[Byte](0, 1, -1, 127, -128, 42)
      Seq(("b1", bytes, Map.empty[String, String]))
        .toDF(Canonical.ID, Canonical.VECTOR, Canonical.METADATA)
        .write.format("graft-milvus").option("collection", "http_bin")
        .option("vector_type", "BINARY_VECTOR").option("distance", "Hamming")
        .option("recreate", "true").mode("overwrite").save()
      val got = spark.read.format("graft-milvus").option("collection", "http_bin").load()
        .select(Canonical.VECTOR).as[Array[Byte]].head()
      assert(java.util.Arrays.equals(got, bytes))
      assert(VectorStore.config("http_bin").exists(_.vectorType == VectorTypes.Binary))
    }
  }

  test("RetryingTransport rides through injected 503s with backoff") {
    // every 5th request answers 503 before touching the store; with 3
    // attempts per call the write+scan must still complete exactly
    withQdrant(failEveryNth = 5, retries = 3) { (server, _) =>
      canonDf(400).write.format("graft-qdrant")
        .option("collection", "http_flaky").option("recreate", "true")
        .option("batch_size", "50").mode("overwrite").save()
      val n = spark.read.format("graft-qdrant").option("collection", "http_flaky")
        .option("page_size", "100").load().count()
      assert(n == 400)
      assert(server.requests >= 5) // enough traffic that faults were injected
    }
  }

  test("injected 429s: Retry-After honored end-to-end over the socket") {
    // every 4th request answers 429 with Retry-After: 0 (delta-seconds);
    // the wire client must map it to RateLimitedException carrying the
    // header and RetryingTransport must ride through honoring it — the
    // Pinecone rate-limit mode, proven across a real HTTP exchange
    withQdrant(retries = 3) { (server, qdrant) =>
      server.injectEveryNth = 4
      server.injectEveryNthStatus = 429
      server.inject429RetryAfterSec = 0
      canonDf(200).write.format("graft-qdrant")
        .option("collection", "http_limited").option("recreate", "true")
        .option("batch_size", "25").mode("overwrite").save()
      val n = spark.read.format("graft-qdrant").option("collection", "http_limited")
        .option("page_size", "50").load().count()
      assert(n == 200)
      assert(server.requests >= 4, "enough traffic that 429s were injected")
      // the raw transport (no retry layer) surfaces the typed exception
      // with the parsed header
      val e = intercept[RateLimitedException] {
        var i = 0
        while (i < 8) { qdrant.count("http_limited"); i += 1 }
      }
      assert(e.retryAfterMs.contains(0L), e.retryAfterMs.toString)
    }
  }

  test("404 maps to NoSuchElementException and is never retried") {
    withQdrant(retries = 3) { (server, _) =>
      VectorStore.drop("http_missing")
      val before = server.requests
      intercept[NoSuchElementException] {
        VectorStore.scroll("http_missing", 0, 10)
      }
      // drop + one scroll: the 404 must NOT have been re-attempted
      assert(server.requests - before == 1)
    }
  }

  test("transport-level contract: exists/describe/count/upsert/drop over HTTP") {
    withQdrant() { (_, http) =>
      http.drop("http_c")
      assert(!http.exists("http_c"))
      http.createCollection("http_c",
        CollectionConfig(distance = "Dot", dim = 3, props = Map("hnsw_m" -> "16")),
        recreate = true)
      assert(http.exists("http_c"))
      val cfg = http.describe("http_c").get
      assert(cfg.distance == "Dot" && cfg.dim == 3 && cfg.props == Map("hnsw_m" -> "16"))
      assert(http.upsert("http_c",
        Seq(VSRecord("x", Array(1f, 2f, 3f), Map("a" -> null)))) == 1)
      assert(http.count("http_c") == 1)
      val r = http.scroll("http_c", 0, 10).head
      assert(r.id == "x" && r.vector.toSeq == Seq(1f, 2f, 3f) && r.metadata == Map("a" -> null))
      http.drop("http_c")
      assert(!http.exists("http_c"))
    }
  }

  test("delete-by-id crosses the socket; absent ids are a counted no-op") {
    withQdrant() { (_, http) =>
      http.createCollection("http_d", CollectionConfig(dim = 2), recreate = true)
      http.upsert("http_d", (0 until 10).map(i => VSRecord(s"$i", Array(i.toFloat, 0f), Map.empty)))
      assert(http.delete("http_d", Seq("2", "4", "nope")) == 2)
      assert(http.count("http_d") == 8)
      assert(http.delete("http_d", Seq("2")) == 0) // idempotent re-delivery
      assert(http.scroll("http_d", 0, 100).map(_.id).toSet ==
        Set("0", "1", "3", "5", "6", "7", "8", "9"))
      http.drop("http_d")
    }
  }

  test("CDC diff applied through the socket transport lands the new snapshot") {
    import graft.ops.SnapshotDiff
    withQdrant(failEveryNth = 13, retries = 4) { (_, _) =>
      canonDf(60).write.format("graft-qdrant")
        .option("collection", "http_cdc").option("recreate", "true")
        .mode("overwrite").save()
      // updates (1, 2) + inserts (60, 61); deletes (5, 6)
      val upserts = canonDf(62).filter(col(Canonical.ID).isin("1", "2", "60", "61"))
      val dels = Seq("5", "6").toDF("id")
      SnapshotDiff.applyTo(upserts, dels, "graft-qdrant", "http_cdc")
      // applied once more: both legs are idempotent, state is unchanged
      SnapshotDiff.applyTo(upserts, dels, "graft-qdrant", "http_cdc")
      val ids = spark.read.format("graft-qdrant").option("collection", "http_cdc")
        .load().select(Canonical.ID).as[String].collect().toSet
      assert(!ids.contains("5") && !ids.contains("6"))
      assert(ids.size == 60 && ids.contains("60") && ids.contains("1"))
    }
  }
}
