package graft.connectors.vectorstore

/** Bounded-retry decorator for any [[VectorStoreTransport]] — the
  * production-hardening layer the reference leaves to its DB client
  * libraries (its adapters call `psycopg2`/`qdrant_client` once and turn
  * ANY failure into `False`/empty, e.g. `adapters/pgvector.py:235-242`).
  *
  * Every call is retried up to `maxAttempts` with exponential backoff
  * (backoffMs · 2^attempt, capped). Safe by the transport's own contract:
  * `upsert` is an id-keyed replace (re-delivery lands identically —
  * the same idempotency the streaming sink's exactly-once test relies
  * on), reads are pure, and `createCollection`/`drop` are idempotent on
  * the emulated store and on every real backend's create-if-missing /
  * drop-if-exists form. Executor-thread-safe iff the inner transport is.
  *
  * `retryOn` filters which failures are worth re-attempting (default:
  * everything except `NoSuchElementException` and `IllegalArgumentException`
  * — a missing collection or a rejected argument is a logic error, not a
  * transient fault; a network impl would match on its
  * client's timeout/unavailable exceptions instead).
  */
case class RetryingTransport(
    inner: VectorStoreTransport,
    maxAttempts: Int = 3,
    backoffMs: Long = 100L,
    maxBackoffMs: Long = 5000L,
    retryOn: Throwable => Boolean = RetryingTransport.defaultRetryOn,
    maxRetryAfterMs: Long = 30000L)
  extends VectorStoreTransport {

  require(maxAttempts >= 1, "maxAttempts must be >= 1")

  private def withRetry[A](f: => A): A = {
    var attempt = 0
    while (true) {
      try return f
      catch {
        // a rate limit is not a fault to blind-backoff through: the
        // service SAID when to come back — honor Retry-After (fall back
        // to the exponential schedule when it sent none). CAPPED at
        // maxRetryAfterMs: an uninterruptible Thread.sleep on an executor
        // thread must never be hostage to a misbehaving header
        // ("Retry-After: 86400" would otherwise hang a task for a day)
        case e: RateLimitedException if attempt < maxAttempts - 1 && retryOn(e) =>
          val wait = e.retryAfterMs.map(math.min(_, maxRetryAfterMs))
            .getOrElse(math.min(backoffMs << attempt, maxBackoffMs))
          if (wait > 0) Thread.sleep(wait)
          attempt += 1
        case e: Throwable if attempt < maxAttempts - 1 && retryOn(e) =>
          val wait = math.min(backoffMs << attempt, maxBackoffMs)
          if (wait > 0) Thread.sleep(wait)
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  override def createCollection(name: String, config: CollectionConfig, recreate: Boolean): Unit =
    withRetry(inner.createCollection(name, config, recreate))
  override def exists(name: String): Boolean = withRetry(inner.exists(name))
  override def describe(name: String): Option[CollectionConfig] = withRetry(inner.describe(name))
  override def scroll(name: String, fromIdx: Int, pageSize: Int): Seq[VSRecord] =
    withRetry(inner.scroll(name, fromIdx, pageSize))
  override def cursorPaged: Boolean = inner.cursorPaged
  // retry-safe: re-fetching the SAME cursor re-reads the same page
  override def scrollPage(name: String, cursor: Option[String],
                          pageSize: Int): (Seq[VSRecord], Option[String]) =
    withRetry(inner.scrollPage(name, cursor, pageSize))
  override def scrollFiltered(name: String, fromIdx: Int, pageSize: Int,
                              filter: Option[String]): Seq[VSRecord] =
    withRetry(inner.scrollFiltered(name, fromIdx, pageSize, filter))
  override def scrollPageFiltered(name: String, cursor: Option[String], pageSize: Int,
                                  filter: Option[String]): (Seq[VSRecord], Option[String]) =
    withRetry(inner.scrollPageFiltered(name, cursor, pageSize, filter))
  override def serverSideFilters: Boolean = inner.serverSideFilters
  override def supportsNativeSearch(metric: String): Boolean =
    inner.supportsNativeSearch(metric)
  override def supportsSearchFilter: Boolean = inner.supportsSearchFilter
  override def nativeSearch(name: String, sp: SearchSpec,
                            filter: Option[String]): Option[Seq[VSRecord]] =
    withRetry(inner.nativeSearch(name, sp, filter))
  override def count(name: String): Int = withRetry(inner.count(name))
  override def countFiltered(name: String, filter: Option[String]): Int =
    withRetry(inner.countFiltered(name, filter))
  override def upsert(name: String, records: Seq[VSRecord]): Int =
    withRetry(inner.upsert(name, records))
  // idempotent like upsert: a re-delivered delete of an already-removed id
  // is a no-op (the count reflects the final attempt only)
  override def delete(name: String, ids: Seq[String]): Int =
    withRetry(inner.delete(name, ids))
  override def drop(name: String): Unit = withRetry(inner.drop(name))
  override def listCollections(): Seq[String] = withRetry(inner.listCollections())
  // forwarded so a native-rename backend keeps its single atomic verb
  // (the trait default would otherwise re-implement rename as copy+drop
  // over this wrapper's retried calls)
  override def rename(from: String, to: String): Unit = withRetry(inner.rename(from, to))
  // naming is pure (no wire call) but MUST delegate: the inner backend
  // chooses the staging granularity (Pinecone: namespace, not index)
  override def stagingName(target: String): String = inner.stagingName(target)
  override def snapshotName(name: String): String = withRetry(inner.snapshotName(name))
}

object RetryingTransport {
  /** Retry transient-looking faults; never retry a missing collection, a
    * rejected argument (a malformed filter, a vector-less index a filtered
    * query cannot size), or a [[WireShapeException]] — a protocol-shape
    * mismatch is deterministic (the retry would replay the same wrong shape). */
  val defaultRetryOn: Throwable => Boolean = {
    case _: NoSuchElementException => false
    case _: IllegalArgumentException => false
    case _: WireShapeException => false
    case _ => true
  }
}

/** HTTP 429 from the service, carrying its `Retry-After` (milliseconds,
  * already converted from the header's delta-seconds) when it sent one.
  * An IOException subclass so every existing "transient fault" retry
  * policy keeps catching it. */
class RateLimitedException(msg: String, val retryAfterMs: Option[Long])
  extends java.io.IOException(msg)

/** Per-endpoint concurrency brake for rate-limit windows: when any call
  * to an endpoint draws a 429, EVERY caller of that endpoint in this JVM
  * is capped to [[throttledPermits]] concurrent in-flight requests until
  * the window passes. This is what keeps 8 parallel sliced cursor walks
  * from retry-storming a throttled account in lockstep — each walk still
  * makes progress, single-file, honoring the service's pushback. Outside
  * a throttle window the gate is a lock-free no-op on the hot path. */
private[vectorstore] object ThrottleGate {
  val throttledPermits = 2
  val defaultWindowMs = 1000L

  /** Window ceiling: the retry layer caps its SLEEP against a hostile
    * `Retry-After: 86400`, and the gate must cap its WINDOW for the same
    * reason — one bad header must not serialize every caller of an
    * endpoint in this JVM for a day. */
  val maxWindowMs = 30000L

  private case class Gate(until: java.util.concurrent.atomic.AtomicLong,
                          sem: java.util.concurrent.Semaphore)
  private val gates =
    scala.collection.concurrent.TrieMap.empty[String, Gate]

  private def gate(key: String): Gate = gates.getOrElseUpdate(key,
    Gate(new java.util.concurrent.atomic.AtomicLong(0L),
      new java.util.concurrent.Semaphore(throttledPermits, true)))

  /** Record a 429: the endpoint is throttled for `windowMs` from now
    * (clamped to [[maxWindowMs]]). */
  def throttled(key: String, windowMs: Long): Unit = {
    val g = gate(key)
    val until = System.currentTimeMillis() +
      math.min(maxWindowMs, math.max(0L, windowMs))
    var cur = g.until.get()
    while (until > cur && !g.until.compareAndSet(cur, until)) cur = g.until.get()
  }

  /** Call before a request; returns the release hook. No-op unless the
    * endpoint is inside a throttle window. */
  def enter(key: String): () => Unit = {
    val g = gates.get(key).orNull
    if (g == null || System.currentTimeMillis() >= g.until.get()) () => ()
    else {
      g.sem.acquire()
      val released = new java.util.concurrent.atomic.AtomicBoolean(false)
      () => if (released.compareAndSet(false, true)) g.sem.release()
    }
  }

  /** Test hook: forget an endpoint's window. */
  private[vectorstore] def reset(key: String): Unit = gates.remove(key)

  /** Test hook: when the endpoint's window ends (0 = never throttled). */
  private[vectorstore] def throttledUntil(key: String): Long =
    gates.get(key).map(_.until.get()).getOrElse(0L)
}
