package graft.gov

import java.util.concurrent.{ScheduledThreadPoolExecutor, Semaphore, TimeUnit}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Session-level governance the reference bakes into its executor and that
  * Catalyst does not provide (SURVEY §4 X10–X12):
  *
  *   - TTL+LRU result cache keyed by normalized query text + resolved time
  *     bounds; TAIL/SCAN FULL/unbounded queries skip it
  *     (`server.go:557-598`, `result_cache.go:26-110`)
  *   - concurrency token bucket with a bounded wait queue
  *     (`query_limiter.go:28-87`)
  *   - per-query timeout via Spark job-group cancellation
  *     (`server.go:2847-2852`)
  *
  * The cache stores collected rows (≤ resultCacheMaxRows), like the
  * reference's rowCollector (`row_collector.go:24-67`). At cluster scale the
  * cache is a driver-memory concern only — it never holds more than
  * `maxRows` small rows per entry.
  */
final class Governor(val rails: Guardrails = Guardrails()) {

  // ---- result cache -----------------------------------------------------

  private final case class CacheEntry(schema: StructType, rows: Array[Row],
      insertedAtMs: Long)
  // Access-order LinkedHashMap -> true LRU (a hit bumps the entry), matching
  // the reference's TTL+LRU result cache (result_cache.go:26-110).
  private val cache =
    new java.util.LinkedHashMap[String, CacheEntry](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, CacheEntry]): Boolean =
        size() > rails.resultCacheMaxEntries
    }

  def normalize(sql: String): String = sql.trim.toLowerCase.replaceAll("\\s+", " ")

  def cacheKey(sql: String, boundsMs: (Option[Long], Option[Long])): String =
    s"${normalize(sql)}|${boundsMs._1.getOrElse(-1L)}|${boundsMs._2.getOrElse(-1L)}"

  /** Serve collected rows from the cache, or materialize via `run` (which
    * must COLLECT inside — so admission/timeout wrap real work, not just
    * lazy plan construction). */
  def cachedOrRunRows(key: String, cacheable: Boolean)(
      run: => (StructType, Array[Row])): (StructType, Array[Row]) = {
    val nowMs = System.currentTimeMillis()
    if (cacheable) {
      cache.synchronized {
        val e = cache.get(key) // access-order read bumps recency
        if (e != null) {
          if (nowMs - e.insertedAtMs <= rails.resultCacheTtlMs) {
            hitCounter.incrementAndGet()
            return (e.schema, e.rows)
          } else cache.remove(key)
        }
      }
    }
    val (schema, rows) = run
    if (cacheable && rows.length <= rails.resultCacheMaxRows) {
      cache.synchronized { cache.put(key, CacheEntry(schema, rows, nowMs)) }
    }
    (schema, rows)
  }

  /** DataFrame convenience over [[cachedOrRunRows]]. */
  def cachedOrRun(spark: SparkSession, key: String, cacheable: Boolean)(
      run: => DataFrame): DataFrame = {
    val (schema, rows) = cachedOrRunRows(key, cacheable) {
      val df = run
      (df.schema, df.collect())
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(rows: _*)), schema)
  }

  private val hitCounter = new java.util.concurrent.atomic.AtomicLong(0)
  def hits: Long = hitCounter.get()
  def cacheSize: Int = cache.synchronized(cache.size)

  // ---- ops metrics (reference exposes these via MCP/console, C6) --------
  val queriesServed = new java.util.concurrent.atomic.AtomicLong(0)
  val queryErrors = new java.util.concurrent.atomic.AtomicLong(0)

  def metrics: Seq[(String, Long)] = Seq(
    "queries_served" -> queriesServed.get(),
    "query_errors" -> queryErrors.get(),
    "result_cache_hits" -> hits,
    "result_cache_entries" -> cacheSize.toLong,
    "queued" -> queued.get().toLong)

  // ---- concurrency limiter ---------------------------------------------

  private val tokens = new Semaphore(rails.maxConcurrent, true)
  private val queued = new java.util.concurrent.atomic.AtomicInteger(0)

  final class QueryQueueFullException
    extends RuntimeException("query queue full")
  final class QueryTimeoutException(ms: Long)
    extends RuntimeException(s"query exceeded timeout ${ms}ms")

  /** Acquire a token (bounded queue + wait timeout), run, release. */
  def withAdmission[T](waitMs: Long = rails.queryTimeoutMs)(body: => T): T = {
    if (queued.incrementAndGet() > rails.maxConcurrent + rails.queueSize) {
      queued.decrementAndGet()
      throw new QueryQueueFullException
    }
    try {
      if (!tokens.tryAcquire(waitMs, TimeUnit.MILLISECONDS)) {
        throw new QueryTimeoutException(waitMs)
      }
      try body finally tokens.release()
    } finally queued.decrementAndGet()
  }

  /** Run an action under a job group cancelled after the timeout.
    * `onGroup` exposes the group id to the caller BEFORE the body runs —
    * the hook an out-of-band canceller (pg-wire CancelRequest) uses to
    * abort this query's jobs via `cancelJobGroup`. */
  def withTimeout[T](spark: SparkSession, timeoutMs: Long = rails.queryTimeoutMs,
      onGroup: String => Unit = _ => ())(
      body: => T): T = {
    val group = s"graft-${System.nanoTime()}"
    spark.sparkContext.setJobGroup(group, "governed query", interruptOnCancel = true)
    onGroup(group)
    @volatile var timedOut = false
    val deadline = Governor.timeouts.schedule(new Runnable {
      override def run(): Unit = {
        timedOut = true
        spark.sparkContext.cancelJobGroup(group)
      }
    }, timeoutMs, TimeUnit.MILLISECONDS)
    try body
    catch {
      case e: Exception if timedOut => throw new QueryTimeoutException(timeoutMs)
    } finally {
      deadline.cancel(false)
      spark.sparkContext.clearJobGroup()
    }
  }
}

object Governor {
  /** One daemon thread fires every governor's query deadlines, instead of
    * a `Timer` thread started per query. Cancelled deadlines leave the
    * queue at once, so a finished query holds no task until its timeout. */
  private lazy val timeouts: ScheduledThreadPoolExecutor = {
    val ex = new ScheduledThreadPoolExecutor(1, (r: Runnable) => {
      val t = new Thread(r, "graft-query-timeout")
      t.setDaemon(true)
      t
    })
    ex.setRemoveOnCancelPolicy(true)
    ex
  }
}
