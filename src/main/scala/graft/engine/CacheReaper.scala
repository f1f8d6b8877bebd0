package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/**
 * Session-scoped registry of long-lived library caches (r07, ADVICE r06 #1).
 *
 * Iterative operators ([[graft.operators.Graph]]) and the shared-frame
 * family accessors (GraphOps, SimilarityOps, TextOps) persist
 * iteration-invariant and cross-query tables through [[persist]] — the
 * GraphX edge-cache discipline. Those caches are DELIBERATELY left alive
 * across queries: Spark's CacheManager matches cached plans, so
 * q139/q143/q145/q150 all share one materialized item-edge aggregate
 * instead of rebuilding it four times.
 *
 * [[persist]] keys on that same cached-plan match: a plan the CacheManager
 * already holds is returned untouched (its reads are served from the
 * cache), so the registry holds exactly one ref per distinct cached plan
 * and never takes over a cache the caller made itself. The registry is
 * bounded only by [[release]], which every session-level harness calls
 * once its lazily-returned plans are materialized: Bench, Verify, the
 * perfbench driver and SparkTestBase. Call-local intermediate state (BFS
 * frontiers, Dedup's normalized edges) is NOT routed here — the operator
 * unpersists it inline as soon as it is dead.
 */
object CacheReaper {
  private val tracked = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Number of currently tracked caches (test observability). */
  private[graft] def trackedCount: Int = synchronized(tracked.size)

  /** Persist `df` at MEMORY_AND_DISK and track it for [[release]], unless
    * the CacheManager already holds its plan; returns `df` either way. */
  def persist(df: DataFrame): DataFrame = synchronized {
    if (df.storageLevel == StorageLevel.NONE)
      tracked += df.persist(StorageLevel.MEMORY_AND_DISK)
    df
  }

  /** Unpersist every tracked DataFrame. Call only at a point where no
    * still-unmaterialized plan depends on the caches (end of a bench /
    * verify run, test-suite teardown). Non-blocking; idempotent. */
  def release(): Unit = synchronized {
    tracked.foreach(d => try d.unpersist(false) catch { case _: Throwable => () })
    tracked.clear()
  }
}
