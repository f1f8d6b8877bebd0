package graft.engine

import org.apache.spark.sql.DataFrame

/**
 * Session-scoped registry of long-lived library caches (r07, ADVICE r06 #1).
 *
 * Iterative operators ([[graft.operators.Graph]], the q145/q149 query
 * builders) persist iteration-invariant tables — the GraphX edge-cache
 * discipline. Those caches are DELIBERATELY left alive across queries:
 * Spark's CacheManager dedupes by analyzed plan, so q139/q143/q145/q150 all
 * share one materialized item-edge aggregate instead of rebuilding it four
 * times (measured: the graph family's steady state depends on this reuse).
 *
 * What was previously unbounded — entries accumulating for the JVM lifetime
 * across a 151-query bench and the test suite — is now bounded by this
 * registry: every such persist is registered here, and the session-level
 * harnesses (Bench / Verify / test suites) call [[release]] once their
 * lazily-returned plans are fully materialized. Intermediate per-round
 * state (BFS frontiers) is NOT routed here — it is unpersisted inline by
 * the operator as soon as the next round is materialized.
 */
object CacheReaper {
  private val tracked = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Registry capacity (r08, VERDICT r07 #4). Measured demand (the
    * perfbench trace's `cache.tracked_refs`): 6 tracked refs per
    * `llm_shared_frames` pass, and up to 37 in one pass of all 20
    * shared-frame keys, so 64 holds a full shared-frame pass with under
    * 2× headroom. A long INTERACTIVE session mixing many
    * operators without ever calling [[release]] would previously grow the
    * registry (and hold strong refs pinning every cached plan) without
    * bound. Past capacity the OLDEST entry is unpersisted and dropped,
    * with a stderr warning: evicting a cache is always safe (Spark
    * recomputes on next use), growing without bound is not. Overridable
    * per-JVM via -Dgraft.cacheReaper.max for tests and tuning; read per
    * call so a test can flip it without re-initializing the object. */
  private def maxTracked: Int =
    sys.props.get("graft.cacheReaper.max").flatMap(_.toIntOption).getOrElse(64)

  /** Number of currently tracked caches (test observability). */
  private[graft] def trackedCount: Int = tracked.size()

  /** Register a persisted DataFrame for session-end release; returns it.
    * Evicts (unpersists) oldest-first past [[maxTracked]]. */
  def track(df: DataFrame): DataFrame = {
    tracked.add(df)
    // ConcurrentLinkedQueue.size is O(n), but n is capped at maxTracked+1
    // right here, so the scan is bounded by construction.
    while (tracked.size() > maxTracked) {
      val old = tracked.poll()
      if (old != null) {
        System.err.println(s"CacheReaper: capacity $maxTracked exceeded — " +
          "unpersisting the oldest tracked cache (it recomputes on next " +
          "use). A session tracking this many live caches should call " +
          "CacheReaper.release() between workloads.")
        try old.unpersist(false) catch { case _: Throwable => () }
      }
    }
    df
  }

  /** Unpersist every tracked DataFrame. Call only at a point where no
    * still-unmaterialized plan depends on the caches (end of a bench /
    * verify run, test-suite teardown). Non-blocking; idempotent. */
  def release(): Unit = {
    var d = tracked.poll()
    while (d != null) {
      try d.unpersist(false) catch { case _: Throwable => () }
      d = tracked.poll()
    }
  }
}
