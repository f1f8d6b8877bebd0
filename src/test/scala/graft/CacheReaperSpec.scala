package graft

import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

import graft.engine.CacheReaper

/** The session-cache registry's contract (r07, ADVICE r06 #1): tracked
  * frames are released on demand, release is idempotent, a released
  * frame is genuinely uncached (re-use recomputes; no stale blocks), and
  * the registry holds one ref per distinct cached plan. */
class CacheReaperSpec extends SparkTestBase {

  test("persist returns its argument; release unpersists and is idempotent") {
    val df = spark.range(0, 1000).withColumn("x", col("id") * 2)
    val tracked = CacheReaper.persist(df)
    assert(tracked.count() === 1000L)
    assert(df.storageLevel.useMemory, "frame should be cached after the action")
    CacheReaper.release()
    assert(!df.storageLevel.useMemory && !df.storageLevel.useDisk,
      "release() must unpersist tracked frames")
    CacheReaper.release() // second release: no tracked frames, no throw
    assert(tracked.count() === 1000L, "released frame must still compute from lineage")
  }

  test("release only touches tracked frames") {
    val tracked = CacheReaper.persist(spark.range(0, 10).toDF())
    val untracked = spark.range(100, 200).toDF().persist()
    tracked.count(); untracked.count()
    CacheReaper.release()
    assert(!tracked.storageLevel.useMemory)
    assert(untracked.storageLevel.useMemory,
      "an untracked cache must survive release()")
    untracked.unpersist()
  }

  test("persisting the same plan twice tracks one ref; the second frame reads the cache") {
    CacheReaper.release() // clean slate — other suites share the registry
    def plan = spark.range(0, 500).withColumn("y", col("id") % 7)
    val first = CacheReaper.persist(plan)
    assert(first.count() === 500L)
    val second = CacheReaper.persist(plan)
    assert(second ne first, "the second call builds its own Dataset")
    assert(CacheReaper.trackedCount === 1, "one cached plan must be one tracked ref")
    assert(second.queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation => r }.nonEmpty,
      s"the second frame must read the cached data:\n${second.queryExecution}")
    assert(second.count() === 500L)
    CacheReaper.release()
    assert(CacheReaper.trackedCount === 0)
    assert(!second.storageLevel.useMemory, "release() must drop the shared cache")
  }

  test("a plan the caller cached first is not tracked; release leaves it cached") {
    CacheReaper.release()
    val own = spark.range(0, 300).toDF().persist()
    own.count()
    val viaLibrary = CacheReaper.persist(spark.range(0, 300).toDF())
    assert(CacheReaper.trackedCount === 0,
      "the library must not take over a cache the caller made")
    assert(viaLibrary.count() === 300L)
    CacheReaper.release()
    assert(own.storageLevel.useMemory, "the caller's cache must survive release()")
    own.unpersist()
  }

  test("a repeated shared-frame pass tracks no new refs") {
    // One building and one reusing key per shared-frame family: graph
    // edges, type transitions, SRP pairs, shingles, fuzzy name pairs,
    // distinct tokens and term frequencies; plus q143, whose seed set and
    // the frames built on it must be plans equal across calls. A second
    // pass without release() finds every frame already cached, so it may
    // not add refs.
    val keys = Seq(
      "q145_graph_degrees", "q150_shortest_paths", "q143_personalized_pagerank",
      "q144_markov_transitions", "q152_pagerank_states",
      "q34_sim_threshold_count", "q49_dedup_embed",
      "q48_dedup_ngram_jaccard", "q124_jaccard_postings",
      "q66_fuzzy_levenshtein", "q149_entity_resolution",
      "q114_oov_docs", "q136_token_lift",
      "q101_tfidf_topterms", "q118_bm25_topk")
    CacheReaper.release()
    def pass(): Int = {
      keys.foreach(k => SparkEntry.queries(k)(spark, sfDir).count())
      CacheReaper.trackedCount
    }
    val first = pass()
    assert(first > 0, "the family keys must persist their shared frames")
    assert(pass() === first, "a second pass re-tracked already-cached plans")
    CacheReaper.release()
  }
}
