package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Graph analytics library (r06-late): iterative message-passing operators
 * over an edge-list DataFrame — the shape GraphX/Pregel standardized, here
 * expressed as plain Catalyst joins + aggregations so AQE, whole-stage
 * codegen, and map-side combine all apply.
 *
 * Determinism discipline (SURVEY §2 rules): rank mass is carried as a
 * SCALED BIGINT (1e12 units) and every division is INTEGER division
 * (Spark `div` ≡ DuckDB `//` for the non-negative operands used here) —
 * no float accumulates, so partition order and engine never change a
 * result, and an unrolled SQL WITH-chain reproduces each iteration
 * bit-for-bit.
 *
 * Scale shape (100 TB): the edge list is built once (one map-side-combined
 * aggregation off the raw data), then persisted — every iteration shuffles
 * ONLY the aggregated edge/rank tables, keyed on node id, exactly the
 * co-partitioned join a real cluster runs; nothing is collected beyond the
 * single node-count scalar. Headroom contract: rank ≤ 1e12 and edge weight
 * w must satisfy rank·w < 2^63 — i.e. per-pair edge counts up to ~9e6 are
 * exact; beyond that, pre-normalize weights (the rank math itself never
 * grows, total mass is ≤ 1e12 by construction).
 */
object Graph {

  /** 1e12 — rank mass carried in picorank units (integer). */
  val Scale: Long = 1000000000000L

  /** Largest per-edge weight the integer rank math carries exactly:
    * per-node rank is ≤ Scale by construction, so rank·w stays below 2^63
    * iff w ≤ this (~9.2e6). Enforced in [[pagerank]] /
    * [[personalizedPagerank]] (r07, ADVICE r06 #3 — previously a doc
    * comment only, so an oversized weight silently overflowed Long and
    * corrupted every rank). */
  val MaxEdgeWeight: Long = Long.MaxValue / Scale

  /** Fail loudly when the overflow-headroom contract is violated instead
    * of returning meaningless ranks. */
  private def requireWeightHeadroom(maxW: Long): Unit =
    require(maxW <= MaxEdgeWeight,
      s"pagerank: max edge weight $maxW exceeds the exact-arithmetic " +
        s"headroom $MaxEdgeWeight (rank*w must stay below 2^63) — " +
        "pre-normalize edge weights")

  /** ⟨row count of `counted`, max edge weight of `e`⟩ in ONE driver
    * action (r09, VERDICT r08 #2): these two scalars were previously two
    * separate jobs against already-persisted frames — pure fixed
    * job-launch/driver cost paid by every pagerank call. A union of the
    * two single-row aggregates collects both under a single action, and
    * materializes both persisted frames as a side effect. Each row
    * carries an explicit tag and is selected BY tag (r11, ADVICE r09
    * #4): indexing the collected array relied on UnionExec's
    * left-then-right partition concatenation — true today, but an
    * optimizer-owned detail no correctness result should sit on.
    * `coalesce(max(w), 0)` keeps the empty-edge case a clean 0 instead
    * of a null. */
  private def countAndMaxW(counted: DataFrame, e: DataFrame): (Long, Long) = {
    val rows = counted.agg(count(lit(1)).as("x")).select(lit("n").as("t"), col("x"))
      .unionByName(e.agg(coalesce(max(col("w")), lit(0L)).as("x"))
        .select(lit("maxw").as("t"), col("x")))
      .collect()
    def of(tag: String): Long =
      rows.find(_.getString(0) == tag).get.getLong(1)
    (of("n"), of("maxw"))
  }

  /**
   * Weighted PageRank over a directed edge list, `iters` synchronous
   * iterations from a uniform start, damping `d`/100 (integer percent —
   * the classic 0.85 is `d = 85`).
   *
   * `edges` must have columns (src, dst, w: long). Returns (v, pr) with
   * pr in Scale units. Dangling-node mass is dropped (both the oracle and
   * this side apply the same convention — the relative ordering PageRank
   * is used for is unaffected).
   *
   * new_pr(v) = (100−d)·Scale ∕∕ (100·N)  +  d · Σ_incoming (pr(u)·w ∕∕ outw(u)) ∕∕ 100
   */
  /** Persist the iteration-invariant tables: without this every unrolled
    * iteration would re-execute the full edge-build lineage (GraphX
    * persists its edge RDD for exactly this reason). MEMORY_AND_DISK —
    * the aggregated edge list is orders smaller than the raw data but
    * need not fit a single executor's memory. Returns (edges+outweight,
    * distinct nodes). */
  private def prep(edges: DataFrame): (DataFrame, DataFrame) = {
    val outw = edges.groupBy("src").agg(sum("w").as("ow"))
    val e = graft.engine.CacheReaper.persist(
      edges.join(outw, "src")
        .select(col("src"), col("dst"), col("w"), col("ow")))
    val nodes = graft.engine.CacheReaper.persist(
      e.select(col("src").as("v"))
        .union(e.select(col("dst").as("v"))).distinct())
    (e, nodes)
  }

  def pagerank(edges: DataFrame, iters: Int = 3, d: Int = 85): DataFrame = {
    require(iters >= 1 && d >= 0 && d <= 100)
    val (e, nodes) = prep(edges)
    // The ONE driver-side action (house precedent: the 1-row convergence
    // aggregate in Dedup's connected components): node count + headroom
    // check collected together.
    val (n, maxW) = countAndMaxW(nodes, e)
    require(n > 0, "pagerank: empty graph")
    requireWeightHeadroom(maxW)
    val base = ((100L - d) * Scale) / (100L * n)
    // Iterations carry ranks ONLY for nodes with in-edges: a node with no
    // incoming edge holds EXACTLY `base` after any iteration (its contrib
    // sum is empty), so the e⋈r join coalesces missing ranks to `base` —
    // bit-identical to materializing the full rank vector, one join and
    // one aggregation per iteration instead of two joins. Iteration 1's
    // default is the uniform start Scale/n instead.
    def step(r: Option[DataFrame], default: Long): DataFrame = {
      val contribs = r match {
        case None =>
          e.select(col("dst"), expr(s"(${default}L * w) div ow").as("contrib"))
        case Some(prev) =>
          e.join(prev.withColumnRenamed("v", "src"), Seq("src"), "left")
            .select(col("dst"),
              expr(s"(coalesce(pr, ${default}L) * w) div ow").as("contrib"))
      }
      contribs.groupBy(col("dst").as("v"))
        .agg((lit(base) + expr(s"($d * sum(contrib)) div 100")).as("pr"))
    }
    val rLast = (2 to iters).foldLeft(step(None, Scale / n)) { (r, _) =>
      step(Some(r), base)
    }
    // Materialize the full vector once at the end (no-in-edge nodes = base).
    nodes.join(rLast, Seq("v"), "left")
      .select(col("v"), coalesce(col("pr"), lit(base)).as("pr"))
  }

  /**
   * Personalized PageRank: identical arithmetic to [[pagerank]], but the
   * (100−d) restart mass lands ONLY on the `seeds` node set (uniformly)
   * — the "related items for THESE items" ranking. `seeds` must be a
   * (v) DataFrame and SMALL (its cardinality is collected as a scalar;
   * the per-node seed membership itself stays distributed). Nodes
   * unreachable from the seed set hold rank 0.
   *
   * Per-node restart means the iteration default is node-DEPENDENT
   * (b(v) = restart share for seeds, 0 otherwise), so the edge table
   * carries its source's base and start values — still one join + one
   * aggregation per iteration.
   */
  def personalizedPagerank(edges: DataFrame, seeds: DataFrame,
      iters: Int = 3, d: Int = 85): DataFrame = {
    require(iters >= 1 && d >= 0 && d <= 100)
    val (e, nodes) = prep(edges)
    // Materialize the seed set ONCE (r08): it is SMALL by contract (its
    // cardinality is collected right below), but the caller's seed PLAN
    // can be arbitrarily heavy — q143 derives it from a full events scan
    // — and it was executed twice: once for the count, once inside the
    // `bases` join. The persisted seed set is materialized by the
    // countAndMaxW action below, so the bases join reads a handful of
    // cached rows. A persist, unlike a localCheckpoint (a new RDD, so a
    // new plan on every call), keeps the seed plan equal across calls:
    // a repeated q143 finds `bases` and `eb` already cached instead of
    // tracking two more refs per run until release().
    val seedSet = graft.engine.CacheReaper.persist(seeds.select(col("v")).distinct())
    val (nSeeds, maxW) = countAndMaxW(seedSet, e)
    require(nSeeds > 0, "personalizedPagerank: empty seed set")
    requireWeightHeadroom(maxW)
    val bSeed = ((100L - d) * Scale) / (100L * nSeeds)
    val r0Seed = Scale / nSeeds
    val bases = graft.engine.CacheReaper.persist(
      nodes.join(seedSet.select(col("v"), lit(true).as("__s")),
          Seq("v"), "left")
        .select(col("v"),
          when(col("__s"), lit(bSeed)).otherwise(lit(0L)).as("b"),
          when(col("__s"), lit(r0Seed)).otherwise(lit(0L)).as("r0")))
    val eb = graft.engine.CacheReaper.persist(
      e.join(bases.select(col("v").as("src"), col("b").as("src_b"),
        col("r0").as("src_r0")), Seq("src")))
    def step(r: Option[DataFrame]): DataFrame = {
      val contribs = r match {
        case None =>
          eb.select(col("dst"), expr("(src_r0 * w) div ow").as("contrib"))
        case Some(prev) =>
          eb.join(prev.withColumnRenamed("v", "src"), Seq("src"), "left")
            .select(col("dst"),
              expr("(coalesce(pr, src_b) * w) div ow").as("contrib"))
      }
      contribs.groupBy(col("dst").as("v"))
        .agg(expr(s"($d * sum(contrib)) div 100").as("c"))
        .join(bases, Seq("v"))
        .select(col("v"), (col("b") + col("c")).as("pr"))
    }
    val rLast = (2 to iters).foldLeft(step(None))((r, _) => step(Some(r)))
    bases.join(rLast, Seq("v"), "left")
      .select(col("v"), coalesce(col("pr"), col("b")).as("pr"))
  }

  /**
   * Bounded-hop BFS shortest paths: minimum hop count from the `sources`
   * node set (a (v) DataFrame) to every node reachable within `maxHops`,
   * by synchronous frontier relaxation — d_{k+1}(v) = min(d_k(v),
   * 1 + min over in-edges of d_k(src)). Pure integer arithmetic; each
   * round is one node-keyed join + one map-side-combined MIN aggregation
   * over the persisted edge list (the [[pagerank]] scale shape).
   * Unreached nodes are absent from the result.
   *
   * Each round's frontier is MATERIALIZED with its lineage TRUNCATED
   * (`localCheckpoint`, the Dedup-CC house discipline) before the next
   * round builds on it (r07, VERDICT r06 #1 + the deeper defect found
   * fixing it): the round plan references the previous frontier twice
   * (the union arm and the join arm), so
   *
   *   - unmaterialized, Spark RE-EXECUTED the shared subtree — 2^k
   *     duplicate execution at hop k (the r06 verdict's finding); and
   *   - even persisted-and-counted, the LOGICAL tree still doubles per
   *     hop — cached-plan substitution happens after analysis/
   *     optimization, so Catalyst walked a 2^k-node tree: measured 241 s
   *     of pure planning at 9 hops and a driver OOM at 12 (StressGraph).
   *
   * `localCheckpoint` cuts both: every hop is exactly one join + one
   * map-side-combined MIN executed once (the synchronous-superstep
   * discipline GraphX/Pregel standardized), and the frontier plan stays
   * O(1) size at any hop count — measured linear to 12+ hops
   * (SCALING.md §Graph). Checkpoint blocks are MEMORY_AND_DISK; a DEAD
   * round's frontier is released eagerly at the RDD level once its
   * successor is materialized (r08 — `Dataset.unpersist` cannot see a
   * localCheckpoint's RDD-level persistence, see [[graft.engine.Lineage]];
   * at 100 TB frontier sizes waiting for GC + ContextCleaner is real
   * memory pressure). The trade (re-execution impossible after executor
   * loss) is the same one Dedup's connected components already makes.
   */
  def shortestPaths(edges: DataFrame, sources: DataFrame,
      maxHops: Int): DataFrame = {
    require(maxHops >= 0)
    val e = graft.engine.CacheReaper.persist(edges.select(col("src"), col("dst")))
    var d = sources.select(col("v"), lit(0L).as("dist")).localCheckpoint()
    for (_ <- 1 to maxHops) {
      val next = d.unionByName(
          e.join(d.withColumnRenamed("v", "src"), "src")
            .select(col("dst").as("v"), (col("dist") + 1).as("dist")))
        .groupBy("v").agg(min("dist").as("dist"))
        .localCheckpoint() // eager: materialized here, prior round now dead
      graft.engine.Lineage.releaseCheckpoint(d)
      d = next
    }
    d
  }
}
