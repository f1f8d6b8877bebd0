package graft.engine.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.engine.{QueryDef, Tables}
import graft.operators.Graph

/**
 * Graph-analytics surface (r06-late): iterative message-passing queries
 * over graphs DERIVED from the event stream — the "related items",
 * influence-ranking, and navigation-structure questions a behavioral
 * dataset answers once its transitions are treated as edges. The generic
 * iterative machinery lives in [[graft.operators.Graph]]; each query here
 * binds it to a concrete derived edge set plus the deterministic
 * presentation (scaled-integer ranks, total-order sort, LIMIT).
 *
 * Determinism (SURVEY §2 contract): rank mass is scaled BIGINT with
 * integer division only (Spark `div` ≡ DuckDB `//` on the non-negative
 * operands here), so the unrolled WITH-chain oracle is bit-exact.
 */
object GraphOps {

  /** The item-transition edge list shared by the graph family (q139/q143/
    * q145/q150): nodes = items (props.$.k), a directed edge src→dst with
    * weight w = "users moved from item src to item dst w times" (per-user
    * ts,event_id order; self-loops dropped). One user_id window pass
    * (q138's exact shape) + one map-side-combined count — |item pairs|
    * rows out, independent of event count.
    *
    * Stage width — measured and left ALONE (r09): StageProbe showed AQE's
    * input-byte coalescing folding the window+pair-agg stage to one task
    * here, which looked like a serialization defect. Two alternatives
    * were built and A/B-measured warm (DbgBuild, 4 interleaved reps):
    * (1) an explicit `repartition(parts, user_id)` width pin — build
    * 0.9–1.0 s vs 0.65–0.76 s for this shape, ~0.3 s SLOWER end-to-end
    * (32 tiny sort+window tasks plus 8× more partial-agg rows cost more
    * than the 1-task stage they replace); (2) shipping raw props through
    * the exchange to parallelize the JSON decode — equal warm, and
    * strictly worse at scale (wider shuffle rows; real multi-row-group
    * files parallelize the scan-stage decode anyway). AQE's byte-based
    * verdict is simply CORRECT at this input size, and at 100 TB the
    * same exchange is big enough that no coalescing occurs — so the
    * declarative shape below, with the decode in the scan stage and no
    * width pin, is the right plan at both ends. */
  // private[graft] (not private) so PlanSuite can pin the decode plan —
  // the family's final frames are eager/checkpointed, so the scan is not
  // visible in their explain output.
  //
  // Persisted + tracked (r18, VERDICT r17 #3): the aggregate itself is now
  // the family's shared cache entry. Before this, only Graph.prep's JOINED
  // frame (edges⋈outweight) was persisted, so q139/q143 shared one events
  // window pass via plan-dedup but q145 (which persisted a plain itemEdges
  // copy) and q150 (shortestPaths persists edges.select(src,dst)) each
  // re-ran the FULL events scan + JSON decode + window pass — three passes
  // per run for the family. Caching at the aggregate (|item pairs| rows,
  // independent of event count — the GraphX edge-cache discipline already
  // documented above) makes every downstream persist materialize from this
  // cache: ONE events pass per run at any scale.
  /** The raw (uncached) edge-aggregate plan — split out so PlanSuite can
    * pin the native json_int_key decode on the builder itself (a cached
    * frame's formatted explain hides the inner expressions). */
  private[graft] def itemEdgesPlan(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    // The long→int cast (here and at the q143/q150 seed scans) carries a
    // RANGE ASSUMPTION (r12, ADVICE r11 #3): item ids fit int — the oracle
    // schema is INTEGER, so the narrow type is the contract. Under the
    // session's default ANSI mode an out-of-range value ERRORS (as the old
    // string→int cast did); only with ANSI disabled would it wrap where
    // the old path returned null.
    Tables.table(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        graft.engine.expr.JsonIntKey.of(col("props"), "k").cast("int").as("k"))
      .where(col("k").isNotNull)
      .withColumn("pk", lag(col("k"), 1).over(w))
      .where(col("pk").isNotNull && col("pk") =!= col("k"))
      .groupBy(col("pk").as("src"), col("k").as("dst"))
      .agg(count(lit(1)).as("w"))
  }

  private[graft] def itemEdges(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.engine.CacheReaper.persist(itemEdgesPlan(s, dir))

  /** Per-item purchase counts (k, n) — the seed-derivation aggregate q143
    * (top-5 seeds) and q150 (top-1 root) both need (r18, VERDICT r17 #3):
    * each previously re-scanned and re-JSON-decoded the FULL events table
    * for the same |purchase-items|-row aggregate. Persisted + tracked like
    * [[itemEdges]]' prep tables, so CacheManager plan-dedup serves the
    * second query's seed scan from cache (bench order: q143 materializes,
    * q150 reuses) — one events pass saved per run at any scale. The
    * aggregate is tiny (distinct purchased items), so the persist itself
    * is O(items) memory. Downstream orderBy/limit is unchanged, so seeds
    * and root are bit-identical to the per-query scans they replace. */
  private[graft] def purchaseCounts(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.engine.CacheReaper.persist(
      Tables.table(s, dir, "events")
        .select(col("event_type"),
          graft.engine.expr.JsonIntKey.of(col("props"), "k").cast("int").as("k"))
        .where(col("k").isNotNull && col("event_type") === "purchase")
        .groupBy("k").agg(count(lit(1)).as("n")))

  // --- q139: PageRank over the item-transition graph -----------------------
  // Nodes = items (props.$.k); a directed edge src→dst with weight w means
  // "users moved from item src to item dst w times" (per-user ts,event_id
  // order; self-loops dropped). 3 synchronous iterations, damping 85/100,
  // from a uniform start — the classic "which items does user traffic
  // structurally concentrate on" ranking, where in-degree alone would
  // overweight items fed by low-rank spam nodes.
  //
  // Scale: the edge build is ONE window pass over events (shuffle on
  // user_id — q138's exact shape) + one map-side-combined count; the
  // persisted edge aggregate is |item-pairs| rows regardless of event
  // count, and every iteration shuffles only node-keyed aggregates — the
  // co-partitioned join a real cluster runs. Nothing collected but the
  // node-count scalar (house precedent: Dedup's convergence aggregate).
  private val q139 = QueryDef(
    "q139_pagerank",
    """WITH ev AS (
      |  SELECT user_id, ts, event_id,
      |    CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      |  FROM events),
      |seq AS (
      |  SELECT user_id, k,
      |    LAG(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pk
      |  FROM ev WHERE k IS NOT NULL),
      |edges AS (
      |  SELECT pk AS src, k AS dst, CAST(COUNT(*) AS BIGINT) AS w
      |  FROM seq WHERE pk IS NOT NULL AND pk <> k GROUP BY 1, 2),
      |nodes AS (SELECT DISTINCT src AS v FROM edges UNION SELECT DISTINCT dst FROM edges),
      |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
      |outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM edges GROUP BY src),
      |e AS (SELECT edges.src, edges.dst, edges.w, outw.ow
      |      FROM edges JOIN outw USING (src)),
      |r1 AS (
      |  SELECT nodes.v,
      |    (15000000000000 // (100 * nn.n)) + (85 * COALESCE(c.c, 0)) // 100 AS pr
      |  FROM nodes LEFT JOIN (
      |    SELECT e.dst AS v, SUM(((1000000000000 // nn.n) * e.w) // e.ow) AS c
      |    FROM e, nn GROUP BY e.dst) c ON c.v = nodes.v, nn),
      |r2 AS (
      |  SELECT nodes.v,
      |    (15000000000000 // (100 * nn.n)) + (85 * COALESCE(c.c, 0)) // 100 AS pr
      |  FROM nodes LEFT JOIN (
      |    SELECT e.dst AS v, SUM((r1.pr * e.w) // e.ow) AS c
      |    FROM e JOIN r1 ON r1.v = e.src GROUP BY e.dst) c ON c.v = nodes.v, nn),
      |r3 AS (
      |  SELECT nodes.v,
      |    (15000000000000 // (100 * nn.n)) + (85 * COALESCE(c.c, 0)) // 100 AS pr
      |  FROM nodes LEFT JOIN (
      |    SELECT e.dst AS v, SUM((r2.pr * e.w) // e.ow) AS c
      |    FROM e JOIN r2 ON r2.v = e.src GROUP BY e.dst) c ON c.v = nodes.v, nn)
      |SELECT v AS item, CAST(pr AS BIGINT) AS pr_scaled FROM r3
      |ORDER BY pr_scaled DESC, item LIMIT 25""".stripMargin) { (s, dir) =>
    Graph.pagerank(itemEdges(s, dir), iters = 3, d = 85)
      .select(col("v").as("item"), col("pr").cast("bigint").as("pr_scaled"))
      .orderBy(col("pr_scaled").desc, col("item")).limit(25)
  }

  // --- q143: personalized PageRank from the top-purchase seed set ----------
  // "Related items for the items people BUY": the (100−d) restart mass
  // lands only on the top-5 purchase items (content-derived, deterministic
  // tiebreak), so rank concentrates in their transition neighborhoods —
  // the recommendation-candidate ranking raw co-occurrence can't give
  // (mass flows transitively). Same integer arithmetic as q139; nodes
  // unreachable from the seeds hold 0 and are filtered.
  private val q143 = QueryDef(
    "q143_personalized_pagerank",
    """WITH ev AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      |  FROM events),
      |seq AS (
      |  SELECT user_id, k,
      |    LAG(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pk
      |  FROM ev WHERE k IS NOT NULL),
      |edges AS (
      |  SELECT pk AS src, k AS dst, CAST(COUNT(*) AS BIGINT) AS w
      |  FROM seq WHERE pk IS NOT NULL AND pk <> k GROUP BY 1, 2),
      |nodes AS (SELECT DISTINCT src AS v FROM edges UNION SELECT DISTINCT dst FROM edges),
      |outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM edges GROUP BY src),
      |e AS (SELECT edges.src, edges.dst, edges.w, outw.ow
      |      FROM edges JOIN outw USING (src)),
      |seeds AS (SELECT k AS v FROM ev WHERE event_type = 'purchase' AND k IS NOT NULL
      |          GROUP BY k ORDER BY COUNT(*) DESC, k LIMIT 5),
      |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM seeds),
      |bases AS (SELECT nodes.v,
      |            CASE WHEN nodes.v IN (SELECT v FROM seeds)
      |                 THEN 150000000000 // ns.n ELSE 0 END AS b,
      |            CASE WHEN nodes.v IN (SELECT v FROM seeds)
      |                 THEN 1000000000000 // ns.n ELSE 0 END AS r0
      |          FROM nodes, ns),
      |eb AS (SELECT e.src, e.dst, e.w, e.ow, bases.b AS src_b, bases.r0 AS src_r0
      |       FROM e JOIN bases ON bases.v = e.src),
      |r1 AS (SELECT bases.v, bases.b + (85 * COALESCE(c.c, 0)) // 100 AS pr
      |       FROM bases LEFT JOIN (
      |         SELECT eb.dst AS v, SUM((eb.src_r0 * eb.w) // eb.ow) AS c
      |         FROM eb GROUP BY eb.dst) c ON c.v = bases.v),
      |r2 AS (SELECT bases.v, bases.b + (85 * COALESCE(c.c, 0)) // 100 AS pr
      |       FROM bases LEFT JOIN (
      |         SELECT eb.dst AS v, SUM((r1.pr * eb.w) // eb.ow) AS c
      |         FROM eb JOIN r1 ON r1.v = eb.src GROUP BY eb.dst) c ON c.v = bases.v),
      |r3 AS (SELECT bases.v, bases.b + (85 * COALESCE(c.c, 0)) // 100 AS pr
      |       FROM bases LEFT JOIN (
      |         SELECT eb.dst AS v, SUM((r2.pr * eb.w) // eb.ow) AS c
      |         FROM eb JOIN r2 ON r2.v = eb.src GROUP BY eb.dst) c ON c.v = bases.v)
      |SELECT v AS item, CAST(pr AS BIGINT) AS pr_scaled FROM r3
      |WHERE pr > 0 ORDER BY pr_scaled DESC, item LIMIT 25""".stripMargin) { (s, dir) =>
    val seeds = purchaseCounts(s, dir)
      .orderBy(col("n").desc, col("k")).limit(5)
      .select(col("k").as("v"))
    Graph.personalizedPagerank(itemEdges(s, dir), seeds, iters = 3, d = 85)
      .where(col("pr") > 0)
      .select(col("v").as("item"), col("pr").cast("bigint").as("pr_scaled"))
      .orderBy(col("pr_scaled").desc, col("item")).limit(25)
  }

  /** Per (src, dst) event-type transition counts, self-loops INCLUDED —
    * the aggregate q144's Markov matrix is built from, persisted + tracked
    * (r18, VERDICT r17 #3) so q152's edge build (the SAME aggregate with
    * self-loop transitions dropped — a filter on the grouping keys, which
    * commutes exactly with the aggregation) reuses it instead of re-running
    * its own full events window pass. |types|² rows at any corpus size, so
    * the persist is metadata-sized. */
  private[graft] def typeTransitions(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    graft.engine.CacheReaper.persist(
      Tables.table(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("dst"))
        .withColumn("src", lag(col("dst"), 1).over(w))
        .where(col("src").isNotNull)
        .groupBy("src", "dst").agg(count(lit(1)).as("n")))
  }

  // --- q144: Markov transition matrix over event types ---------------------
  // The behavioral model q139's edge build specializes: per (src, dst)
  // event-type transition, the count and the transition probability
  // P·10⁶ = n·10⁶ ∕∕ out_n — integer division so the 25-cell matrix is
  // bit-exact cross-engine. One user_id window pass + two map-side-
  // combined aggs; output is |types|² rows at any corpus size.
  private val q144 = QueryDef(
    "q144_markov_transitions",
    """WITH seq AS (
      |  SELECT user_id, event_type AS dst,
      |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
      |  FROM events),
      |e AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
      |      FROM seq WHERE src IS NOT NULL GROUP BY 1, 2),
      |o AS (SELECT src, CAST(SUM(n) AS BIGINT) AS out_n FROM e GROUP BY src)
      |SELECT e.src, e.dst, e.n, CAST((e.n * 1000000) // o.out_n AS BIGINT) AS p_micro
      |FROM e JOIN o USING (src) ORDER BY src, dst""".stripMargin) { (s, dir) =>
    val e = typeTransitions(s, dir)
    // out_n as a window over the |types|² aggregate — the oracle joins a
    // second aggregate; the plan must not re-execute the corpus subtree.
    e.withColumn("out_n",
        sum("n").over(Window.partitionBy("src")))
      .select(col("src"), col("dst"), col("n"),
        expr("(n * 1000000) div out_n").as("p_micro"))
      .orderBy("src", "dst")
  }

  // --- q145: degree / reciprocity profile of the item graph ----------------
  // The structural diagnostic read before an iterative algorithm is run:
  // per item, in/out degree and weight, plus the count of RECIPROCATED
  // out-edges (dst also links back) — high reciprocity says the graph is
  // effectively undirected and a cheaper symmetric algorithm applies.
  // The reciprocity self-join runs on the EDGE AGGREGATE (|item pairs|
  // rows, keyed both sides) — never on raw events.
  private val q145 = QueryDef(
    "q145_graph_degrees",
    """WITH ev AS (
      |  SELECT user_id, ts, event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      |  FROM events),
      |seq AS (SELECT user_id, k, LAG(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pk
      |        FROM ev WHERE k IS NOT NULL),
      |e AS (SELECT pk AS src, k AS dst, CAST(COUNT(*) AS BIGINT) AS w
      |      FROM seq WHERE pk IS NOT NULL AND pk <> k GROUP BY 1, 2),
      |outd AS (SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS out_deg, CAST(SUM(w) AS BIGINT) AS out_w FROM e GROUP BY src),
      |ind  AS (SELECT dst AS v, CAST(COUNT(*) AS BIGINT) AS in_deg, CAST(SUM(w) AS BIGINT) AS in_w FROM e GROUP BY dst),
      |recip AS (SELECT a.src AS v, CAST(COUNT(*) AS BIGINT) AS n_recip
      |          FROM e a JOIN e b ON a.src = b.dst AND a.dst = b.src GROUP BY a.src)
      |SELECT COALESCE(outd.v, ind.v) AS item,
      |  COALESCE(out_deg, 0) AS out_deg, COALESCE(in_deg, 0) AS in_deg,
      |  COALESCE(out_w, 0) AS out_w, COALESCE(in_w, 0) AS in_w,
      |  COALESCE(n_recip, 0) AS n_recip
      |FROM outd FULL OUTER JOIN ind ON outd.v = ind.v
      |LEFT JOIN recip ON recip.v = COALESCE(outd.v, ind.v)
      |ORDER BY out_w + in_w DESC, item LIMIT 20""".stripMargin) { (s, dir) =>
    // The edge aggregate feeds five plan references (out/in/recip a+b);
    // itemEdges is persisted at the source since r18, so the events window
    // pass runs once — for the whole family, not just this query.
    val e = itemEdges(s, dir)
    val outd = e.groupBy(col("src").as("v"))
      .agg(count(lit(1)).as("out_deg"), sum("w").as("out_w"))
    val ind = e.groupBy(col("dst").as("v"))
      .agg(count(lit(1)).as("in_deg"), sum("w").as("in_w"))
    val recip = e.as("a").join(e.as("b"),
        col("a.src") === col("b.dst") && col("a.dst") === col("b.src"))
      .groupBy(col("a.src").as("v")).agg(count(lit(1)).as("n_recip"))
    outd.join(ind, Seq("v"), "full_outer")
      .join(recip, Seq("v"), "left")
      .select(col("v").as("item"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("out_w"), lit(0L)).as("out_w"),
        coalesce(col("in_w"), lit(0L)).as("in_w"),
        coalesce(col("n_recip"), lit(0L)).as("n_recip"))
      .orderBy((col("out_w") + col("in_w")).desc, col("item")).limit(20)
  }

  // --- q150: bounded-hop BFS from the top purchase item --------------------
  // "What can a user reach in ≤ 3 transitions from the item people buy
  // most" — the navigation-structure primitive PageRank doesn't give
  // (distance, not mass). Synchronous frontier relaxation on the
  // persisted edge aggregate: d_{k+1}(v) = min(d_k(v), 1 + min d_k(src))
  // — pure integer hops, so the unrolled UNION/MIN oracle is bit-exact.
  private val q150 = QueryDef(
    "q150_shortest_paths",
    """WITH ev AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      |  FROM events),
      |seq AS (SELECT user_id, k,
      |    LAG(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pk
      |  FROM ev WHERE k IS NOT NULL),
      |edges AS (SELECT pk AS src, k AS dst FROM seq
      |          WHERE pk IS NOT NULL AND pk <> k GROUP BY 1, 2),
      |root AS (SELECT k AS v FROM ev WHERE event_type = 'purchase' AND k IS NOT NULL
      |         GROUP BY k ORDER BY COUNT(*) DESC, k LIMIT 1),
      |d0 AS (SELECT v, 0 AS dist FROM root),
      |d1 AS (SELECT v, MIN(dist) AS dist FROM (
      |         SELECT * FROM d0 UNION ALL
      |         SELECT e.dst AS v, d0.dist + 1 FROM d0 JOIN edges e ON e.src = d0.v) GROUP BY v),
      |d2 AS (SELECT v, MIN(dist) AS dist FROM (
      |         SELECT * FROM d1 UNION ALL
      |         SELECT e.dst AS v, d1.dist + 1 FROM d1 JOIN edges e ON e.src = d1.v) GROUP BY v),
      |d3 AS (SELECT v, MIN(dist) AS dist FROM (
      |         SELECT * FROM d2 UNION ALL
      |         SELECT e.dst AS v, d2.dist + 1 FROM d2 JOIN edges e ON e.src = d2.v) GROUP BY v)
      |SELECT CAST(v AS INTEGER) AS item, CAST(dist AS BIGINT) AS hops
      |FROM d3 ORDER BY hops, item LIMIT 200""".stripMargin) { (s, dir) =>
    val root = purchaseCounts(s, dir)
      .orderBy(col("n").desc, col("k")).limit(1)
      .select(col("k").as("v"))
    Graph.shortestPaths(itemEdges(s, dir), root, maxHops = 3)
      .select(col("v").cast("int").as("item"), col("dist").as("hops"))
      .orderBy("hops", "item").limit(200)
  }

  // --- q152: PageRank over the event-type transition graph (string keys) ---
  // The library is node-type generic (GraphSpec proves string ids rank
  // bit-identically to ints); this key exercises that genericity
  // END-TO-END with a full oracle (r07, VERDICT r06 #6): nodes = event
  // TYPES (strings), edges = the per-user transition counts q144's Markov
  // matrix is built from (self-loops dropped, as in q139). "Which
  // behavioral state does user traffic structurally concentrate in" —
  // same integer picorank arithmetic, so the unrolled WITH-chain oracle
  // is bit-exact over string node ids too.
  private val q152 = QueryDef(
    "q152_pagerank_states",
    """WITH seq AS (
      |  SELECT user_id, event_type AS dst,
      |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
      |  FROM events),
      |edges AS (
      |  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
      |  FROM seq WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2),
      |nodes AS (SELECT DISTINCT src AS v FROM edges UNION SELECT DISTINCT dst FROM edges),
      |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
      |outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM edges GROUP BY src),
      |e AS (SELECT edges.src, edges.dst, edges.w, outw.ow
      |      FROM edges JOIN outw USING (src)),
      |r1 AS (
      |  SELECT nodes.v,
      |    (15000000000000 // (100 * nn.n)) + (85 * COALESCE(c.c, 0)) // 100 AS pr
      |  FROM nodes LEFT JOIN (
      |    SELECT e.dst AS v, SUM(((1000000000000 // nn.n) * e.w) // e.ow) AS c
      |    FROM e, nn GROUP BY e.dst) c ON c.v = nodes.v, nn),
      |r2 AS (
      |  SELECT nodes.v,
      |    (15000000000000 // (100 * nn.n)) + (85 * COALESCE(c.c, 0)) // 100 AS pr
      |  FROM nodes LEFT JOIN (
      |    SELECT e.dst AS v, SUM((r1.pr * e.w) // e.ow) AS c
      |    FROM e JOIN r1 ON r1.v = e.src GROUP BY e.dst) c ON c.v = nodes.v, nn),
      |r3 AS (
      |  SELECT nodes.v,
      |    (15000000000000 // (100 * nn.n)) + (85 * COALESCE(c.c, 0)) // 100 AS pr
      |  FROM nodes LEFT JOIN (
      |    SELECT e.dst AS v, SUM((r2.pr * e.w) // e.ow) AS c
      |    FROM e JOIN r2 ON r2.v = e.src GROUP BY e.dst) c ON c.v = nodes.v, nn)
      |SELECT v AS event_type, CAST(pr AS BIGINT) AS pr_scaled FROM r3
      |ORDER BY pr_scaled DESC, event_type""".stripMargin) { (s, dir) =>
    // Edges = q144's persisted transition aggregate with self-loop
    // transitions dropped (r18): src<>dst filters whole GROUPS (it is a
    // predicate on the grouping keys), so filtering the aggregate is
    // bit-identical to filtering the rows before it — and the second full
    // events window pass this query ran is now a cache hit.
    val edges = typeTransitions(s, dir)
      .where(col("src") =!= col("dst"))
      .select(col("src"), col("dst"), col("n").as("w"))
    Graph.pagerank(edges, iters = 3, d = 85)
      .select(col("v").as("event_type"), col("pr").cast("bigint").as("pr_scaled"))
      .orderBy(col("pr_scaled").desc, col("event_type"))
  }

  def defs: Seq[QueryDef] = Seq(q139, q143, q144, q145, q150, q152)
}
