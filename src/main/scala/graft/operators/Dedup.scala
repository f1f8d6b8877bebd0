package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Reusable deduplication operators (library API — the oracle-gated queries
 * in graft.engine.ops delegate here).
 *
 * All variants share the 100 TB shape: derive a signature / block key
 * map-side, shuffle once on it, and never do corpus-wide pairwise work.
 */
object Dedup {

  /** Test-visible counter of [[connectedComponents]] driver-path
    * executions (r12, VERDICT r11 #5): lets a spec pin that q75 and q149
    * actually route through the union-find fast path — the r11 win a refactor
    * could silently revert while staying hash-correct. Monotonic; tests
    * diff around a run rather than reset. */
  private[graft] val boundedDriverPathHits =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Exact dedup with a DETERMINISTIC survivor: the row with the smallest
    * `survivorKey` per `keys` group. (dropDuplicates keeps an arbitrary,
    * partition-order-dependent row — unsuitable for reproducible pipelines.) */
  def exact(df: DataFrame, keys: Seq[String], survivorKey: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(survivorKey))
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** Token-set signature per row: sorted distinct tokens re-joined — an
    * order/multiplicity-invariant canonical form. */
  def tokenSetSignature(textCol: Column, sep: String = " "): Column =
    array_join(array_sort(array_distinct(split(textCol, sep))), sep)

  /** Near-dup clusters under the token-set signature: groups of ≥2 rows
    * with identical signatures, with the minimum id as canonical. */
  def signatureClusters(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), tokenSetSignature(col(textCol)).as("sig"))
      .groupBy("sig")
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("canonical_doc"))
      .where(col("n_docs") >= 2)

  /** MinHash + LSH near-dup candidate pairs.
    *
    * `numHashes` minhash components (min over the token multiset — equal
    * to min over the set) computed as codegen aggregates after a token
    * explode; `bands` bands of `numHashes/bands` rows each hash to one
    * long; docs colliding in ANY band bucket (capped at `bucketCap` —
    * mega-buckets are exact-dup clusters better handled by
    * [[signatureClusters]]) become candidates with an estimated jaccard.
    *
    * `portable = true` swaps the per-permutation token hash from seeded
    * xxhash64 to LCG permutations of the engine's shared token code
    * (first-char ascii × 31 + length, mod 1000003): permutation i of
    * token code h is `((2i+3)·h + 7i+11) mod 1000003`, and the band key
    * is a polynomial fold `acc = (acc·131 + m) mod 1e9+7` seeded with the
    * band index — plain int64 arithmetic (every intermediate < 2⁶²) any
    * engine reproduces bit-for-bit, so a DuckDB oracle re-derives the
    * IDENTICAL signatures, band buckets, and candidate set (the q47/q48
    * recipe applied to MinHash). The coarse token code collides more than
    * xxhash64 — identically in both engines. Default stays xxhash64 for
    * production quality.
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, bands: Int = 4, bucketCap: Int = 64,
      portable: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    def minExpr(i: Int): Column =
      if (portable)
        min(expr(s"((${2 * i + 3} * h) + ${7 * i + 11}) % 1000003")).as(s"m$i")
      else min(xxhash64(lit(i), col("t"))).as(s"m$i")
    def bandKey(g: Int): Column =
      if (portable)
        (0 until rows).foldLeft(lit(g.toLong).cast("bigint")) { (acc, j) =>
          (acc * 131 + col(s"m${rows * g + j}")) % 1000000007L
        }
      else xxhash64(
        lit(g) +: (0 until rows).map(j => col(s"m${rows * g + j}")): _*)
    val tokens = df
      .select(col(idCol).as("doc_id"), explode(split(col(textCol), " ")).as("t"))
    val hashed =
      if (portable) tokens.select(col("doc_id"),
        expr("cast(ascii(substr(t, 1, 1)) * 31 + length(t) AS BIGINT) % 1000003").as("h"))
      else tokens
    val sigs = hashed
      .groupBy("doc_id")
      .agg(minExpr(0), (1 until numHashes).map(minExpr): _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"),
        array((0 until bands).map(bandKey): _*).as("bands"))
    sigs
      .select(col("doc_id"), col("sig"),
        posexplode(col("bands")).as(Seq("band_id", "band_key")))
      .groupBy("band_id", "band_key")
      .agg(expr("sort_array(collect_list(struct(doc_id, sig)))").as("xs"))
      .where(size(col("xs")).between(2, bucketCap))
      // native bucket-pair generation (r04-end): ArrayPairs iterates the
      // sorted bucket, ArrayEqCount counts signature agreement in codegen
      // — replaces the interpreted flatten/transform/zip_with lambda chain
      .select(graft.engine.expr.ArrayPairs.of(col("xs")).as(Seq("a", "b")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        graft.engine.expr.ArrayEqCount.of(col("a.sig"), col("b.sig")).as("n_eq"))
      .distinct()
      .select(col("doc_a"), col("doc_b"),
        (col("n_eq").cast("decimal(9,4)") / numHashes)
          .cast("decimal(5,4)").as("est_jaccard"))
  }

  /** Exact Jaccard over shingle sets via an INVERTED INDEX (posting
    * lists): explode (doc, shingle), self-join on the shingle, count
    * co-occurrences per pair (= |A∩B|), finish with the set sizes.
    *
    * This is the sparse-data twin of the pairwise-inside-blocks
    * formulation (q48): with natural text, a shingle appears in FEW
    * documents, so the posting join touches only genuinely-overlapping
    * pairs — O(Σ df²) ≪ all-pairs; with a dense synthetic vocabulary it
    * degenerates quadratically. Density decides, so the library ships
    * both. `maxDocFreq` caps pathological hot shingles (a shingle in half
    * the corpus carries no similarity signal but quadratic join cost) —
    * capping excludes those shingles from intersections AND from set
    * sizes, so jaccard stays a true Jaccard, just over the capped shingle
    * universe (0 = no cap).
    *
    * `shinglesCol` must hold DISTINCT elements per row (array_distinct
    * output) — sizes and co-occurrence counts assume set semantics.
    *
    * Output: (doc_a, doc_b, inter, size_a, size_b, jaccard) for pairs with
    * jaccard ≥ minJaccard.
    */
  def jaccardPostings(df: DataFrame, idCol: String, shinglesCol: String,
      minJaccard: Double, maxDocFreq: Long = 0L): DataFrame = {
    // Grouped-bucket formulation (r05): ONE shuffle groups each shingle's
    // posting list into a row; the df cap is a size filter on the grouped
    // row (singleton shingles KEPT — they count toward set sizes), sizes
    // re-derive from the capped buckets, and pairs come from the native
    // ArrayPairs generator over buckets with ≥2 docs. Both consumers
    // (sizes, pairs) read the SAME shingle exchange (ReuseExchange), so
    // the shingle pipeline is evaluated once — the posting self-JOIN this
    // replaces evaluated it per join side plus once for the cap filter
    // and once for sizes.
    val postingsAll = df.select(col(idCol).as("__doc"),
      explode(col(shinglesCol)).as("__sh"))
    val buckets = postingsAll.groupBy("__sh")
      .agg(expr("sort_array(collect_list(__doc))").as("xs"))
      .where(if (maxDocFreq <= 0) lit(true) else size(col("xs")) <= maxDocFreq)
    val sizes = buckets.select(explode(col("xs")).as("__doc"))
      .groupBy(col("__doc"))
      .agg(count(lit(1)).as("__sz")) // shingle arrays are distinct per doc
    // Spread the pair-generator input explicitly: AQE coalesces the bucket
    // exchange by its INPUT bytes (grouped postings compress to almost
    // nothing), blind to the O(df²) rows ArrayPairs emits per bucket — at
    // modest scale it folds the whole generate stage into ONE task that
    // then does all pairwise work serially. A repartition keyed by __sh
    // alone is collapsed as redundant against the groupBy's existing
    // hashpartitioning(__sh); (__sh, xs) is kept, stays deterministic, and
    // distributes as uniformly as __sh. Per-row generator work is bounded
    // by maxDocFreq (≤ C(cap,2) pairs), so an even row spread is an even
    // work spread.
    val numPart = df.sparkSession.sessionState.conf.numShufflePartitions
    buckets.where(size(col("xs")) >= 2)
      .repartition(numPart, col("__sh"), col("xs"))
      .select(graft.engine.expr.ArrayPairs.of(col("xs")).as(Seq("doc_a", "doc_b")))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("__doc").as("doc_a"), col("__sz").as("size_a")), "doc_a")
      .join(sizes.select(col("__doc").as("doc_b"), col("__sz").as("size_b")), "doc_b")
      .withColumn("jaccard",
        (col("inter").cast("decimal(18,6)")
          / (col("size_a") + col("size_b") - col("inter")))
          .cast("decimal(38,6)").cast("double"))
      .where(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "inter", "size_a", "size_b", "jaccard")
  }

  /** Connected components over an undirected candidate-pair edge list —
    * the clustering step that turns near-dup candidate PAIRS into dedup
    * groups with one survivor each (the min-id member, the q30 rule).
    * Output: (node, label) with label = min node id reachable; node ids
    * must be integral (cast to long).
    *
    * Self-loops and null endpoints are DROPPED by the normalization (the
    * `a =!= b` filter) before the path is picked, so a node whose only
    * edge is a self-loop is absent from the output on either path (r12,
    * ADVICE r11 #1; pinned by CcPropSpec's self-loop case).
    *
    * The path is picked by EDGE COUNT: the normalized distinct undirected
    * edge frame is persisted and sized with one count. Up to
    * `driverMaxEdges` (64k edges = ~1 MB of longs at the driver, far under
    * broadcast-join thresholds) it is collected and labeled by an
    * in-memory union-find with min-root election, one action in place of
    * propagation's rounds × (propagate + convergence-collect) job ladder;
    * the result is a LocalRelation, so downstream joins broadcast it.
    * Past the guard [[propagateLabels]] runs off the same cache. Union-find
    * is exactly the fixpoint propagation converges to, asserted equal on
    * randomized graphs on both sides of the guard in CcPropSpec. Either way
    * the caller's pair pipeline executes exactly ONCE (a first cut probed
    * with a limit-collect and re-executed the pipeline on fallback,
    * doubling q149's fuzzy-candidate stage).
    *
    * Measured edge counts: q75's near-dup graph has 25 edges at sf0.01,
    * 355 at sf0.1 and 680,975 at 1000× (SCALING.md), so real inputs land
    * on both sides of the guard; q149's atom graph grows with the name
    * vocabulary (~11k edges at sf0.1).
    *
    * `shufflePartitions` right-sizes the normalization shuffle and every
    * propagation round past the guard: the edge list is orders of
    * magnitude smaller than the corpus, so inheriting the corpus-sized
    * `spark.sql.shuffle.partitions` pays rounds × shuffles × partitions
    * in empty-task scheduling. Size it to the EDGE volume; at 100 TB with
    * billions of candidate edges it goes UP. Leaving it to AQE was
    * measured slower at sf0.1, local[4], 32 shuffle partitions (q75
    * 610 → 675 ms, q149 1842 → 1995 ms median). */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      driverMaxEdges: Int = 65536,
      maxIter: Int = 20,
      shufflePartitions: Option[Int] = None): DataFrame = {
    val spark = pairs.sparkSession
    import org.apache.spark.sql.functions.{least => fLeast, greatest => fGreatest}
    // THREAD-SAFETY (r12, VERDICT r11 #4b): this set/restore of the
    // SESSION-global shuffle-partition conf is safe only because queries
    // run sequentially on the session (the Verify/Bench/test drivers all
    // do). Concurrent queries on one session would observe the narrowed
    // conf mid-action — a caller needing that should pass
    // shufflePartitions = None or use spark.newSession() for isolation.
    // (Same pattern and caveat in propagateLabels below.)
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    // Call-local state, not a library cache: unpersisted in the finally.
    val norm = pairs
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .where(col("a") =!= col("b"))
      .select(fLeast(col("a"), col("b")).as("a"),
        fGreatest(col("a"), col("b")).as("b"))
      .distinct()
    try {
    // The conf must be held through persist() and count() — the cached
    // plan is planned at persist time and executed at count time, not at
    // DataFrame-construction time.
    val n =
      try {
        shufflePartitions.foreach(p =>
          spark.conf.set("spark.sql.shuffle.partitions", p.toString))
        norm.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).count()
      } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    if (n > driverMaxEdges) {
      // propagateLabels is EAGER (its convergence loop materializes the
      // final labels before returning), so the cached edges can be
      // released as soon as it returns.
      propagateLabels(norm, "a", "b", maxIter, shufflePartitions)
    } else {
      Dedup.boundedDriverPathHits.incrementAndGet()
      val probe = norm.collect()
      // Union-find with path compression; roots elect the component MIN.
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      probe.foreach { row =>
        val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val nodes = probe.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct
      import spark.implicits._
      nodes.map(n => (n, find(n))).toSeq.toDF("node", "label")
    }
    } finally norm.unpersist()
  }

  /** The distributed fallback of [[connectedComponents]] past its edge
    * guard, and the reference its union-find path is tested against.
    *
    * Iterative min-label propagation: every node repeatedly adopts the
    * minimum label among itself and its neighbors until fixpoint. Each
    * round is one shuffle of the edge list — the GraphX-style
    * distributed shape (large-star/small-star is the constant-factor
    * refinement at extreme skew). Near-dup clusters have tiny diameter, so
    * convergence takes a handful of rounds. TWO propagation rounds are
    * fused per materialized step where the round budget allows (r07): the
    * shuffle count is unchanged, but the job/driver-collect count halves
    * — on the small edge aggregates CC runs over, per-job fixed cost
    * (scheduling, stage barriers; on a real cluster, stage launch
    * latency) dominates the actual shuffle work. An odd `maxIter` spends
    * its last round as a SINGLE un-fused step (r08, ADVICE r07: the r07
    * loop silently dropped the odd round and made maxIter=1 always
    * throw), so the documented contract — maxIter bounds propagation
    * ROUNDS — holds for every value ≥ 1. The loop checks convergence per
    * step (a driver action on a bounded scalar) and THROWS if `maxIter`
    * rounds are exhausted unconverged rather than returning partial
    * labels.
    *
    * Lineage: each propagation references the label frame TWICE (the
    * join arm and the union arm), so a fused step holds four references
    * — any multi-step truncation window would grow the Catalyst tree
    * 4^k (the q150 BFS lesson, SCALING.md §Graph: the tree is walked
    * before cached-plan substitution, so caching alone does not bound
    * planning). Every step is therefore `localCheckpoint`ed lazily — and
    * so is the INNER round of a fused step (r08, ADVICE r07: previously
    * only the inner round's exchange was reused across the outer round's
    * two arms, so its reduce-side aggregation executed once per arm); the
    * convergence aggregate right below is the materializing action for
    * the whole chain, so no extra job runs. Dead checkpoint blocks are
    * released EAGERLY at the RDD level once the successor step is
    * materialized: `Dataset.unpersist` is a no-op for localCheckpoint'ed
    * frames (they persist below the CacheManager's radar), so the
    * operator keeps each step's `LogicalRDD` handle and unpersists that
    * directly — at 100 TB label-frame sizes, waiting for GC + the
    * ContextCleaner is real memory pressure (r08, ADVICE r07).
    *
    * Self-loops: an edge (v, v) seeds label v, so this operator labels a
    * self-loop-only node as itself. The public door never passes it one
    * (its normalization drops self-loops first), so the two agree on every
    * input the door accepts; a direct caller with self-loops gets those
    * nodes back. */
  private[graft] def propagateLabels(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20,
      shufflePartitions: Option[Int] = None): DataFrame = {
    val spark = pairs.sparkSession
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    shufflePartitions.foreach(n =>
      spark.conf.set("spark.sql.shuffle.partitions", n.toString))
    try {
    // explode, not union-of-self: a union would evaluate the caller's
    // candidate-pair pipeline twice inside the materializing job
    val edges = pairs.select(explode(array(
        struct(col(aCol).as("u"), col(bCol).as("v")),
        struct(col(bCol).as("u"), col(aCol).as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .distinct().persist()
    // seed with min(self ∪ neighbors) straight off the edge aggregation —
    // equivalent to (trivial init + one propagation round) for one
    // shuffle. Lazily checkpointed so the first fused step's four
    // references read materialized blocks (the convergence aggregate
    // below materializes), not four re-executions of the seed.
    var labels = edges.groupBy(col("u")).agg(min(col("v")).as("__mv"))
      .select(col("u").as("node"), least(col("u"), col("__mv")).as("label"))
      .localCheckpoint(false)
    // Convergence via the monotone label-sum invariant: labels only ever
    // DECREASE (per-node min), so the sum strictly drops on any change and
    // is stable exactly at the fixpoint — one scalar aggregate per step
    // (a bounded driver action) instead of a changed-rows scan. A stable
    // sum across a FUSED step implies neither of its two rounds changed
    // anything (monotonicity: a change in either strictly drops the sum).
    def labelSum(df: DataFrame): java.math.BigDecimal = df
      .agg(sum(col("label").cast("decimal(38,0)"))).collect()(0).getDecimal(0)
    // One propagation round: join → union-self → single min groupBy —
    // two shuffle boundaries, not three.
    def propagate(l: DataFrame): DataFrame = edges
      .join(l.select(col("node").as("__vn"), col("label").as("__vl")),
        col("v") === col("__vn"))
      .select(col("u").as("node"), col("__vl").as("label"))
      .unionByName(l)
      .groupBy("node").agg(min("label").as("label"))
    var prevSum = labelSum(labels)
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxIter) {
      // Two rounds fused per materialized step when the budget allows
      // (r07); an odd maxIter spends its final round un-fused (r08). LAZY
      // checkpoints on purpose — the convergence aggregate right below is
      // the materializing action for inner and outer alike, so no extra
      // job is run; truncating EVERY step keeps the Catalyst tree O(1)
      // despite the four label references per fused step.
      val fused = rounds + 2 <= maxIter
      val inner =
        if (fused) Some(propagate(labels).localCheckpoint(false)) else None
      val next = propagate(inner.getOrElse(labels)).localCheckpoint(false)
      val s = labelSum(next) // materializes inner (when fused) and `next`
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      // `next` is self-contained blocks now — the prior step's and the
      // fused inner round's blocks are dead. Release them at the RDD
      // level (see scaladoc); best-effort, correctness never depends on it.
      graft.engine.Lineage.releaseCheckpoint(labels)
      inner.foreach(graft.engine.Lineage.releaseCheckpoint)
      labels = next
      rounds += (if (fused) 2 else 1)
    }
    edges.unpersist()
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge within $maxIter propagation rounds")
    // the final step's frame stays materialized (checkpoint blocks) on
    // purpose: the convergence check already paid for it, so downstream
    // consumers read blocks instead of replaying the iteration
    labels
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  /** Portable rolling-hash codes of every k-token window (array<bigint>,
    * distinct): h = fold(tokens in window)((acc * 131 + code(t)) mod 1e9+7)
    * with the engine's shared token code (first-char ascii * 31 + length) —
    * the k-generalization of `GraftFunctions.hashedShingles` (k=3). The
    * token code is a coarse fingerprint, so distinct windows can collide;
    * collisions are deterministic and IDENTICAL in any engine evaluating
    * the same arithmetic, which is what lets a DuckDB oracle reproduce the
    * exact candidate set. A production variant wanting fewer false merges
    * swaps in xxhash64 per token (then forfeits the cross-engine oracle,
    * like q32). */
  def windowHashes(tokensCol: String, k: Int): Column =
    graft.engine.expr.WindowHashes.of(col(tokensCol), k)

  /** The lambda reference formulation of [[windowHashes]] the native
    * expression is equality-tested against (GraftFunctionsSpec). */
  private[graft] def windowHashesViaLambdas(tokensCol: String, k: Int): Column = {
    require(k >= 2, "window size must be at least 2 tokens")
    def code(t: String) = s"cast(ascii(substr($t, 1, 1)) * 31 + length($t) AS BIGINT)"
    def fold(j: Int): String =
      if (j == 0) code(s"element_at($tokensCol, i)")
      else s"((${fold(j - 1)}) * 131 + ${code(s"element_at($tokensCol, i + $j)")}) % 1000000007"
    expr(s"array_distinct(transform(sequence(1, size($tokensCol) - ${k - 1}), i -> ${fold(k - 1)}))")
  }

  /** EXACT-SUBSTRING dedup candidates — the other industrial dedup family
    * besides MinHash (the "50-token overlap" rule of large-corpus
    * pipelines): doc pairs sharing at least one k-consecutive-token
    * window, found via an inverted index on the rolling window hashes.
    *
    * Same 100 TB shape as the q32/q47 bucket pattern: map-side window
    * hashing, ONE shuffle grouping postings per window hash, `maxDocFreq`
    * caps hot windows (boilerplate spans carry no dedup signal but
    * quadratic cost) so per-bucket pair generation is bounded, and the
    * window-hash pipeline is evaluated exactly once (a posting self-JOIN
    * would re-evaluate it per side plus once for the cap filter). Total
    * cost is O(Σ df²) over genuinely shared spans. Output:
    * (doc_a, doc_b, n_shared) = count of DISTINCT shared window hashes.
    */
  def substringPairs(df: DataFrame, idCol: String, tokensCol: String,
      k: Int, maxDocFreq: Long = 50): DataFrame = {
    val wh = df.where(size(col(tokensCol)) >= k)
      .select(col(idCol).as("__doc"), explode(windowHashes(tokensCol, k)).as("__wh"))
    wh.groupBy("__wh")
      .agg(expr("sort_array(collect_list(__doc))").as("xs"))
      .where(size(col("xs")).between(2, maxDocFreq))
      // native pair generation over the sorted posting list (r04-end)
      .select(graft.engine.expr.ArrayPairs.of(col("xs")).as(Seq("doc_a", "doc_b")))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
  }

  /** SimHash banded near-dup candidate pairs: 64-bit SimHash per row
    * (codegen conditional-sum aggregates packed into one long), searched
    * via `bands` bands of 64/bands bits. Output: (doc_a, doc_b,
    * matching_bits) for docs colliding in ≥1 band bucket (≤ bucketCap).
    *
    * `portable = true` swaps the per-token bit source from xxhash64's 64
    * bits to 64 LCG bit-samples of the engine's shared token code
    * (first-char ascii × 31 + length, mod 1000003): bit b of token h is
    * the threshold sign of `((h·(2b+3)) mod M · 2654435761) mod M` with
    * M = 1000003 — plain int64 arithmetic (every intermediate < 2⁶²) any
    * engine reproduces bit-for-bit, so a DuckDB oracle can re-derive the
    * IDENTICAL candidate set (the q48 polynomial/LCG recipe). The coarse
    * token code collides more than xxhash64 — identically in both
    * engines. Default stays xxhash64 for production quality. */
  def simhashCandidates(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, bucketCap: Int = 64, portable: Boolean = false): DataFrame = {
    require(64 % bands == 0, "bands must divide 64")
    val width = 64 / bands
    val mask = (1L << width) - 1
    packedSimhash(df, idCol, textCol, portable)
      .select(col("doc_id"), col("sh"),
        posexplode(expr(
          s"transform(sequence(0, ${bands - 1}), g -> shiftright(sh, g * $width) & $mask)"))
          .as(Seq("band_id", "band_key")))
      .groupBy("band_id", "band_key")
      .agg(expr("sort_array(collect_list(struct(doc_id, sh)))").as("xs"))
      .where(size(col("xs")).between(2, bucketCap))
      // native pair generation; hamming agreement via builtin xor/bit_count
      .select(graft.engine.expr.ArrayPairs.of(col("xs")).as(Seq("a", "b")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("64 - bit_count(a.sh ^ b.sh)").as("matching_bits"))
      .distinct()
  }

  /** Packed 64-bit SimHash per row: (doc_id, sh) via the native one-pass
    * map-side [[graft.engine.expr.SimHashPack]] — no explode, no shuffle,
    * no 64-column aggregate state; the signature step is map-only like
    * every other fingerprint in the family. */
  def packedSimhash(df: DataFrame, idCol: String, textCol: String,
      portable: Boolean): DataFrame =
    df.select(col(idCol).as("doc_id"),
      graft.engine.expr.SimHashPack.of(split(col(textCol), " "), portable).as("sh"))

  /** The explode + 64-conditional-sum aggregate reference formulation the
    * native expression is equality-tested against (SimilaritySpec).
    * Divergence BY DESIGN: this drops rows whose token array is empty
    * (explode emits no row), the native path keeps them — unreachable on
    * split() output, which is never an empty array. */
  private[graft] def packedSimhashViaAgg(df: DataFrame, idCol: String,
      textCol: String, portable: Boolean): DataFrame = {
    val tokenHash =
      if (portable)
        s"transform(array_distinct(split($textCol, ' ')), t -> cast(ascii(substr(t, 1, 1)) * 31 + length(t) AS BIGINT) % 1000003)"
      else s"transform(array_distinct(split($textCol, ' ')), t -> xxhash64(t))"
    def bitCond(b: Int): String =
      if (portable) s"((h * ${2 * b + 3}) % 1000003 * 2654435761) % 1000003 >= 500001"
      else s"(shiftright(h, $b) & 1) = 1"
    val bitSums = df
      .select(col(idCol).as("doc_id"), explode(expr(tokenHash)).as("h"))
      .groupBy("doc_id")
      .agg(
        sum(when(expr(bitCond(0)), 1).otherwise(-1)).as("b0"),
        (1 until 64).map(b =>
          sum(when(expr(bitCond(b)), 1).otherwise(-1)).as(s"b$b")): _*)
    val simhash = (0 until 64)
      .map(b => (col(s"b$b") >= 0).cast("long") * lit(1L << b))
      .reduce(_ + _)
    bitSums.select(col("doc_id"), simhash.as("sh"))
  }
}
