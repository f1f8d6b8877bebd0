package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.engine.expr.DotProduct

/**
 * Embedding-similarity operators (library API). All dot products go
 * through the native codegen [[DotProduct]] expression; every variant
 * bounds its pairwise stage (probe set, block, or bucket) — never N×N
 * over the corpus.
 */
object Similarity {

  /** vectors normalized with an L2-norm column attached; `vecCol` must be
    * array<float> or array<double>. */
  private def withNorm(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("__id"), col(vecCol).cast("array<double>").as("__e"))
      .withColumn("__nrm", sqrt(DotProduct.dot(col("__e"), col("__e"))))

  /** Rounded decimal cosine between the pre-normalized internal columns. */
  private def cosine(ea: Column, eb: Column, na: Column, nb: Column): Column =
    round(DotProduct.dot(ea, eb) / (na * nb), 4).cast("decimal(7,4)")

  /** Exact top-k cosine neighbors for each probe row (brute force over the
    * corpus, broadcast probes — the baseline ANN answers are judged
    * against). Output: (probe_id, rn, neighbor_id, sim). */
  def cosineTopK(vectors: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val n = withNorm(vectors, idCol, vecCol)
    val p = withNorm(probes, idCol, vecCol)
      .select(col("__id").as("__pid"), col("__e").as("__pe"), col("__nrm").as("__pn"))
    val w = Window.partitionBy("probe_id").orderBy(col("sim").desc, col("neighbor_id"))
    n.crossJoin(broadcast(p))
      .where(col("__id") =!= col("__pid"))
      .select(col("__pid").as("probe_id"), col("__id").as("neighbor_id"),
        cosine(col("__pe"), col("__e"), col("__pn"), col("__nrm")).as("sim"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select("probe_id", "rn", "neighbor_id", "sim")
  }

  /** Approximate top-k via signed-random-projection (SRP) LSH with
    * engine-portable planes (oracle-checkable, r04): table buckets come
    * from the integer-arithmetic SRP planes ([[srpBuckets]] — the q34/q49
    * machinery), candidates from bucket collisions, exact rounded-decimal
    * cosine re-rank. Probes search only vectors sharing ≥1 bucket, so
    * search touches O(candidates), not O(corpus). The planes compute
    * IDENTICALLY in any engine, which is what lets q63 carry a full
    * DuckDB oracle. */
  def srpTopKPortable(vectors: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int, tables: Int = 8, bitsPerTable: Int = 6,
      dim: Int = 0): DataFrame = {
    val planeDim =
      if (dim > 0) dim
      else vectors.select(size(col(vecCol)).as("d")).head().getInt(0)
    def buckets(df: DataFrame): DataFrame =
      withNorm(df, idCol, vecCol)
        .select(col("__id"), col("__e"), col("__nrm"),
          posexplode(array(srpBuckets(col("__e"), tables, bitsPerTable, planeDim): _*))
            .as(Seq("table", "bucket")))
    val corpus = buckets(vectors)
    val probeB = buckets(probes).select(col("__id").as("__pid"),
      col("__e").as("__pe"), col("__nrm").as("__pn"), col("table"), col("bucket"))
    val w = Window.partitionBy("probe_id").orderBy(col("sim").desc, col("neighbor_id"))
    corpus.join(probeB, Seq("table", "bucket"))
      .where(col("__id") =!= col("__pid"))
      .select(col("__pid").as("probe_id"), col("__id").as("neighbor_id"),
        cosine(col("__pe"), col("__e"), col("__pn"), col("__nrm")).as("sim"))
      .distinct() // a pair may collide in several tables
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select("probe_id", "rn", "neighbor_id", "sim")
  }

  /** IVF (inverted-file) approximate top-k — the sublinear ANN search
    * path: a coarse quantizer assigns every corpus vector to its nearest
    * centroid cell ([[Clustering.assign]], integer-micros L2 — portable),
    * probes pick their `nprobe` nearest cells under the SAME metric, and
    * the exact rounded-decimal cosine re-rank runs only inside the probed
    * cells — search touches ~nprobe/nlist of the corpus. Extracted from
    * q50 (r05) so the recall/nprobe trade is testable on arbitrary vector
    * geometries; recall depends on the data being CLUSTERED — on
    * unclustered vectors recall ≈ the scan fraction by theory
    * (SimilaritySpec pins both regimes).
    *
    * `centroids`: (cid, cv: array<double>). Output: (probe_id, rn,
    * neighbor_id, sim DECIMAL(7,4)) like [[cosineTopK]]. */
  def ivfTopK(vectors: DataFrame, probes: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int): DataFrame = {
    val emb = vectors
      .select(col(idCol).as("neighbor_id"), col(vecCol).cast("array<double>").as("e"))
      .withColumn("nrm", sqrt(DotProduct.dot(col("e"), col("e"))))
    // inverted lists: one row per vector (broadcast centroids, map-side)
    val cells = Clustering.assign(vectors, idCol, vecCol, centroids)
      .select(col(idCol).as("neighbor_id"), col("cluster").as("cell"))
    val p = probes
      .select(col(idCol).as("probe_id"), col(vecCol).cast("array<double>").as("pe"))
      .withColumn("pn", sqrt(DotProduct.dot(col("pe"), col("pe"))))
    // coarse: the probe's nprobe nearest cells under the same metric
    val d2 = DotProduct.dot(col("pe"), col("pe")) -
      lit(2d) * DotProduct.dot(col("pe"), col("cv")) +
      DotProduct.dot(col("cv"), col("cv"))
    val wCoarse = Window.partitionBy("probe_id").orderBy(col("d2m"), col("cell"))
    val chosen = p.crossJoin(broadcast(centroids))
      .withColumn("d2m", floor(d2 * lit(1000000d)))
      .withColumn("cell", col("cid"))
      .withColumn("crn", row_number().over(wCoarse))
      .where(col("crn") <= nprobe)
      .select("probe_id", "pe", "pn", "cell")
    // fine: exact rounded-decimal cosine inside the probed cells only
    val wFine = Window.partitionBy("probe_id").orderBy(col("sim").desc, col("neighbor_id"))
    chosen.join(cells, "cell")
      .join(emb, "neighbor_id")
      .where(col("neighbor_id") =!= col("probe_id"))
      .withColumn("sim",
        round(DotProduct.dot(col("pe"), col("e")) / (col("pn") * col("nrm")), 4)
          .cast("decimal(7,4)"))
      .withColumn("rn", row_number().over(wFine))
      .where(col("rn") <= k)
      .select("probe_id", "rn", "neighbor_id", "sim")
  }

  // ---- Engine-portable SRP blocking (oracle-checkable) -------------------
  // The planes are plain int64 arithmetic any engine reproduces
  // bit-for-bit — so SRP-blocked operators keep a DuckDB oracle:
  //   w_j[i] = (i * (2j+3) * 2654435761) % 1000003 - 500001   (i = 1..dim)
  // Bucket of table t = the bitsPerTable sign bits of planes
  // j = t*bitsPerTable+b. Near-random vectors spread ~uniformly, so block
  // size ≈ n / 2^bitsPerTable: bitsPerTable scales as log2(n/targetBlock),
  // the knob that keeps per-block pairwise work CONSTANT as the corpus
  // grows — unlike metadata blocking (fixed block count, blocks grow
  // linearly, pairwise work quadratically).

  /** Integer-valued weights of SRP plane `j` (exact in double: < 2^53). */
  private def planeWeights(j: Int, dim: Int): Seq[Double] =
    (1 to dim).map(i => ((i.toLong * (2L * j + 3) * 2654435761L) % 1000003L - 500001L).toDouble)

  /** One bucket column per SRP table, over a pre-cast array<double> column. */
  def srpBuckets(e: Column, tables: Int, bitsPerTable: Int, dim: Int): Seq[Column] =
    (0 until tables).map { t =>
      (0 until bitsPerTable).map { b =>
        when(DotProduct.dot(e, typedLit(planeWeights(t * bitsPerTable + b, dim))) >= 0,
          lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
    }

  /** DuckDB SQL computing the SAME bucket for table `t` over a DOUBLE[]
    * column expression `e` — used by the oracle queries. */
  def srpBucketSql(e: String, t: Int, bitsPerTable: Int, dim: Int): String =
    (0 until bitsPerTable).map { b =>
      val j = t * bitsPerTable + b
      s"(CASE WHEN list_dot_product($e, list_transform(range(1, ${dim + 1}), " +
        s"i -> CAST((i * ${2 * j + 3} * 2654435761) % 1000003 - 500001 AS DOUBLE))) >= 0 " +
        s"THEN ${1L << b} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** DuckDB SQL for table `t`'s bucket-membership rank (1-based, by id) —
    * the oracle twin of the `bucketCap` filter: a row participates in
    * table t's bucket only while its rank is within the cap. Emit as
    * `ROW_NUMBER() ... AS r$t` over a CTE that already has `b$t`. */
  def srpRankSql(idCol: String, t: Int): String =
    s"ROW_NUMBER() OVER (PARTITION BY b$t ORDER BY $idCol) AS r$t"

  /** Oracle fragments for capped SRP collision joins: (rank columns to add
    * on top of a b0..b{tables-1} CTE, the a-vs-b OR-collision condition
    * with both members inside the cap). Mirrors [[srpBandedPairs]]'s
    * `bucketCap` exactly. */
  def srpCapSql(idCol: String, tables: Int, cap: Int): (String, String) = (
    (0 until tables).map(t => srpRankSql(idCol, t)).mkString(", "),
    (0 until tables)
      .map(t => s"(a.b$t = b.b$t AND a.r$t <= $cap AND b.r$t <= $cap)")
      .mkString(" OR "))

  /** Pairs sharing ≥1 SRP table bucket whose rounded cosine meets
    * `threshold` — the content-derived replacement for metadata blocking:
    * candidate generation touches only bucket-colliding pairs, never a
    * metadata block that grows with the corpus.
    *
    * Shape (r04): ONE shuffle groups each (table, bucket)'s members into a
    * single array row, then the native [[graft.engine.expr.BucketPairDots]]
    * generator emits every member pair as a NARROW (ids, dot, norms) row —
    * vectors never leave the operator. The self-join formulation this
    * replaces materialized every candidate pair carrying both dim-sized
    * arrays through the join (~0.5 KB × millions of pairs — the dominant
    * cost of the whole query family). Rounding/threshold/dedup run as
    * ordinary columns AFTER the generator, so the arithmetic is the same
    * codegen path as before, bit-identical to the DuckDB oracles; a pair's
    * sim is identical in every table it collides in, so filter/dedup
    * commute. Output: (doc_a, doc_b, sim).
    *
    * `bucketCap` (r05, VERDICT r04 #2) bounds every bucket's collected row
    * to its `bucketCap` smallest ids BEFORE the collect — on degenerate
    * input (mass-duplicate vectors) every table degenerates to one bucket
    * holding the whole corpus, and an uncapped collect_list would build
    * one corpus-sized row. The rank filter is deterministic (id order) and
    * engine-portable: oracles reproduce it with [[srpRankSql]]. The window
    * shares the (table, bucket) shuffle key with the groupBy, so the cap
    * costs a per-partition sort, not an extra exchange. Dropped members
    * still pair through any OTHER table where their rank fits — same
    * capped-recall trade as every Dedup bucketCap/maxDocFreq. */
  def srpBandedPairs(vectors: DataFrame, idCol: String, vecCol: String,
      threshold: Double, dim: Int, tables: Int = 8,
      bitsPerTable: Int = 6, bucketCap: Int = 256): DataFrame = {
    val n = withNorm(vectors, idCol, vecCol)
    val nb = n.select(col("__id"), col("__e"), col("__nrm"),
      posexplode(array(srpBuckets(col("__e"), tables, bitsPerTable, dim): _*))
        .as(Seq("__t", "__bkt")))
    val wCap = Window.partitionBy("__t", "__bkt").orderBy("__id")
    nb.withColumn("__rk", row_number().over(wCap))
      .where(col("__rk") <= bucketCap)
      .groupBy("__t", "__bkt")
      .agg(collect_list(struct(col("__id"), col("__e"), col("__nrm"))).as("xs"))
      .select(graft.engine.expr.BucketPairDots.of(col("xs"))
        .as(Seq("doc_a", "doc_b", "__dot", "__na", "__nb")))
      .withColumn("sim",
        round(col("__dot") / (col("__na") * col("__nb")), 4).cast("decimal(7,4)"))
      .where(col("sim") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("sim"))
      .dropDuplicates("doc_a", "doc_b")
  }

  /** The self-join reference formulation of [[srpBandedPairs]] the native
    * generator path is equality-tested against (SimilaritySpec). */
  private[graft] def srpBandedPairsViaJoin(vectors: DataFrame, idCol: String,
      vecCol: String, threshold: Double, dim: Int, tables: Int = 8,
      bitsPerTable: Int = 6, bucketCap: Int = 256): DataFrame = {
    val n = withNorm(vectors, idCol, vecCol)
    val wCap = Window.partitionBy("__t", "__bkt").orderBy("__id")
    val nb = n.select(col("__id"), col("__e"), col("__nrm"),
      posexplode(array(srpBuckets(col("__e"), tables, bitsPerTable, dim): _*))
        .as(Seq("__t", "__bkt")))
      .withColumn("__rk", row_number().over(wCap))
      .where(col("__rk") <= bucketCap).drop("__rk")
    val a = nb.select(col("__t"), col("__bkt"), col("__id").as("doc_a"),
      col("__e").as("__ea"), col("__nrm").as("__na"))
    val b = nb.select(col("__t").as("__tb"), col("__bkt").as("__bktb"),
      col("__id").as("doc_b"), col("__e").as("__eb"), col("__nrm").as("__nb"))
    a.join(b, col("__t") === col("__tb") && col("__bkt") === col("__bktb")
        && col("doc_a") < col("doc_b"))
      .withColumn("sim", cosine(col("__ea"), col("__eb"), col("__na"), col("__nb")))
      .where(col("sim") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("sim"))
      .dropDuplicates("doc_a", "doc_b")
  }
}
