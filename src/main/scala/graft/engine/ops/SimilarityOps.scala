package graft.engine.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.engine.{QueryDef, Tables}

/**
 * Similarity / near-dup extensions beyond the core LlmOps set: SimHash,
 * n-gram Jaccard, embedding-cosine near-dup, and an IVF-style ANN path.
 *
 * Scale pattern shared by all of them: generate a small per-item signature
 * or block key map-side, shuffle once on that key, and do quadratic work
 * only inside bounded blocks.
 */
object SimilarityOps {

  /** SRP-banded candidate pairs over the embeddings table at the FAMILY
    * MINIMUM threshold (0.10), persisted + tracked (r18, VERDICT r17 #4).
    * q34 (≥0.30), q49 (≥0.40), q111 and q128 (≥0.10) previously each ran
    * the identical bucket→window-cap→collect→pair-generator→dedup pipeline
    * (same 8×6 SRP planes, same bucketCap) differing ONLY in the final
    * threshold filter; a pair's sim is identical in every table it
    * collides in, so threshold filtering commutes with the pair dedup
    * (the srpBandedPairs contract) and each query filters this shared
    * frame to its own threshold with bit-identical results. One bucket
    * pipeline per run instead of four; the persisted frame is the deduped
    * candidate-pair set — corpus-fraction-sized (pairs near cosine ≥ 0.10),
    * orders smaller than the vectors it derives from. */
  private[ops] def srpPairs(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.engine.CacheReaper.persist(
      graft.operators.Similarity
        .srpBandedPairs(Tables.table(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.10, dim = 64, tables = 8, bitsPerTable = 6, bucketCap = 256))

  /** The distinct-trigram shingle frame (doc_id, sh) over documents with
    * ≥3 tokens — the shared front end of q48 (banded-MinHash Jaccard),
    * q75 (CC over MinHash candidates) and q124 (posting-list Jaccard),
    * persisted + tracked (r18, VERDICT r17 #4) so the tokenize+hash pass
    * over the corpus runs once per run instead of three times. */
  private[graft] def shingled(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.engine.CacheReaper.persist(
      Tables.table(s, dir, "documents")
        .withColumn("l", split(col("text"), " "))
        .where(size(col("l")) >= 3)
        .select(col("doc_id"), graft.functions.GraftFunctions.hashedShingles("l").as("sh")))

  /** Verified fuzzy name pairs (str_a < str_b, 1 ≤ dist ≤ 3) over the
    * part-name vocabulary — the shared PassJoin candidate+verify pipeline
    * of q66 (fuzzy join) and q149 (entity resolution), persisted + tracked
    * (r18, VERDICT r17 #4): one segment-key explode + join + banded-DP
    * verification per run instead of two. Vocabulary-scale by contract
    * (distinct names), so the persist is metadata-sized. */
  private[graft] def fuzzyNamePairs(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.engine.CacheReaper.persist(
      graft.operators.FuzzyJoin
        .similarStringPairs(
          Tables.table(s, dir, "part").select("p_name"), "p_name", 3))

  // --- q47: SimHash near-dup candidates (portable bit-sampling hashes) ----
  // 64-bit SimHash per doc (sign of per-bit ±1 sums over token hashes),
  // then banded hamming search: 4 bands of 16 bits; near-dups (small
  // hamming distance) must collide in ≥1 band. Output: candidate pairs
  // with their actual bit agreement.
  //
  // Oracle (r04, VERDICT r03 #4): the bit hashes are the portable LCG
  // family (see Dedup.simhashCandidates `portable`), so DuckDB re-derives
  // the 64 bit arrays, band keys, the 2..64 bucket cap, and the identical
  // candidate set — the q48 recipe applied to bit sampling. The xxhash64
  // variant stays available as the library default.
  private val q47 = QueryDef(
    "q47_dedup_simhash",
    """WITH c AS (
      |  SELECT doc_id,
      |    list_transform(list_distinct(string_split(text, ' ')),
      |      t -> CAST(ascii(substr(t, 1, 1)) * 31 + length(t) AS BIGINT) % 1000003) AS hs
      |  FROM documents),
      |bt AS (
      |  SELECT doc_id,
      |    list_transform(range(0, 64), bb -> CASE WHEN
      |      list_sum(list_prepend(CAST(0 AS BIGINT), list_transform(hs,
      |        h -> CASE WHEN ((h * (2*bb+3)) % 1000003 * 2654435761) % 1000003 >= 500001
      |             THEN 1 ELSE -1 END))) >= 0 THEN 1 ELSE 0 END) AS bits
      |  FROM c),
      |k AS (
      |  SELECT doc_id, bits,
      |    unnest(range(0, 4)) AS band_id,
      |    unnest(list_transform(range(0, 4), g ->
      |      list_sum(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 16),
      |        j -> bits[CAST(g*16 + j + 1 AS INTEGER)] * (CAST(1 AS BIGINT) << CAST(j AS INTEGER))))))) AS band_key
      |  FROM bt),
      |g AS (SELECT band_id, band_key FROM k GROUP BY 1, 2
      |      HAVING COUNT(*) BETWEEN 2 AND 64),
      |e AS (SELECT k.* FROM k JOIN g USING (band_id, band_key))
      |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(list_sum(list_transform(range(1, 65),
      |    i -> CASE WHEN a.bits[CAST(i AS INTEGER)] = b.bits[CAST(i AS INTEGER)]
      |         THEN 1 ELSE 0 END)) AS BIGINT) AS matching_bits
      |FROM e a JOIN e b ON a.band_id = b.band_id AND a.band_key = b.band_key
      |                 AND a.doc_id < b.doc_id
      |ORDER BY matching_bits DESC, doc_a, doc_b LIMIT 200""".stripMargin) { (s, dir) =>
    graft.operators.Dedup
      .simhashCandidates(Tables.table(s, dir, "documents"), "doc_id", "text",
        bands = 4, bucketCap = 64, portable = true)
      .withColumn("matching_bits", col("matching_bits").cast("bigint"))
      .orderBy(col("matching_bits").desc, col("doc_a"), col("doc_b"))
      .limit(200)
  }

  // --- q48: token-3-gram (shingle) Jaccard, banded-MinHash blocked --------
  // Candidates come from CONTENT-derived banded MinHash over the shingle
  // sets, not from metadata blocks: 2 bands × 2 permutation minima each —
  // docs colliding in ≥1 band become candidates, then exact Jaccard ranks
  // them. Block key cardinality grows WITH the corpus (band keys are
  // content hashes), so per-block pairwise work stays constant at 100 TB —
  // unlike the previous (lang, source) blocking with its fixed 100 blocks.
  // Everything is engine-portable arithmetic (polynomial shingle hash, the
  // same first-char/length token code as q46; linear-congruential band
  // permutations mod 1e9+7) so the DuckDB oracle reproduces the IDENTICAL
  // candidate set — measured max band-group size at sf0.01: 3 docs.
  //
  // The shingle hash has more collisions than xxhash64 (token code =
  // first char × 31 + length), which slightly inflates intersections —
  // IDENTICALLY in both engines, so the compare stays exact.
  private val q48 = QueryDef(
    "q48_dedup_ngram_jaccard",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents
      |           WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(l) - 1),
      |    i -> (((CAST(ascii(substr(l[i],1,1))*31 + length(l[i]) AS BIGINT)) * 131
      |          + (ascii(substr(l[i+1],1,1))*31 + length(l[i+1]))) * 131
      |          + (ascii(substr(l[i+2],1,1))*31 + length(l[i+2]))) % 1000000007)) AS sh
      |  FROM t),
      |k AS (SELECT doc_id, sh,
      |  list_min(list_transform(sh, h -> (37*h + 11) % 1000000007)) * 1000000007
      |    + list_min(list_transform(sh, h -> (101*h + 29) % 1000000007)) AS k0,
      |  list_min(list_transform(sh, h -> (193*h + 71) % 1000000007)) * 1000000007
      |    + list_min(list_transform(sh, h -> (389*h + 113) % 1000000007)) AS k1
      |  FROM sh)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(CAST(CAST(len(list_intersect(a.sh, b.sh)) AS DECIMAL(18,6))
      |     / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS DECIMAL(38,6)) AS DOUBLE) AS jaccard
      |FROM k a JOIN k b ON a.doc_id < b.doc_id AND (a.k0 = b.k0 OR a.k1 = b.k1)
      |ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20""".stripMargin) { (s, dir) =>
    import graft.functions.GraftFunctions
    val sh = shingled(s, dir) // shared tokenize+hash pass (r18)
    val keyed = sh.select(col("doc_id"), col("sh"),
      posexplode(GraftFunctions.minhashBandKeys("sh")).as(Seq("band", "key")))
    val a = keyed.select(col("band"), col("key"),
      col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = keyed.select(col("band").as("band_b"), col("key").as("key_b"),
      col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    a.join(b, col("band") === col("band_b") && col("key") === col("key_b")
        && col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b") // a pair may collide in both bands
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("decimal(18,6)")
          / (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
          .cast("decimal(38,6)").cast("double").as("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b")).limit(20)
  }

  // --- q124: exact Jaccard via the inverted-index (posting) formulation ---
  // The sparse-corpus twin of q48 (r05, VERDICT r04 #6 — promoted from
  // test-gated library API to a driver-verified query): instead of
  // banded-MinHash candidate blocks, explode (doc, shingle) postings, join
  // on the shingle, and count co-occurrences — O(Σ df²) over genuinely
  // shared shingles, the right formulation when shingles are rare per doc
  // (natural text); `maxDocFreq = 50` excludes boilerplate shingles from
  // intersections AND set sizes (a true Jaccard over the capped shingle
  // universe — see Dedup.jaccardPostings). Unlike q48 this is EXHAUSTIVE
  // over the capped universe: no LSH recall loss. Same portable trigram
  // hashes and the q48 decimal-division chain, so the oracle re-derives
  // the identical postings, caps, and jaccard doubles.
  private val q124 = QueryDef(
    "q124_jaccard_postings",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents
      |           WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(l) - 1),
      |    i -> (((CAST(ascii(substr(l[i],1,1))*31 + length(l[i]) AS BIGINT)) * 131
      |          + (ascii(substr(l[i+1],1,1))*31 + length(l[i+1]))) * 131
      |          + (ascii(substr(l[i+2],1,1))*31 + length(l[i+2]))) % 1000000007)) AS sh
      |  FROM t),
      |p0 AS (SELECT doc_id, unnest(sh) AS s FROM sh),
      |keep AS (SELECT s FROM p0 GROUP BY s HAVING COUNT(*) <= 50),
      |p AS (SELECT doc_id, s FROM p0 JOIN keep USING (s)),
      |sz AS (SELECT doc_id, COUNT(*) AS sz FROM p GROUP BY doc_id),
      |i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      |      FROM p a JOIN p b ON a.s = b.s AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2)
      |SELECT doc_a, doc_b, inter, sa.sz AS size_a, sb.sz AS size_b,
      |  CAST(CAST(CAST(inter AS DECIMAL(18,6)) / (sa.sz + sb.sz - inter) AS DECIMAL(38,6)) AS DOUBLE) AS jaccard
      |FROM i JOIN sz sa ON sa.doc_id = i.doc_a JOIN sz sb ON sb.doc_id = i.doc_b
      |WHERE CAST(CAST(CAST(inter AS DECIMAL(18,6)) / (sa.sz + sb.sz - inter) AS DECIMAL(38,6)) AS DOUBLE) >= 0.5
      |ORDER BY jaccard DESC, doc_a, doc_b LIMIT 200""".stripMargin) { (s, dir) =>
    val sh = shingled(s, dir) // shared tokenize+hash pass (r18)
    graft.operators.Dedup
      .jaccardPostings(sh, "doc_id", "sh", minJaccard = 0.5, maxDocFreq = 50)
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b")).limit(200)
  }

  // --- q49: embedding-cosine near-dup survivors, SRP-blocked --------------
  // A vector is a "dup" if a LOWER-id vector sharing ≥1 of its SRP table
  // buckets has rounded cosine ≥ 0.40; survivors = the rest. min-id
  // survivorship is the same deterministic rule q30 uses. The SRP buckets
  // are content-derived (engine-portable arithmetic — see
  // Similarity.srpBandedPairs), replacing label blocking whose fixed block
  // count makes per-block work quadratic in the corpus; the oracle
  // reproduces the identical buckets.
  private val q49 = {
    val buckets = (0 until 8).map(t =>
      s"${graft.operators.Similarity.srpBucketSql("e", t, 6, 64)} AS b$t").mkString(", ")
    // r05: oracle carries srpBandedPairs' bucketCap — see q34
    val (ranks, orCond) = graft.operators.Similarity.srpCapSql("vec_id", 8, 256)
    QueryDef(
      "q49_dedup_embed",
      s"""WITH n AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
         |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
         |  FROM embeddings),
         |nb AS (SELECT vec_id, label, e, nrm, $buckets FROM n),
         |nr AS (SELECT *, $ranks FROM nb),
         |dups AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM nr a JOIN nr b ON a.vec_id < b.vec_id AND ($orCond)
         |  WHERE CAST(ROUND(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4) AS DECIMAL(7,4)) >= 0.40)
         |SELECT label, COUNT(*) AS n_total,
         |  COUNT(*) FILTER (WHERE vec_id IN (SELECT vec_id FROM dups)) AS n_dups,
         |  COUNT(*) FILTER (WHERE vec_id NOT IN (SELECT vec_id FROM dups)) AS n_survivors
         |FROM n GROUP BY label ORDER BY label""".stripMargin) { (s, dir) =>
      val emb = Tables.table(s, dir, "embeddings")
      // shared SRP pair frame at the family-min threshold, filtered to this
      // query's 0.40 (bit-identical — see srpPairs; r18)
      val dups = srpPairs(s, dir)
        .where(col("sim") >= 0.40)
        .select(col("doc_b").as("vec_id")).distinct()
        .withColumn("is_dup", lit(1))
      emb.select("vec_id", "label").join(dups, Seq("vec_id"), "left")
        .groupBy("label")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("is_dup").isNotNull, 1).otherwise(0)).as("n_dups"),
          sum(when(col("is_dup").isNull, 1).otherwise(0)).as("n_survivors"))
        .orderBy("label")
    }
  }

  // --- q50: IVF ANN (seeded Voronoi cells, portable metric) ---------------
  // The inverted-file pattern that makes ANN sublinear at 100 TB: a coarse
  // quantizer assigns every vector to its nearest of nlist=10 cells;
  // probes scan only their nprobe=2 nearest cells, then exact-cosine
  // re-rank. r04 upgrade: the cells are CONTENT-derived Voronoi cells of
  // 10 seed centroids under the q102 integer-micros L2 metric (they were
  // per-LABEL mean cells before — metadata partitioning, the same flaw r02
  // fixed for q48's blocking; measured cell sizes 39-59 of 500, ~n/nlist).
  // Everything (assignment, probe cell choice, re-rank) is portable
  // arithmetic, so the oracle re-derives the identical inverted lists,
  // probed cells, and top-k — no-oracle set 6 -> 5. Float-TRAINED
  // centroids remain available via Clustering.kmeans (q102, test-gated);
  // at 100 TB the quantizer is trained on a sample either way, and the
  // search-path mechanics graded here are identical.
  private val q50 = QueryDef(
    "q50_ann_ivf",
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      |n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
      |c AS (SELECT vec_id AS cid, e AS cv FROM v WHERE vec_id < 10),
      |d AS (SELECT n.vec_id, c.cid,
      |    CAST(floor((list_dot_product(n.e, n.e) - 2*list_dot_product(n.e, c.cv)
      |      + list_dot_product(c.cv, c.cv)) * 1000000) AS BIGINT) AS d2m
      |  FROM n CROSS JOIN c),
      |a AS (SELECT vec_id AS neighbor_id, cid AS cell FROM (
      |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2m, cid) AS rn FROM d) t
      |  WHERE rn = 1),
      |p AS (SELECT vec_id AS probe_id, e AS pe, nrm AS pn FROM n WHERE vec_id < 5),
      |pc AS (SELECT probe_id, cell FROM (
      |    SELECT p.probe_id, c.cid AS cell,
      |      ROW_NUMBER() OVER (PARTITION BY p.probe_id ORDER BY
      |        CAST(floor((list_dot_product(p.pe, p.pe) - 2*list_dot_product(p.pe, c.cv)
      |          + list_dot_product(c.cv, c.cv)) * 1000000) AS BIGINT), c.cid) AS crn
      |    FROM p CROSS JOIN c) t WHERE crn <= 2),
      |s AS (SELECT pc.probe_id, a.neighbor_id,
      |    CAST(ROUND(list_dot_product(p2.pe, nn.e) / (p2.pn * nn.nrm), 4) AS DECIMAL(7,4)) AS sim
      |  FROM pc JOIN a ON pc.cell = a.cell
      |          JOIN p p2 ON pc.probe_id = p2.probe_id
      |          JOIN n nn ON a.neighbor_id = nn.vec_id
      |  WHERE a.neighbor_id <> pc.probe_id)
      |SELECT probe_id, rn, neighbor_id, CAST(sim AS DOUBLE) AS sim FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rn FROM s) t
      |WHERE rn <= 5 ORDER BY probe_id, rn""".stripMargin) { (s, dir) =>
    // the whole IVF pipeline lives in Similarity.ivfTopK (extracted r05 so
    // the recall/nprobe trade is testable on clustered geometries too)
    val emb = Tables.table(s, dir, "embeddings")
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"),
        col("embedding").cast("array<double>").as("cv"))
    graft.operators.Similarity
      .ivfTopK(emb, emb.where(col("vec_id") < 5), centroids,
        "vec_id", "embedding", k = 5, nprobe = 2)
      .withColumn("sim", col("sim").cast("double"))
      .orderBy("probe_id", "rn")
  }

  // --- q63: SRP-LSH ANN (portable integer planes) --------------------------
  // The LSH-bucketed scale path the brief names alongside IVF: probes
  // search only bucket-colliding vectors, exact-cosine re-rank.
  //
  // Oracle (r04): the hyperplanes are the q34/q49 integer-arithmetic SRP
  // family (srpBuckets/srpBucketSql), so DuckDB re-derives the 8 table
  // buckets, the collision candidate set, and the rounded-decimal re-rank
  // — no-oracle set 7 → 6 (what remains is the theoretically engine-bound
  // set: HLL/percentile sketches, the two engine samplers, the q42 stream
  // runtime). The xxhash64-plane srpTopK stays the library default;
  // exactness vs q33's brute force also asserted in the test suite.
  private val q63 = {
    val buckets = (0 until 8).map(t =>
      s"${graft.operators.Similarity.srpBucketSql("e", t, 6, 64)} AS b$t").mkString(", ")
    val orCond = (0 until 8).map(t => s"a.b$t = p.b$t").mkString(" OR ")
    QueryDef(
      "q63_ann_lsh",
      s"""WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
         |  FROM embeddings),
         |nb AS (SELECT vec_id, e, nrm, $buckets FROM n),
         |p AS (SELECT * FROM nb WHERE vec_id < 5),
         |cand AS (
         |  SELECT p.vec_id AS probe_id, a.vec_id AS neighbor_id,
         |    CAST(ROUND(list_dot_product(p.e, a.e) / (p.nrm * a.nrm), 4) AS DECIMAL(7,4)) AS sim
         |  FROM nb a JOIN p ON a.vec_id <> p.vec_id AND ($orCond)),
         |ranked AS (
         |  SELECT probe_id, neighbor_id, sim,
         |    ROW_NUMBER() OVER (PARTITION BY probe_id
         |      ORDER BY sim DESC, neighbor_id) AS rn
         |  FROM cand)
         |SELECT probe_id, rn, neighbor_id, CAST(sim AS DOUBLE) AS sim
         |FROM ranked WHERE rn <= 5 ORDER BY probe_id, rn""".stripMargin) { (s, dir) =>
      val emb = Tables.table(s, dir, "embeddings")
      graft.operators.Similarity
        .srpTopKPortable(emb, emb.where(col("vec_id") < 5), "vec_id", "embedding",
          k = 5, tables = 8, bitsPerTable = 6, dim = 64)
        .withColumn("sim", col("sim").cast("double"))
        .orderBy("probe_id", "rn")
    }
  }

  // --- q66: edit-distance fuzzy matching, PassJoin content blocking -------
  // The string-similarity member of the dedup family: same-(brand, type)
  // row pairs whose names are within edit distance 3. The SEMANTICS keep
  // the brand/type restriction (it is part of the query, enforced as a
  // verify-stage filter), but the r05 plan derives CANDIDATES from string
  // content, not metadata (VERDICT r04 #1 — metadata blocks grow linearly
  // with the corpus, so their pairwise stage is quadratic at 100×):
  //   1. pairwise edit distance runs over DISTINCT names only, blocked by
  //      the PassJoin segment pigeonhole (operators/FuzzyJoin — lossless,
  //      vocabulary-scale, linear candidate volume; StressFuzzy table);
  //   2. verified name pairs expand back to row pairs via joins;
  //   3. the identical-name (dist 0) family is a group-self-join, rank-
  //      pruned to the 201 smallest keys per (name, brand, type): a pair
  //      using a key ranked >201 is preceded by ≥200 smaller same-group
  //      pairs, so it cannot reach the global dist-first top-200 — the
  //      prune that keeps exact-dup expansion from going quadratic.
  // The blocking is lossless, so the oracle stays fully declarative (the
  // same brand/type-blocked brute force as before); both engines implement
  // classic Wagner-Fischer, so distances agree exactly.
  private val q66 = QueryDef(
    "q66_fuzzy_levenshtein",
    """SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
      |  levenshtein(a.p_name, b.p_name) AS dist
      |FROM part a JOIN part b
      |  ON a.p_brand = b.p_brand AND a.p_type = b.p_type AND a.p_partkey < b.p_partkey
      |WHERE levenshtein(a.p_name, b.p_name) <= 3
      |ORDER BY dist, key_a, key_b LIMIT 200""".stripMargin) { (s, dir) =>
    val p = Tables.table(s, dir, "part").select("p_partkey", "p_brand", "p_type", "p_name")
    val nn = fuzzyNamePairs(s, dir) // shared PassJoin pipeline with q149 (r18)
    // expansion needs both orientations: row a carries str_a, row b str_b.
    // Explode, not union-of-self: a union would duplicate the whole
    // candidate pipeline in the plan (PlanSuite counts its joins).
    val sym = nn.select(explode(array(
        struct(col("str_a"), col("str_b"), col("dist")),
        struct(col("str_b").as("str_a"), col("str_a").as("str_b"), col("dist")))).as("p"))
      .select(col("p.str_a").as("str_a"), col("p.str_b").as("str_b"), col("p.dist").as("dist"))
    val w = Window.partitionBy("p_name", "p_brand", "p_type").orderBy("p_partkey")
    val pruned = p.withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= 201).drop("__rk")
    val exact = pruned.as("a").join(pruned.as("b"),
        col("a.p_name") === col("b.p_name") && col("a.p_brand") === col("b.p_brand")
          && col("a.p_type") === col("b.p_type")
          && col("a.p_partkey") < col("b.p_partkey"))
      .select(col("a.p_partkey").as("key_a"), col("b.p_partkey").as("key_b"),
        lit(0).as("dist"))
    val near = p.as("a")
      .join(broadcast(sym), col("a.p_name") === col("str_a")) // vocabulary-scale
      .join(p.as("b"), col("b.p_name") === col("str_b")
        && col("a.p_brand") === col("b.p_brand") && col("a.p_type") === col("b.p_type")
        && col("a.p_partkey") < col("b.p_partkey"))
      .select(col("a.p_partkey").as("key_a"), col("b.p_partkey").as("key_b"), col("dist"))
    exact.unionByName(near).orderBy("dist", "key_a", "key_b").limit(200)
  }

  // --- q75: near-dup candidate pairs → connected components (clusters) ----
  // The clustering step production dedup needs on top of candidate pairs:
  // banded-MinHash candidates (q48's keys) become an edge list, connected
  // components find the transitive dedup groups, and each group's min id is
  // the survivor (q30's rule). Spark side: iterative min-label propagation
  // (Dedup.connectedComponents, one edge shuffle per round, converged in a
  // few rounds — near-dup clusters have tiny diameter). Oracle: recursive
  // CTE transitive closure over the identical (engine-portable) edge list.
  private val q75 = QueryDef(
    "q75_dedup_components",
    """WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents
      |           WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(l) - 1),
      |    i -> (((CAST(ascii(substr(l[i],1,1))*31 + length(l[i]) AS BIGINT)) * 131
      |          + (ascii(substr(l[i+1],1,1))*31 + length(l[i+1]))) * 131
      |          + (ascii(substr(l[i+2],1,1))*31 + length(l[i+2]))) % 1000000007)) AS sh
      |  FROM t),
      |k AS (SELECT doc_id,
      |  list_min(list_transform(sh, h -> (37*h + 11) % 1000000007)) * 1000000007
      |    + list_min(list_transform(sh, h -> (101*h + 29) % 1000000007)) AS k0,
      |  list_min(list_transform(sh, h -> (193*h + 71) % 1000000007)) * 1000000007
      |    + list_min(list_transform(sh, h -> (389*h + 113) % 1000000007)) AS k1
      |  FROM sh),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      |  FROM k a JOIN k b ON a.doc_id < b.doc_id AND (a.k0 = b.k0 OR a.k1 = b.k1)),
      |edges AS (SELECT u, v FROM pairs UNION SELECT v AS u, u AS v FROM pairs),
      |nodes AS (SELECT DISTINCT u AS node FROM edges),
      |reach AS (
      |  SELECT node AS src, node AS dst FROM nodes
      |  UNION
      |  SELECT r.src, e.v AS dst FROM reach r JOIN edges e ON r.dst = e.u)
      |SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members
      |FROM (SELECT src, CAST(MIN(dst) AS BIGINT) AS component FROM reach GROUP BY src)
      |GROUP BY component ORDER BY n_members DESC, component LIMIT 100""".stripMargin) { (s, dir) =>
    import graft.functions.GraftFunctions
    val sh = shingled(s, dir) // shared tokenize+hash pass (r18)
    val keyed = sh.select(col("doc_id"),
      posexplode(GraftFunctions.minhashBandKeys("sh")).as(Seq("band", "key")))
    val a = keyed.select(col("band"), col("key"), col("doc_id").as("doc_a"))
    val b = keyed.select(col("band").as("band_b"), col("key").as("key_b"),
      col("doc_id").as("doc_b"))
    val pairs = a.join(b, col("band") === col("band_b") && col("key") === col("key_b")
        && col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    // candidate-pair edges are corpus-fraction-sized: right-size the
    // iterative stage's shuffles instead of inheriting the scan's count
    graft.operators.Dedup.connectedComponents(pairs, "doc_a", "doc_b",
        shufflePartitions = Some(8))
      .groupBy(col("label").as("component"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(col("n_members").desc, col("component"))
      .limit(100)
  }

  // --- q88: exact-substring dedup (shared k-token window, k=8) ------------
  // The other industrial dedup family besides MinHash: flag doc pairs that
  // share ANY run of k consecutive tokens, via an inverted index over
  // portable rolling window hashes (Dedup.substringPairs — one shuffle to
  // postings, hot-window df cap bounds quadratic work). The window-hash
  // arithmetic is the same fold in both engines, so the oracle reproduces
  // the exact candidate set; the oracle SQL's nested fold is generated
  // from the same k below.
  private val substringK = 8
  private val substringCap = 50

  /** DuckDB mirror of Dedup.windowHashes' fold, generated for the same k. */
  private def duckWindowHashes(toks: String, k: Int): String = {
    def code(e: String) = s"(CAST(ascii(substr($e, 1, 1)) AS BIGINT) * 31 + length($e))"
    def fold(j: Int): String =
      if (j == 0) code(s"$toks[i]")
      else s"((${fold(j - 1)}) * 131 + ${code(s"$toks[i + $j]")}) % 1000000007"
    s"list_distinct(list_transform(range(1, len($toks) - ${k - 1} + 1), i -> ${fold(k - 1)}))"
  }

  private val q88 = QueryDef(
    "q88_dedup_substring",
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |              WHERE len(string_split(text, ' ')) >= $substringK),
       |wh AS (SELECT doc_id, unnest(${duckWindowHashes("t", substringK)}) AS h FROM toks),
       |capped AS (SELECT h FROM wh GROUP BY h HAVING COUNT(*) <= $substringCap),
       |p AS (SELECT wh.doc_id, wh.h FROM wh JOIN capped USING (h))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
       |FROM p a JOIN p b ON a.h = b.h AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 ORDER BY doc_a, doc_b LIMIT 500""".stripMargin) { (s, dir) =>
    graft.operators.Dedup.substringPairs(
      Tables.table(s, dir, "documents").withColumn("t", split(col("text"), " ")),
      "doc_id", "t", k = substringK, maxDocFreq = substringCap)
      .orderBy("doc_a", "doc_b").limit(500)
  }

  // --- q97: per-label embedding centroids ---------------------------------
  // The embedding-AGGREGATION family (class prototypes, cluster centers,
  // drift monitors): mean vector per label. Float sums are partition-order
  // dependent, so both engines quantize each component to exact integer
  // micros first (float→double widening is exact; ×1e6 + floor is
  // deterministic IEEE) — the BIGINT sums are then order-free and the
  // final division is one deterministic double op. posexplode → one
  // shuffle on (label, dim); map-side partial sums do the heavy lifting,
  // the same shape at 100 TB with billions of vectors.
  private val q97 = QueryDef(
    "q97_embedding_centroids",
    """WITH q AS (
      |  SELECT label,
      |    UNNEST(range(len(embedding))) AS dim,
      |    UNNEST(list_transform(embedding,
      |      x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT))) AS v
      |  FROM embeddings)
      |SELECT label, dim, CAST(SUM(v) AS DOUBLE) / (COUNT(*) * 1000000.0) AS centroid
      |FROM q GROUP BY label, dim ORDER BY label, dim LIMIT 400""".stripMargin) { (s, dir) =>
    Tables.table(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("label"), col("dim"),
        floor(col("x").cast("double") * 1000000).cast("bigint").as("v"))
      .groupBy("label", "dim")
      .agg((sum(col("v")).cast("double")
        / (count(lit(1)) * lit(1000000.0))).as("centroid"))
      .orderBy("label", "dim").limit(400)
  }

  // --- q102: k-means nearest-centroid assignment --------------------------
  // The clustering primitive behind cluster-balanced sampling / topic-level
  // curation: assign every embedding to its nearest of k=8 centroids (the
  // vectors with vec_id < 8 — data-dependent but deterministic) by squared
  // L2. Distances are compared as floor(d2 × 1e6) BIGINTs with the
  // centroid id as tiebreak, so the argmin is integer-exact on any engine.
  // Scale shape (operators/Clustering.assign): centroids broadcast, the
  // k-rows-per-vector expansion collapses in map-side partial aggregation,
  // one shuffle of one row per vector. Lloyd's iterations are the library
  // API (Clustering.kmeans, test-gated — iterated float means are
  // engine-specific).
  private val q102 = QueryDef(
    "q102_kmeans_assign",
    """WITH c AS (SELECT vec_id AS cid,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      |  FROM embeddings WHERE vec_id < 8),
      |v AS (SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
      |  FROM embeddings),
      |d AS (SELECT vec_id, label, cid,
      |    CAST(floor((list_dot_product(ev, ev) - 2 * list_dot_product(ev, cv)
      |      + list_dot_product(cv, cv)) * 1000000) AS BIGINT) AS d2m
      |  FROM v CROSS JOIN c),
      |a AS (SELECT vec_id, label, cid, d2m,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2m, cid) AS rn
      |  FROM d)
      |SELECT cid AS cluster, COUNT(*) AS n_vectors,
      |  MIN(vec_id) AS first_vec, MAX(vec_id) AS last_vec,
      |  CAST(SUM(d2m) AS BIGINT) AS sum_d2_micros,
      |  CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels
      |FROM a WHERE rn = 1 GROUP BY cid ORDER BY cid""".stripMargin) { (s, dir) =>
    val emb = Tables.table(s, dir, "embeddings")
    val centroids = emb.where(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").cast("array<double>").as("cv"))
    graft.operators.Clustering.assign(emb, "vec_id", "embedding", centroids)
      .join(emb.select("vec_id", "label"), "vec_id")
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vectors"),
        min(col("vec_id")).as("first_vec"), max(col("vec_id")).as("last_vec"),
        sum(col("d2_micros")).as("sum_d2_micros"),
        countDistinct(col("label")).as("n_labels"))
      .orderBy("cluster")
  }

  // --- q111: hard-negative mining (contrastive-training data prep) --------
  // For each sampled anchor vector, the top-3 most-similar vectors of a
  // DIFFERENT label — the "hard negatives" contrastive/embedding training
  // pairs with each anchor. Candidate generation rides the same
  // engine-portable SRP blocks as q34/q49 (content-derived, block work
  // constant as the corpus grows); only bucket-colliding cross-label pairs
  // are scored, never anchors × corpus.
  private val q111 = {
    val buckets = (0 until 8).map(t =>
      s"${graft.operators.Similarity.srpBucketSql("e", t, 6, 64)} AS b$t").mkString(", ")
    // r05: oracle carries srpBandedPairs' bucketCap — see q34
    val (ranks, orCond) = graft.operators.Similarity.srpCapSql("vec_id", 8, 256)
    QueryDef(
      "q111_hard_negatives",
      s"""WITH n AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
         |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
         |  FROM embeddings),
         |nb AS (SELECT vec_id, label, e, nrm, $buckets FROM n),
         |nr AS (SELECT *, $ranks FROM nb),
         |pairs AS (
         |  SELECT DISTINCT a.vec_id AS anchor, a.label AS anchor_label,
         |    b.vec_id AS negative, b.label AS negative_label,
         |    CAST(ROUND(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4) AS DECIMAL(7,4)) AS sim
         |  FROM nr a JOIN nr b
         |    ON a.vec_id <> b.vec_id AND a.label <> b.label AND ($orCond)
         |  WHERE a.vec_id % 20 = 0),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor
         |      ORDER BY sim DESC, negative) AS rn
         |  FROM pairs WHERE sim >= 0.10)
         |SELECT anchor, rn, negative, CAST(sim AS DOUBLE) AS sim,
         |  anchor_label, negative_label
         |FROM ranked WHERE rn <= 3
         |ORDER BY anchor, rn LIMIT 300""".stripMargin) { (s, dir) =>
      val emb = Tables.table(s, dir, "embeddings")
      // Shared SRP pair frame (r18 — already at this query's 0.10
      // threshold). The r06 anchor pushdown below the pair dedup is
      // superseded by the share: the dedup runs once for the four-query
      // family on the full 0.10 pair set instead of once per query on the
      // anchored tenth — strictly less total dedup work, and the anchor
      // filter on the deduped frame is row-identical to the pushed-down
      // form. The oracle's pairs CTE anchors the same way.
      val pairs = srpPairs(s, dir)
        .where(col("doc_a") % 20 === 0 || col("doc_b") % 20 === 0)
      // symmetrize: srpBandedPairs emits each unordered pair once (a < b).
      // Explode, not union-of-self — a union would evaluate the whole SRP
      // candidate pipeline twice (the q66 r05 lesson)
      val sym = pairs.select(explode(array(
          struct(col("doc_a").as("anchor"), col("doc_b").as("negative"), col("sim")),
          struct(col("doc_b").as("anchor"), col("doc_a").as("negative"), col("sim")))).as("p"))
        .select(col("p.anchor").as("anchor"), col("p.negative").as("negative"),
          col("p.sim").as("sim"))
        .where(col("anchor") % 20 === 0)
      val lab = emb.select(col("vec_id"), col("label"))
      val w = Window.partitionBy("anchor").orderBy(col("sim").desc, col("negative"))
      sym
        .join(broadcast(lab.select(col("vec_id").as("anchor"), col("label").as("anchor_label"))), "anchor")
        .join(broadcast(lab.select(col("vec_id").as("negative"), col("label").as("negative_label"))), "negative")
        .where(col("anchor_label") =!= col("negative_label"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("anchor"), col("rn"), col("negative"),
          col("sim").cast("double").as("sim"),
          col("anchor_label"), col("negative_label"))
        .orderBy("anchor", "rn").limit(300)
    }
  }

  // --- q112: deterministic negative sampling (uniform negatives) ----------
  // The complement of q111's hard negatives: k pseudo-uniform negatives per
  // anchor, reproducible on any engine/partitioning. The candidate pool is
  // BOUNDED per label (the 8 vectors with smallest portable hash — a top-k
  // per label, partial-aggregatable at scale), broadcast, and each anchor
  // ranks the cross-label pool by a portable pair hash. No anchors×corpus
  // stage exists; everything after the pool build is map-only.
  private val q112 = QueryDef(
    "q112_negative_sampling",
    """WITH pool AS (
      |  SELECT vec_id, label, ROW_NUMBER() OVER (PARTITION BY label
      |      ORDER BY (vec_id * 2654435761) % 1000003, vec_id) AS pr
      |  FROM embeddings),
      |p AS (SELECT vec_id, label FROM pool WHERE pr <= 8),
      |anchors AS (SELECT vec_id AS anchor, label AS anchor_label
      |  FROM embeddings WHERE vec_id % 20 = 0),
      |scored AS (
      |  SELECT a.anchor, a.anchor_label, p.vec_id AS negative, p.label AS negative_label,
      |    (a.anchor * 40503 + p.vec_id * 2654435761) % 1000003 AS h
      |  FROM anchors a JOIN p ON a.anchor_label <> p.label),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor ORDER BY h, negative) AS rn
      |  FROM scored)
      |SELECT anchor, rn, negative, anchor_label, negative_label
      |FROM ranked WHERE rn <= 5
      |ORDER BY anchor, rn LIMIT 500""".stripMargin) { (s, dir) =>
    val emb = Tables.table(s, dir, "embeddings")
    val poolW = Window.partitionBy("label")
      .orderBy((col("vec_id") * 2654435761L) % 1000003L, col("vec_id"))
    val pool = emb.select(col("vec_id"), col("label"))
      .withColumn("pr", row_number().over(poolW)).where(col("pr") <= 8)
      .drop("pr")
    val anchors = emb.where(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("anchor"), col("label").as("anchor_label"))
    val w = Window.partitionBy("anchor").orderBy(col("h"), col("negative"))
    anchors.join(broadcast(pool), col("anchor_label") =!= col("label"))
      .select(col("anchor"), col("anchor_label"),
        col("vec_id").as("negative"), col("label").as("negative_label"),
        ((col("anchor") * 40503L + col("vec_id") * 2654435761L) % 1000003L).as("h"))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 5)
      .select("anchor", "rn", "negative", "anchor_label", "negative_label")
      .orderBy("anchor", "rn").limit(500)
  }

  // --- q125: int8 scalar quantization of embeddings (r06) -----------------
  // The vector-compression step every 100 TB embedding store runs before
  // ANN: per-vector max-abs scale, symmetric int8 codes (round-half-up,
  // clamped to ±127), plus the per-label reconstruction-error audit that
  // decides whether the compressed index is usable. 4x smaller vectors =
  // 4x more index per executor; the audit is the go/no-go signal.
  //
  // Engine-portable by the established recipe: codes are exact small
  // integers (floor-based round, deterministic in both engines), the
  // error is expressed through dot products (`d_ee − 2·s·d_eq + s²·d_qq`,
  // identical left-assoc operation order in both SQL texts, so the
  // doubles are bit-equal), and every aggregated value is floored to an
  // integer BEFORE the sum — no float summation-order hazard. Scale
  // shape: pure map work + one groupBy(label) shuffle of 4 numbers per
  // vector; nothing pairwise, nothing collected.
  private val q125 = QueryDef(
    "q125_embedding_quantize",
    """WITH v AS (SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      |s AS (SELECT vec_id, label, e,
      |    greatest(list_max(list_transform(e, x -> abs(x))), 0.000000001) AS scale FROM v),
      |q AS (SELECT vec_id, label, e, scale,
      |    list_transform(e, x -> CAST(greatest(-127, least(127,
      |      CAST(floor(x / scale * 127 + 0.5) AS BIGINT))) AS DOUBLE)) AS qd
      |  FROM s),
      |d AS (SELECT label, scale,
      |    list_dot_product(e, e) AS d_ee,
      |    list_dot_product(e, qd) AS d_eq,
      |    list_dot_product(qd, qd) AS d_qq,
      |    list_max(list_transform(qd, x -> abs(x))) AS maxq
      |  FROM q)
      |SELECT label, COUNT(*) AS n_vectors,
      |  CAST(SUM(CAST(d_qq AS BIGINT)) AS BIGINT) AS sum_qq,
      |  CAST(SUM(CAST(floor((d_ee - 2 * (scale / 127) * d_eq
      |      + (scale / 127) * (scale / 127) * d_qq) * 1000000000) AS BIGINT)) AS BIGINT)
      |    AS sum_err_nanos,
      |  CAST(MAX(maxq) AS BIGINT) AS max_abs_q
      |FROM d GROUP BY label ORDER BY label""".stripMargin) { (s, dir) =>
    import graft.engine.expr.DotProduct
    Tables.table(s, dir, "embeddings")
      .select(col("label"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
      .withColumn("scale",
        expr("greatest(array_max(transform(e, x -> abs(x))), 0.000000001d)"))
      .withColumn("qd", expr(
        """transform(e, x -> CAST(greatest(-127L, least(127L,
          |  CAST(floor(x / scale * 127d + 0.5d) AS BIGINT))) AS DOUBLE))""".stripMargin))
      .withColumn("d_ee", DotProduct.dot(col("e"), col("e")))
      .withColumn("d_eq", DotProduct.dot(col("e"), col("qd")))
      .withColumn("d_qq", DotProduct.dot(col("qd"), col("qd")))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("d_qq").cast("bigint")).as("sum_qq"),
        sum(expr(
          """CAST(floor((d_ee - 2d * (scale / 127d) * d_eq
            |  + (scale / 127d) * (scale / 127d) * d_qq) * 1e9d) AS BIGINT)""".stripMargin))
          .as("sum_err_nanos"),
        max(expr("CAST(array_max(transform(qd, x -> abs(x))) AS BIGINT)"))
          .as("max_abs_q"))
      .orderBy("label")
  }

  // --- q126: product quantization codes (r06) ------------------------------
  // The fine-quantization half of the IVF-PQ design every 100 TB ANN
  // deployment runs (q50 is the coarse half, q125 the scalar alternative):
  // the 64-dim space splits into m=8 subspaces of 8 dims; each subvector
  // maps to its nearest of 4 seeded codes (the slices of vec_id < 4 — the
  // q50/q102 seeded-codebook convention), so a vector stores 8 small codes
  // instead of 64 floats. Output: the per-(subspace, code) histogram and
  // distortion audit that decides codebook quality.
  //
  // Scale shape: the 32-row codebook broadcasts; assignment is MAP-ONLY —
  // argmin is a MIN aggregation over the integer key `d2m * 10 + cid`
  // (d2m floored micros, cid ∈ 0..3, so the min decodes to the
  // (d2m, cid)-lexicographic winner — no window, partial-aggregatable),
  // giving one map-side-combined shuffle of 8 rows per vector and a tiny
  // second agg. Engine-portable: slices, the dot-product L2 identity, and
  // the floor/encode arithmetic are identical in both SQL texts.
  private val q126 = QueryDef(
    "q126_pq_codes",
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |sub AS (SELECT vec_id, s, e[8*s+1 : 8*s+8] AS sv
      |  FROM v CROSS JOIN (SELECT unnest(range(0, 8)) AS s)),
      |cb AS (SELECT vec_id AS cid, s, sv AS cv FROM sub WHERE vec_id < 4),
      |d AS (SELECT sub.vec_id, sub.s, cb.cid,
      |    greatest(CAST(floor((list_dot_product(sv, sv) - 2 * list_dot_product(sv, cv)
      |      + list_dot_product(cv, cv)) * 1000000) AS BIGINT), 0) AS d2m
      |  FROM sub JOIN cb ON sub.s = cb.s),
      |a AS (SELECT vec_id, s, MIN(d2m * 10 + cid) AS k
      |  FROM d GROUP BY vec_id, s)
      |SELECT s AS subspace, CAST(k % 10 AS BIGINT) AS code,
      |  COUNT(*) AS n_assigned,
      |  CAST(SUM(k // 10) AS BIGINT) AS sum_d2_micros,
      |  CAST(MIN(vec_id) AS BIGINT) AS first_vec
      |FROM a GROUP BY 1, 2 ORDER BY subspace, code""".stripMargin) { (s, dir) =>
    import graft.engine.expr.DotProduct
    val v = Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
    val sub = v.select(col("vec_id"), explode(expr("sequence(0, 7)")).as("s"), col("e"))
      .withColumn("sv", expr("slice(e, 8 * s + 1, 8)")).drop("e")
    val cb = sub.where(col("vec_id") < 4)
      .select(col("vec_id").as("cid"), col("s").as("cs"), col("sv").as("cv"))
    sub.join(broadcast(cb), col("s") === col("cs"))
      // greatest(., 0): a code's distance to ITSELF is exactly 0, and the
      // float identity can land at -1e-13 → floor -1, which would corrupt
      // the k%10 decode; the clamp is deterministic in both engines.
      .withColumn("d2m",
        greatest(floor((DotProduct.dot(col("sv"), col("sv"))
          - lit(2d) * DotProduct.dot(col("sv"), col("cv"))
          + DotProduct.dot(col("cv"), col("cv"))) * lit(1000000d)).cast("bigint"),
          lit(0L)))
      .groupBy("vec_id", "s")
      .agg(min(col("d2m") * lit(10L) + col("cid")).as("k"))
      .groupBy(col("s").as("subspace"), (col("k") % 10).cast("bigint").as("code"))
      .agg(count(lit(1)).as("n_assigned"),
        sum(expr("k div 10")).as("sum_d2_micros"),
        min("vec_id").as("first_vec"))
      .orderBy("subspace", "code")
  }

  // --- q127: PQ asymmetric-distance (ADC) top-k search (r06) ---------------
  // The actual query path of an IVF-PQ deployment, completing q126: a probe
  // never touches raw corpus vectors — it computes an 8×4 distance TABLE to
  // the codebook once, then scores every vector as the SUM of table lookups
  // over its 8 stored codes. At 100 TB that is the whole point: the corpus
  // side of the search reads 8 small codes per vector (the q126 index),
  // not 64 floats, and the per-probe work is a broadcast of a 160-row
  // table. Exact integer arithmetic end-to-end after the per-cell floor
  // (code assignment = q126's MIN-key recipe; ADC sum = BIGINT), so the
  // oracle re-derives codes, tables, and the exact top-k.
  private val q127 = QueryDef(
    "q127_pq_adc_topk",
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |sub AS (SELECT vec_id, s, e[8*s+1 : 8*s+8] AS sv
      |  FROM v CROSS JOIN (SELECT unnest(range(0, 8)) AS s)),
      |cb AS (SELECT vec_id AS cid, s, sv AS cv FROM sub WHERE vec_id < 4),
      |d AS (SELECT sub.vec_id, sub.s, cb.cid,
      |    greatest(CAST(floor((list_dot_product(sv, sv) - 2 * list_dot_product(sv, cv)
      |      + list_dot_product(cv, cv)) * 1000000) AS BIGINT), 0) AS d2m
      |  FROM sub JOIN cb ON sub.s = cb.s),
      |codes AS (SELECT vec_id, s, CAST(MIN(d2m * 10 + cid) % 10 AS BIGINT) AS code
      |  FROM d GROUP BY vec_id, s),
      |pt AS (SELECT sub.vec_id AS probe_id, sub.s, cb.cid,
      |    greatest(CAST(floor((list_dot_product(sv, sv) - 2 * list_dot_product(sv, cv)
      |      + list_dot_product(cv, cv)) * 1000000) AS BIGINT), 0) AS pd2m
      |  FROM sub JOIN cb ON sub.s = cb.s
      |  WHERE sub.vec_id < 5),
      |adc AS (SELECT pt.probe_id, codes.vec_id,
      |    CAST(SUM(pt.pd2m) AS BIGINT) AS adc_micros
      |  FROM codes JOIN pt ON codes.s = pt.s AND codes.code = pt.cid
      |  WHERE codes.vec_id <> pt.probe_id
      |  GROUP BY pt.probe_id, codes.vec_id)
      |SELECT probe_id, rn, vec_id, adc_micros FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
      |      ORDER BY adc_micros, vec_id) AS rn
      |  FROM adc) t
      |WHERE rn <= 5 ORDER BY probe_id, rn""".stripMargin) { (s, dir) =>
    import graft.engine.expr.DotProduct
    val v = Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
    val sub = v.select(col("vec_id"), explode(expr("sequence(0, 7)")).as("s"), col("e"))
      .withColumn("sv", expr("slice(e, 8 * s + 1, 8)")).drop("e")
    val cb = sub.where(col("vec_id") < 4)
      .select(col("vec_id").as("cid"), col("s").as("cs"), col("sv").as("cv"))
    def d2m(a: org.apache.spark.sql.Column,
            b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      greatest(floor((DotProduct.dot(a, a) - lit(2d) * DotProduct.dot(a, b)
        + DotProduct.dot(b, b)) * lit(1000000d)).cast("bigint"), lit(0L))
    // the q126 index: 8 codes per vector, map-only + one combined shuffle
    val codes = sub.join(broadcast(cb), col("s") === col("cs"))
      .withColumn("k", d2m(col("sv"), col("cv")) * lit(10L) + col("cid"))
      .groupBy("vec_id", "s")
      .agg((min("k") % 10).cast("bigint").as("code"))
    // per-probe distance tables: 5 probes × 8 subspaces × 4 codes = 160 rows
    val pt = sub.where(col("vec_id") < 5)
      .join(broadcast(cb), col("s") === col("cs"))
      .select(col("vec_id").as("probe_id"), col("s").as("ps"),
        col("cid"), d2m(col("sv"), col("cv")).as("pd2m"))
    // ADC: table lookup per stored code, integer-sum per (probe, vector).
    // Co-locate each vector's 8 code rows first: `codes` comes out hashed
    // on (vec_id, s), so without this the (probe, vec) partial aggregation
    // combines almost nothing and the final exchange carries ~8× the
    // output rows (measured at 2M vectors in StressQuant).
    val adc = codes.repartition(col("vec_id"))
      .join(broadcast(pt), col("s") === col("ps") && col("code") === col("cid"))
      .where(col("vec_id") =!= col("probe_id"))
      .groupBy("probe_id", "vec_id")
      .agg(sum("pd2m").as("adc_micros"))
    // Per-probe top-k via the bounded-heap TopKPerGroup operator, NOT a
    // window: with few probes the window repartitions the whole scored
    // corpus into |probes| partitions and fully SORTS each. StressQuant
    // at 2M vectors: 36.5 s with the window, 6.0 s with co-location +
    // heap (O(n log k), no sort materialization). The rn window then
    // runs over the ≤ probes×k surviving rows — free.
    val top = graft.plans.TopKPerGroup(adc, Seq("probe_id"),
      Seq("adc_micros" -> true, "vec_id" -> true), 5)
    val w = Window.partitionBy("probe_id").orderBy(col("adc_micros"), col("vec_id"))
    top.withColumn("rn", row_number().over(w))
      .select("probe_id", "rn", "vec_id", "adc_micros")
      .orderBy("probe_id", "rn")
  }

  // --- q128: contrastive positives (same-label nearest neighbors) ---------
  // The missing half of the contrastive-pair family: q111 mines hard
  // NEGATIVES (nearest different-label), q112 random negatives — a
  // contrastive dataset also needs each anchor's POSITIVES, its top
  // same-label neighbors. Identical scale shape to q111 (SRP-banded
  // candidates, anchor pushdown below the pair dedup, explode
  // symmetrization, broadcast label joins) with the label predicate
  // flipped to equality and top-2 per anchor.
  private val q128 = {
    val buckets = (0 until 8).map(t =>
      s"${graft.operators.Similarity.srpBucketSql("e", t, 6, 64)} AS b$t").mkString(", ")
    val (ranks, orCond) = graft.operators.Similarity.srpCapSql("vec_id", 8, 256)
    QueryDef(
      "q128_contrastive_positives",
      s"""WITH n AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
         |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
         |  FROM embeddings),
         |nb AS (SELECT vec_id, label, e, nrm, $buckets FROM n),
         |nr AS (SELECT *, $ranks FROM nb),
         |pairs AS (
         |  SELECT DISTINCT a.vec_id AS anchor, b.vec_id AS positive, a.label,
         |    CAST(ROUND(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4) AS DECIMAL(7,4)) AS sim
         |  FROM nr a JOIN nr b
         |    ON a.vec_id <> b.vec_id AND a.label = b.label AND ($orCond)
         |  WHERE a.vec_id % 20 = 0),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor
         |      ORDER BY sim DESC, positive) AS rn
         |  FROM pairs WHERE sim >= 0.10)
         |SELECT anchor, rn, positive, CAST(sim AS DOUBLE) AS sim, label
         |FROM ranked WHERE rn <= 2
         |ORDER BY anchor, rn LIMIT 300""".stripMargin) { (s, dir) =>
      val emb = Tables.table(s, dir, "embeddings")
      // shared SRP pair frame + anchor filter — see q111 (r18)
      val pairs = srpPairs(s, dir)
        .where(col("doc_a") % 20 === 0 || col("doc_b") % 20 === 0)
      val sym = pairs.select(explode(array(
          struct(col("doc_a").as("anchor"), col("doc_b").as("positive"), col("sim")),
          struct(col("doc_b").as("anchor"), col("doc_a").as("positive"), col("sim")))).as("p"))
        .select(col("p.anchor").as("anchor"), col("p.positive").as("positive"),
          col("p.sim").as("sim"))
        .where(col("anchor") % 20 === 0)
      val lab = emb.select(col("vec_id"), col("label"))
      val w = Window.partitionBy("anchor").orderBy(col("sim").desc, col("positive"))
      sym
        .join(broadcast(lab.select(col("vec_id").as("anchor"), col("label").as("label"))), "anchor")
        .join(broadcast(lab.select(col("vec_id").as("positive"), col("label").as("p_label"))), "positive")
        .where(col("label") === col("p_label"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 2)
        .select(col("anchor"), col("rn"), col("positive"),
          col("sim").cast("double").as("sim"), col("label"))
        .orderBy("anchor", "rn").limit(300)
    }
  }

  // --- q149: entity resolution capstone (fuzzy match → cluster → canonical) -
  // The MDM pipeline end to end: q66's blocked fuzzy candidate machinery
  // (PassJoin segment keys over the DISTINCT name vocabulary + the
  // (brand, type) natural block) feeds q75's connected components, and
  // each cluster elects its canonical record (min key — the CC label by
  // the min-label convention) with its name. Everything stays blocked and
  // vocabulary-scale: no all-pairs on rows, the name-pair set is
  // broadcast, CC shuffles the pair aggregate only. Singleton records
  // (no fuzzy neighbor) are not clusters and don't appear — the q75
  // convention, mirrored by the oracle's edge-derived node set.
  /** The q149 atom graph: returns (atom groups g [persisted+tracked],
    * normalized undirected atom edges). */
  private def entityAtomGraph(s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val p = Tables.table(s, dir, "part")
      .select("p_partkey", "p_brand", "p_type", "p_name")
    val g = graft.engine.CacheReaper.persist(
      p.groupBy("p_name", "p_brand", "p_type")
        .agg(min("p_partkey").as("node"), count(lit(1)).as("cnt")))
    val nn = fuzzyNamePairs(s, dir) // shared PassJoin pipeline with q66 (r18)
    val sym = nn.select(explode(array(
        struct(col("str_a"), col("str_b")),
        struct(col("str_b").as("str_a"), col("str_a").as("str_b")))).as("pr"))
      .select(col("pr.str_a").as("str_a"), col("pr.str_b").as("str_b"))
    val edges = g.select(col("p_name").as("str_a"), col("p_brand"),
        col("p_type"), col("node").as("u"))
      .join(broadcast(sym), "str_a") // vocabulary-scale
      .join(g.select(col("p_name").as("str_b"), col("p_brand"),
        col("p_type"), col("node").as("v")), Seq("str_b", "p_brand", "p_type"))
      .where(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()
    (g, edges)
  }

  private val q149 = QueryDef(
    "q149_entity_resolution",
    """WITH RECURSIVE pairs AS (
      |  SELECT a.p_partkey AS u, b.p_partkey AS v
      |  FROM part a JOIN part b
      |    ON a.p_brand = b.p_brand AND a.p_type = b.p_type AND a.p_partkey < b.p_partkey
      |  WHERE levenshtein(a.p_name, b.p_name) <= 3),
      |edges AS (SELECT u, v FROM pairs UNION SELECT v AS u, u AS v FROM pairs),
      |nodes AS (SELECT DISTINCT u AS node FROM edges),
      |reach AS (
      |  SELECT node AS src, node AS dst FROM nodes
      |  UNION
      |  SELECT r.src, e.v AS dst FROM reach r JOIN edges e ON r.dst = e.u),
      |comp AS (SELECT src, CAST(MIN(dst) AS BIGINT) AS component FROM reach GROUP BY src),
      |cl AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members FROM comp GROUP BY component)
      |SELECT cl.component, cl.n_members, p.p_name AS canonical_name
      |FROM cl JOIN part p ON p.p_partkey = cl.component
      |ORDER BY cl.n_members DESC, cl.component LIMIT 100""".stripMargin) { (s, dir) =>
    val p = Tables.table(s, dir, "part")
      .select("p_partkey", "p_brand", "p_type", "p_name")
    // ATOM-LEVEL resolution — the 100 TB-correct altitude: all records
    // sharing (name, brand, type) are trivially one entity, so the CC
    // atom is the GROUP (node id = its min record key, the same min-label
    // the row formulation converges to), never the row. The row-level
    // pair set here is 84k pairs over 64 distinct names at sf0.1; the
    // atom edge set is vocabulary×blocks-sized — orders smaller, and the
    // gap widens with row count. Bit-identical to the oracle's row-level
    // recursive closure.
    val (g, edges) = entityAtomGraph(s, dir)
    // Bounded CC (r11): the atom graph is vocabulary-derived (distinct
    // names × blocks — 64 names / ~11k atom edges at sf0.1, growing with
    // the VOCABULARY, not the row count), so the edge set collects under
    // the default 64k guard and union-find labels it in one action; past
    // the guard the distributed CC runs unchanged on the already-
    // materialized edge cache (q75 exercises the distributed operator on
    // the document corpus every round).
    val comp = graft.operators.Dedup.connectedComponentsBounded(
      edges, "u", "v", shufflePartitions = Some(2))
    // groups with a fuzzy neighbor take their CC label; edge-less groups
    // are entities only if they hold ≥ 2 records (the row formulation's
    // exact pairs) — lone records are not clusters (q75 convention).
    val labeled = g.join(comp, Seq("node"), "left")
      .where(col("label").isNotNull || col("cnt") >= 2)
      .select(coalesce(col("label"), col("node")).as("component"), col("cnt"))
    labeled.groupBy("component")
      .agg(sum("cnt").as("n_members"))
      .join(p.select(col("p_partkey").as("component"),
        col("p_name").as("canonical_name")), "component")
      .select(col("component").cast("bigint").as("component"),
        col("n_members"), col("canonical_name"))
      .orderBy(col("n_members").desc, col("component")).limit(100)
  }

  def defs: Seq[QueryDef] =
    Seq(q47, q48, q49, q50, q63, q66, q75, q88, q97, q102, q111, q112, q124,
      q125, q126, q127, q128, q149)
}
