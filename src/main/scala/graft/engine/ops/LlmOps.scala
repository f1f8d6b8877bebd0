package graft.engine.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.engine.{QueryDef, Tables}

/**
 * LLM-data-pipeline operators (SURVEY §2.7): dedup, similarity search,
 * multimodal joins, text analysis — the operations a large-scale
 * training-data pipeline needs, expressed with codegen-friendly built-ins
 * (higher-order functions, no UDFs in the hot path).
 *
 * 100 TB stance: near-dup is signature/blocking-based (never all-pairs over
 * the corpus); similarity search restricts the pairwise stage to a small
 * probe set or an LSH/label block; every aggregation is shuffle-partitioned
 * on its group key.
 */
object LlmOps {

  /** Tokens of documents.text (space-separated by construction). */
  private val toks = split(col("text"), " ")

  // --- q30: exact dedup with deterministic survivor -----------------------
  // Window row_number=1, NOT dropDuplicates: dropDuplicates keeps an
  // arbitrary (partition-order-dependent) row; row_number pins the lowest
  // event_id. One shuffle on the dedup key — the 100 TB shape.
  private val q30 = QueryDef(
    "q30_dedup_exact",
    // Key = (user_id, event_type, hour): raw ts is UNIQUE per (user, type)
    // in this table, so deduping on it would never drop a row and a broken
    // row_number filter would pass vacuously — the hour key has 92 real
    // duplicate groups at sf0.01 (r04, measured), so survivor selection is
    // genuinely exercised.
    """SELECT event_id, user_id, event_type, hour FROM (
      |  SELECT event_id, user_id, event_type, date_trunc('hour', ts) AS hour,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type, date_trunc('hour', ts)
      |                       ORDER BY event_id) AS rn
      |  FROM events) t
      |WHERE rn = 1 ORDER BY event_id LIMIT 300""".stripMargin) { (s, dir) =>
    graft.operators.Dedup.exact(
      Tables.table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          date_trunc("hour", col("ts")).as("hour")),
      keys = Seq("user_id", "event_type", "hour"), survivorKey = "event_id")
      .orderBy("event_id").limit(300)
  }

  // --- q31: near-dup clustering by token-set signature --------------------
  // sort(distinct(tokens)) joined back to one string = an order/multiplicity
  // invariant signature; clusters = groups with ≥2 docs. Scales as a single
  // groupBy shuffle on the signature (vs O(n²) pairwise).
  private val q31 = QueryDef(
    "q31_dedup_signature",
    """SELECT array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ') AS sig,
      |  COUNT(*) AS n_docs, MIN(doc_id) AS canonical_doc
      |FROM documents
      |GROUP BY 1 HAVING COUNT(*) >= 2
      |ORDER BY n_docs DESC, canonical_doc LIMIT 100""".stripMargin) { (s, dir) =>
    graft.operators.Dedup
      .signatureClusters(Tables.table(s, dir, "documents"), "doc_id", "text")
      .select("sig", "n_docs", "canonical_doc")
      .orderBy(col("n_docs").desc, col("canonical_doc")).limit(100)
  }

  // --- q32: MinHash + LSH near-dup candidate pairs ------------------------
  // 16-permutation MinHash signature (min over the token set), banded 4×4:
  // docs colliding in ANY band become candidates. The whole pipeline is
  // explode + groupBy-equi-join — at 100 TB only docs sharing a band
  // bucket are ever paired, never all-pairs.
  //
  // Oracle (r04): the permutations are the portable LCG family over the
  // engine's shared token code (see Dedup.minhashCandidates `portable`),
  // so DuckDB re-derives the 16 signature minima, the polynomial band
  // keys, the 2..64 bucket cap, and the identical candidate set — the
  // q47/q48 recipe applied to MinHash. est_jaccard = n_eq/16 is dyadic,
  // so the double compare is exact. The xxhash64 variant stays the
  // library default (cross-checked against q31 in the test suite).
  private val q32 = QueryDef(
    "q32_dedup_minhash",
    """WITH c AS (
      |  SELECT doc_id,
      |    list_transform(list_distinct(string_split(text, ' ')),
      |      t -> CAST(ascii(substr(t, 1, 1)) * 31 + length(t) AS BIGINT) % 1000003) AS hs
      |  FROM documents),
      |m AS (
      |  SELECT doc_id,
      |    list_transform(range(0, 16), i ->
      |      list_min(list_transform(hs, h -> ((2*i+3) * h + 7*i+11) % 1000003))) AS sig
      |  FROM c),
      |k AS (
      |  SELECT doc_id, sig,
      |    unnest(range(0, 4)) AS band_id,
      |    unnest(list_transform(range(0, 4), g ->
      |      ((((((CAST(g AS BIGINT) * 131 + sig[CAST(g*4+1 AS INTEGER)]) % 1000000007) * 131
      |          + sig[CAST(g*4+2 AS INTEGER)]) % 1000000007) * 131
      |          + sig[CAST(g*4+3 AS INTEGER)]) % 1000000007 * 131
      |          + sig[CAST(g*4+4 AS INTEGER)]) % 1000000007)) AS band_key
      |  FROM m),
      |g2 AS (SELECT band_id, band_key FROM k GROUP BY 1, 2
      |       HAVING COUNT(*) BETWEEN 2 AND 64),
      |e AS (SELECT k.* FROM k JOIN g2 USING (band_id, band_key))
      |SELECT * FROM (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(list_sum(list_transform(range(1, 17),
      |      i -> CASE WHEN a.sig[CAST(i AS INTEGER)] = b.sig[CAST(i AS INTEGER)]
      |           THEN 1 ELSE 0 END)) AS DOUBLE) / 16 AS est_jaccard
      |  FROM e a JOIN e b ON a.band_id = b.band_id AND a.band_key = b.band_key
      |                   AND a.doc_id < b.doc_id) t
      |ORDER BY doc_a, doc_b LIMIT 500""".stripMargin) { (s, dir) =>
    // Library op: whole-stage-codegen minhash (explode + 16 min aggregates
    // in one pass), 4×4 banding, capped buckets, inline pair generation —
    // one shuffle, no self-join. See graft.operators.Dedup.
    graft.operators.Dedup
      .minhashCandidates(Tables.table(s, dir, "documents"), "doc_id", "text",
        numHashes = 16, bands = 4, bucketCap = 64, portable = true)
      .withColumn("est_jaccard", col("est_jaccard").cast("double"))
      .orderBy("doc_a", "doc_b").limit(500)
  }

  // --- q33: brute-force cosine top-k for a probe set ----------------------
  // The pairwise stage is probe-restricted (5 × N, broadcast probes), never
  // N × N. Dot products via zip_with/aggregate stay inside whole-stage
  // codegen — no UDF. Ranking happens on the ROUNDED decimal so rank ties
  // resolve identically in both engines.
  private val q33 = QueryDef(
    "q33_sim_cosine_topk",
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
      |p AS (SELECT vec_id AS probe_id, e AS pe, nrm AS pn FROM n WHERE vec_id < 5),
      |sims AS (
      |  SELECT p.probe_id, n.vec_id AS neighbor_id,
      |    CAST(ROUND(list_dot_product(pe, e) / (pn * nrm), 4) AS DECIMAL(7,4)) AS sim
      |  FROM p, n WHERE n.vec_id <> p.probe_id)
      |SELECT probe_id, rn, neighbor_id, CAST(sim AS DOUBLE) AS sim FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
      |             ORDER BY sim DESC, neighbor_id) AS rn FROM sims) t
      |WHERE rn <= 5 ORDER BY probe_id, rn""".stripMargin) { (s, dir) =>
    val emb = Tables.table(s, dir, "embeddings")
    graft.operators.Similarity
      .cosineTopK(emb, emb.where(col("vec_id") < 5), "vec_id", "embedding", k = 5)
      .withColumn("sim", col("sim").cast("double"))
      .orderBy("probe_id", "rn")
  }

  // --- q34: SRP-blocked similarity-threshold pair counts ------------------
  // Candidate pairs come from CONTENT-derived SRP buckets (8 tables × 6
  // sign bits, engine-portable arithmetic hyperplanes — see
  // Similarity.srpBandedPairs), then the exact rounded-cosine threshold,
  // rolled up by the lower id's label. This replaces metadata (label)
  // blocking, whose 10 fixed blocks grow linearly with the corpus (⇒
  // quadratic pairwise work at 100 TB); SRP block size is held constant by
  // scaling bitsPerTable with log2(corpus). The oracle reproduces the
  // identical buckets via the same integer arithmetic.
  private val q34 = {
    val buckets = (0 until 8).map(t =>
      s"${graft.operators.Similarity.srpBucketSql("e", t, 6, 64)} AS b$t").mkString(", ")
    // r05: the oracle carries srpBandedPairs' bucketCap (rank-within-
    // bucket ≤ 256 on both members) — non-binding at this sf (buckets are
    // ~n/64), but the arithmetic must stay identical at any scale.
    val (ranks, orCond) = graft.operators.Similarity.srpCapSql("vec_id", 8, 256)
    QueryDef(
      "q34_sim_threshold_count",
      s"""WITH n AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
         |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
         |  FROM embeddings),
         |nb AS (SELECT vec_id, label, e, nrm, $buckets FROM n),
         |nr AS (SELECT *, $ranks FROM nb)
         |SELECT a.label, COUNT(*) AS n_pairs
         |FROM nr a JOIN nr b ON a.vec_id < b.vec_id AND ($orCond)
         |WHERE CAST(ROUND(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4) AS DECIMAL(7,4)) >= 0.30
         |GROUP BY a.label ORDER BY a.label""".stripMargin) { (s, dir) =>
      val emb = Tables.table(s, dir, "embeddings")
      // label joins back onto the symmetric pair stream (a metadata lookup
      // on doc_a) rather than riding through the self-join — see
      // Similarity.srpBandedPairs on why the branches must stay symmetric.
      // r18: pairs come from the family-shared SRP frame (SimilarityOps.
      // srpPairs, built at the family-min 0.10 threshold) filtered to this
      // query's 0.30 — bit-identical, one bucket pipeline per run.
      SimilarityOps.srpPairs(s, dir)
        .where(col("sim") >= 0.30)
        .join(emb.select(col("vec_id").as("doc_a"), col("label")), "doc_a")
        .groupBy("label")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("label")
    }
  }

  // --- q35: multimodal join (text ⋈ vectors) ------------------------------
  private val q35 = QueryDef(
    "q35_multimodal_join",
    """SELECT label, lang, COUNT(*) AS n_docs,
      |  CAST(CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) / COUNT(*) AS DECIMAL(38,4)) AS DOUBLE) AS avg_chars
      |FROM documents JOIN embeddings ON doc_id = vec_id
      |GROUP BY label, lang ORDER BY label, lang""".stripMargin) { (s, dir) =>
    Tables.table(s, dir, "documents")
      .join(Tables.table(s, dir, "embeddings"), col("doc_id") === col("vec_id"))
      .groupBy("label", "lang")
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("n_chars").cast("decimal(18,2)")) / count(lit(1)))
          .cast("decimal(38,4)").cast("double").as("avg_chars"))
      .orderBy("label", "lang")
  }

  // --- q36: token frequency (explode + groupBy) ---------------------------
  private val q36 = QueryDef(
    "q36_text_tf",
    """SELECT lang, token, COUNT(*) AS n
      |FROM (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents) t
      |GROUP BY lang, token ORDER BY n DESC, lang, token LIMIT 50""".stripMargin) { (s, dir) =>
    Tables.table(s, dir, "documents")
      .select(col("lang"), explode(toks).as("token"))
      .groupBy("lang", "token")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("lang"), col("token")).limit(50)
  }

  // --- q37: bigram generation via a custom Catalyst Generator (UDTF) ------
  // BigramGenerator emits one row per consecutive token pair, selected
  // through its Column API like any built-in generator.
  private val q37 = QueryDef(
    "q37_text_bigrams",
    """SELECT lang, z[1] || ' ' || z[2] AS bigram, COUNT(*) AS n
      |FROM (SELECT lang, unnest(list_zip(l[1:len(l)-1], l[2:])) AS z
      |      FROM (SELECT lang, string_split(text, ' ') AS l FROM documents) t) u
      |GROUP BY lang, bigram ORDER BY n DESC, lang, bigram LIMIT 50""".stripMargin) { (s, dir) =>
    Tables.table(s, dir, "documents")
      .select(col("lang"),
        graft.engine.expr.BigramGenerator.of(split(col("text"), " ")).as("bigram"))
      .groupBy("lang", "bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("lang"), col("bigram")).limit(50)
  }

  // --- q38: per-(lang, source) text statistics ----------------------------
  // Doc-level stats and corpus-distinct-token stats aggregate at different
  // grains — two branches joined on the group key (one shuffle each).
  private val q38 = QueryDef(
    "q38_text_stats",
    """WITH doc_stats AS (
      |  SELECT lang, source, COUNT(*) AS n_docs,
      |    CAST(CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) / COUNT(*) AS DECIMAL(38,4)) AS DOUBLE) AS avg_chars
      |  FROM documents GROUP BY lang, source),
      |tok_stats AS (
      |  SELECT lang, source, COUNT(DISTINCT token) AS n_tokens
      |  FROM (SELECT lang, source, unnest(string_split(text, ' ')) AS token FROM documents) t
      |  GROUP BY lang, source)
      |SELECT d.lang, d.source, d.n_docs, d.avg_chars, t.n_tokens
      |FROM doc_stats d JOIN tok_stats t ON d.lang = t.lang AND d.source = t.source
      |ORDER BY d.lang, d.source""".stripMargin) { (s, dir) =>
    val docs = Tables.table(s, dir, "documents")
    val docStats = docs.groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("n_chars").cast("decimal(18,2)")) / count(lit(1)))
          .cast("decimal(38,4)").cast("double").as("avg_chars"))
    val tokStats = docs
      .select(col("lang").as("t_lang"), col("source").as("t_source"), explode(toks).as("token"))
      .groupBy("t_lang", "t_source")
      .agg(countDistinct(col("token")).as("n_tokens"))
    docStats
      .join(tokStats, col("lang") === col("t_lang") && col("source") === col("t_source"))
      .select("lang", "source", "n_docs", "avg_chars", "n_tokens")
      .orderBy("lang", "source")
  }

  // --- q70: incremental dedup against a fingerprint ledger -----------------
  // The production pattern: a persistent ledger of already-ingested content
  // fingerprints; each new batch anti-joins against it and only unseen
  // fingerprints pass (then get appended to the ledger). The ledger here is
  // simulated as the fingerprints of doc_id < 250. Keyed on the HEAD
  // fingerprint (first 5 tokens — the lede-dedup key) rather than the
  // full-text hash DELIBERATELY (r04): heads genuinely collide in this
  // corpus (10–23 ledger drops per sf, measured), so the anti-join's drop
  // path is exercised and a broken ledger join cannot silently pass the
  // oracle. One shuffle on the fingerprint; at 100 TB the ledger would be
  // bucketed on it.
  private val q70 = QueryDef(
    "q70_dedup_incremental",
    """WITH fp AS (
      |  SELECT doc_id,
      |    list_reduce(
      |      list_prepend(CAST(0 AS BIGINT),
      |        list_transform(string_split(text, ' ')[1:5],
      |                       t -> CAST(ascii(substr(t, 1, 1)) * 31 + length(t) AS BIGINT))),
      |      (acc, v) -> (acc * 131 + v) % 1000000007) AS fingerprint
      |  FROM documents),
      |ledger AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id < 250)
      |SELECT f.doc_id, f.fingerprint FROM fp f
      |WHERE f.doc_id >= 250
      |  AND f.fingerprint NOT IN (SELECT fingerprint FROM ledger)
      |ORDER BY f.doc_id LIMIT 200""".stripMargin) { (s, dir) =>
    val fp = Tables.table(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.GraftFunctions.headFingerprint("text", 5).as("fingerprint"))
    val ledger = fp.where(col("doc_id") < 250)
      .select(col("fingerprint").as("seen")).distinct()
    fp.where(col("doc_id") >= 250)
      .join(ledger, col("fingerprint") === col("seen"), "left_anti")
      .orderBy("doc_id").limit(200)
  }

  // --- q77: temperature rebalancing of the language mix -------------------
  // The classic multilingual training-mix op: downsample over-represented
  // strata toward uniform (temperature sampling, here α = 0.5 ⇒ per-lang
  // quota = isqrt(n_lang)). Everything is DETERMINISTIC so the oracle
  // carries it: the quota is integer sqrt (exactly computable in both
  // engines — sqrt of an int64 is correctly rounded and FLOOR-safe), and
  // the quota members are the first k docs per lang ordered by
  // (fingerprint, doc_id) — the portable rolling-hash gives a stable
  // pseudo-random order with no engine-specific sampler. One shuffle on
  // lang (window) + a broadcast of per-lang quotas.
  private val q77 = QueryDef(
    "q77_temperature_resample",
    """WITH fp AS (
      |  SELECT doc_id, lang, n_chars,
      |    list_reduce(
      |      list_prepend(CAST(0 AS BIGINT),
      |        list_transform(string_split(text, ' '),
      |                       t -> CAST(ascii(substr(t, 1, 1)) * 31 + length(t) AS BIGINT))),
      |      (acc, v) -> (acc * 131 + v) % 1000000007) AS fingerprint
      |  FROM documents),
      |quota AS (SELECT lang, COUNT(*) AS n_orig,
      |    CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT) AS k FROM fp GROUP BY lang),
      |ranked AS (
      |  SELECT f.lang, f.n_chars, q.n_orig, q.k,
      |    ROW_NUMBER() OVER (PARTITION BY f.lang
      |      ORDER BY f.fingerprint, f.doc_id) AS rn
      |  FROM fp f JOIN quota q ON f.lang = q.lang)
      |SELECT lang, CAST(MIN(n_orig) AS BIGINT) AS n_orig,
      |  COUNT(*) AS n_selected,
      |  CAST(SUM(n_chars) AS BIGINT) AS sel_chars
      |FROM ranked WHERE rn <= k
      |GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    val fp = Tables.table(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        graft.functions.GraftFunctions.fingerprint("text").as("fingerprint"))
    val quota = fp.groupBy("lang")
      .agg(count(lit(1)).as("n_orig"))
      .withColumn("k", floor(sqrt(col("n_orig"))).cast("bigint"))
      .withColumnRenamed("lang", "q_lang")
    val w = Window.partitionBy("lang").orderBy("fingerprint", "doc_id")
    fp.join(broadcast(quota), col("lang") === col("q_lang"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= col("k"))
      .groupBy("lang")
      .agg(min(col("n_orig")).as("n_orig"),
        count(lit(1)).as("n_selected"),
        sum(col("n_chars")).as("sel_chars"))
      .orderBy("lang")
  }

  // --- q80: deterministic train/val/test split -----------------------------
  // Reproducible dataset splits keyed on CONTENT (the portable fingerprint
  // mod 10 → 80/10/10), not on row order or a seeded sampler: the same
  // document lands in the same split on any engine, any partitioning, any
  // rerun — the property dataset governance actually needs. Map-only until
  // the bounded per-(lang, split) aggregation.
  private val q80 = QueryDef(
    "q80_dataset_split",
    """WITH fp AS (
      |  SELECT lang, n_chars,
      |    list_reduce(
      |      list_prepend(CAST(0 AS BIGINT),
      |        list_transform(string_split(text, ' '),
      |                       t -> CAST(ascii(substr(t, 1, 1)) * 31 + length(t) AS BIGINT))),
      |      (acc, v) -> (acc * 131 + v) % 1000000007) % 10 AS bucket
      |  FROM documents)
      |SELECT lang,
      |  CASE WHEN bucket <= 7 THEN 'train' WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
      |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars
      |FROM fp GROUP BY lang, split ORDER BY lang, split""".stripMargin) { (s, dir) =>
    val bucket = graft.functions.GraftFunctions.fingerprint("text") % 10
    Tables.table(s, dir, "documents")
      .withColumn("split",
        when(bucket <= 7, "train").when(bucket === 8, "val").otherwise("test"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .orderBy("lang", "split")
  }

  // --- q99: sequence packing (concat-and-chunk) ---------------------------
  // Turn variable-length documents into fixed 256-token training sequences:
  // shard by portable hash (global order would serialize the running sum),
  // cumulative token offsets per shard, each doc exploded over the
  // sequences it overlaps. Output: per-sequence fill accounting. The
  // shard/offset/chunk arithmetic is pure int64, so the oracle reproduces
  // the layout exactly. operators/Packing.scala is the library API.
  private val q99 = QueryDef(
    "q99_sequence_packing",
    """WITH d AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
      |    (doc_id * 2654435761) % 8 AS shard
      |  FROM documents),
      |p AS (
      |  SELECT shard, doc_id, n_toks,
    |    CAST(COALESCE(SUM(n_toks) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
      |  FROM d),
      |x AS (
      |  SELECT shard, doc_id, s, s + n_toks AS e,
      |    unnest(range(s // 256, (s + n_toks - 1) // 256 + 1)) AS seq
      |  FROM p)
      |SELECT shard, seq, COUNT(*) AS n_docs,
      |  CAST(SUM(LEAST(e, (seq + 1) * 256) - GREATEST(s, seq * 256)) AS BIGINT) AS n_tokens,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM x GROUP BY shard, seq ORDER BY shard, seq""".stripMargin) { (s, dir) =>
    val docs = Tables.table(s, dir, "documents")
      .select(col("doc_id"), size(toks).as("n_toks"))
    graft.operators.Packing.concatChunk(docs, "doc_id", "n_toks",
        budget = 256, shards = 8)
      .groupBy("shard", "seq")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy("shard", "seq")
  }

  // --- q101: TF-IDF top terms per document --------------------------------
  // Corpus-wide document frequency joined back to per-doc term frequency;
  // top-3 terms per doc by score. The idf is the LINEAR ratio N/df, not
  // ln(N/df): integer-to-double division is correctly rounded by IEEE 754
  // so both engines produce bit-identical doubles, while ln goes through
  // libm and is not guaranteed correctly rounded — the determinism rule
  // that governs every float in this repo (SURVEY §5.1). Shuffle shape:
  // one on (doc_id, term), one on term for df, a broadcast of the
  // term→df table (vocabulary ≪ corpus), one window on doc_id.
  private val q101 = QueryDef(
    "q101_tfidf_topterms",
    """WITH tf AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |tfc AS (SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY doc_id, term),
      |dfc AS (SELECT term, COUNT(*) AS df FROM tfc GROUP BY term),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |scored AS (
      |  SELECT tfc.doc_id, tfc.term,
      |    tfc.tf * (CAST(n.n AS DOUBLE) / dfc.df) AS score
      |  FROM tfc JOIN dfc USING (term) CROSS JOIN n),
      |ranked AS (
      |  SELECT doc_id, term, score,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
      |  FROM scored)
      |SELECT doc_id, rn, term, score FROM ranked WHERE rn <= 3
      |ORDER BY doc_id, rn LIMIT 600""".stripMargin) { (s, dir) =>
    val docs = Tables.table(s, dir, "documents")
    // r18: tfc is the family-shared TextOps.termFreq frame (q118's tf is
    // the identical aggregate).
    val tfc = TextOps.termFreq(s, dir)
    val dfc = tfc.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    tfc.join(broadcast(dfc), "term").crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        (col("tf") * (col("n").cast("double") / col("df"))).as("score"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select("doc_id", "rn", "term", "score")
      .orderBy("doc_id", "rn").limit(600)
  }

  // --- q106: dataset mixing to explicit target proportions ----------------
  // The "data mixing to spec" operator (q77's sqrt temperature is a POLICY;
  // this takes the policy as INPUT): given integer target weights per lang
  // (en 10 / de 3 / fr 3 / es 2 / zh 2 of 20), find the largest total the
  // corpus can serve at those proportions (the scarcest lang binds it),
  // then take each lang's quota deterministically by (portable fingerprint,
  // doc_id) order. All quota arithmetic is small-int (exact in double, so
  // FLOOR is portable); one shuffle on lang + two broadcast-sized aggs —
  // at 100 TB the quota table is still 5 rows.
  private val q106 = QueryDef(
    "q106_dataset_mix",
    """WITH fp AS (
      |  SELECT doc_id, lang, n_chars,
      |    list_reduce(
      |      list_prepend(CAST(0 AS BIGINT),
      |        list_transform(string_split(text, ' '),
      |                       t -> CAST(ascii(substr(t, 1, 1)) * 31 + length(t) AS BIGINT))),
      |      (acc, v) -> (acc * 131 + v) % 1000000007) AS fingerprint
      |  FROM documents),
      |wt(lang, w) AS (VALUES ('en', 10), ('de', 3), ('fr', 3), ('es', 2), ('zh', 2)),
      |cap AS (
      |  SELECT f.lang, COUNT(*) AS n_orig, MIN(wt.w) AS w,
      |    CAST(FLOOR(COUNT(*) * 20.0 / MIN(wt.w)) AS BIGINT) AS t_max
      |  FROM fp f JOIN wt ON f.lang = wt.lang GROUP BY f.lang),
      |quota AS (
      |  SELECT lang, n_orig,
      |    CAST(FLOOR(w * (SELECT MIN(t_max) FROM cap) / 20.0) AS BIGINT) AS k
      |  FROM cap),
      |ranked AS (
      |  SELECT f.lang, f.n_chars, q.n_orig, q.k,
      |    ROW_NUMBER() OVER (PARTITION BY f.lang
      |      ORDER BY f.fingerprint, f.doc_id) AS rn
      |  FROM fp f JOIN quota q ON f.lang = q.lang)
      |SELECT lang, CAST(MIN(n_orig) AS BIGINT) AS n_orig,
      |  CAST(MIN(k) AS BIGINT) AS quota, COUNT(*) AS n_selected,
      |  CAST(SUM(n_chars) AS BIGINT) AS sel_chars
      |FROM ranked WHERE rn <= k
      |GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    import s.implicits._
    val weights = Seq(("en", 10L), ("de", 3L), ("fr", 3L), ("es", 2L), ("zh", 2L))
      .toDF("w_lang", "w")
    val fp = Tables.table(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        graft.functions.GraftFunctions.fingerprint("text").as("fingerprint"))
    val cap = fp.join(broadcast(weights), col("lang") === col("w_lang"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_orig"), min(col("w")).as("w"))
      .withColumn("t_max",
        floor(col("n_orig") * lit(20.0) / col("w")).cast("bigint"))
    val tBind = cap.agg(min(col("t_max")).as("t"))
    val quota = cap.crossJoin(broadcast(tBind))
      .select(col("lang").as("q_lang"), col("n_orig"),
        floor(col("w") * col("t") / lit(20.0)).cast("bigint").as("k"))
    val w = Window.partitionBy("lang").orderBy("fingerprint", "doc_id")
    fp.join(broadcast(quota), col("lang") === col("q_lang"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= col("k"))
      .groupBy("lang")
      .agg(min(col("n_orig")).as("n_orig"), min(col("k")).as("quota"),
        count(lit(1)).as("n_selected"), sum(col("n_chars")).as("sel_chars"))
      .orderBy("lang")
  }

  // --- q107: curriculum length-bucketing by exact token-count quartiles ---
  // Curriculum data ordering needs quantile buckets, but a global NTILE is
  // a single-partition sort — the anti-pattern. Scale-safe exact quantiles
  // instead: token counts have a BOUNDED domain, so aggregate a histogram
  // (one shuffle on n_tok), cumulative-sum it (window over the tiny
  // aggregated frame, NOT the corpus), read off the quartile boundaries,
  // broadcast them, and assign buckets map-only. ceil(p*n) stays integer
  // via (a + b - 1) arithmetic; everything is portable.
  private val q107 = QueryDef(
    "q107_curriculum_buckets",
    """WITH d AS (
      |  SELECT doc_id, n_chars,
      |    CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents),
      |hist AS (SELECT n_tok, COUNT(*) AS cnt FROM d GROUP BY n_tok),
      |cum AS (
      |  SELECT n_tok, SUM(cnt) OVER (ORDER BY n_tok) AS c FROM hist),
      |n AS (SELECT COUNT(*) AS n FROM d),
      |b AS (
      |  SELECT
      |    MIN(CASE WHEN c * 4 >= n.n THEN n_tok END) AS b25,
      |    MIN(CASE WHEN c * 2 >= n.n THEN n_tok END) AS b50,
      |    MIN(CASE WHEN c * 4 >= 3 * n.n THEN n_tok END) AS b75
      |  FROM cum CROSS JOIN n GROUP BY n.n)
      |SELECT
      |  CASE WHEN n_tok <= b25 THEN 1 WHEN n_tok <= b50 THEN 2
      |       WHEN n_tok <= b75 THEN 3 ELSE 4 END AS bucket,
      |  COUNT(*) AS n_docs, CAST(MIN(n_tok) AS BIGINT) AS min_tok,
      |  CAST(MAX(n_tok) AS BIGINT) AS max_tok,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM d CROSS JOIN b
      |GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, dir) =>
    val d = Tables.table(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        size(toks).cast("bigint").as("n_tok"))
    val hist = d.groupBy("n_tok").agg(count(lit(1)).as("cnt"))
    // window over the DOMAIN-BOUNDED histogram, not the corpus
    val cum = hist.withColumn("c",
      sum(col("cnt")).over(Window.orderBy("n_tok")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val n = d.agg(count(lit(1)).as("n"))
    val bounds = cum.crossJoin(broadcast(n)).agg(
      min(when(col("c") * 4 >= col("n"), col("n_tok"))).as("b25"),
      min(when(col("c") * 2 >= col("n"), col("n_tok"))).as("b50"),
      min(when(col("c") * 4 >= col("n") * 3, col("n_tok"))).as("b75"))
    d.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        when(col("n_tok") <= col("b25"), 1)
          .when(col("n_tok") <= col("b50"), 2)
          .when(col("n_tok") <= col("b75"), 3).otherwise(4))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), min(col("n_tok")).as("min_tok"),
        max(col("n_tok")).as("max_tok"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("bucket")
  }

  // --- q108: vocabulary Zipf coverage (top tokens + cumulative share) -----
  // Tokenizer/vocab design needs "how much of the corpus do the top-k
  // tokens cover". Frequencies are one explode + groupBy (vocab is
  // corpus-SUBLINEAR by Heaps' law); the top-50 extraction is
  // TakeOrdered (O(k) at the driver, never a global sort); the cumulative
  // sum then runs over just those 50 rows. reaches_half compares via
  // integer cross-multiplication — no division crosses engines.
  private val q108 = QueryDef(
    "q108_vocab_coverage",
    """WITH tok AS (
      |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
      |freq AS (SELECT token, COUNT(*) AS freq FROM tok GROUP BY token),
      |total AS (SELECT SUM(freq) AS total FROM freq),
      |top AS (
      |  SELECT token, freq,
      |    ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS rank
      |  FROM freq ORDER BY freq DESC, token LIMIT 50)
      |SELECT rank, token, freq,
      |  CAST(SUM(freq) OVER (ORDER BY rank) AS BIGINT) AS cum_freq,
      |  (SUM(freq) OVER (ORDER BY rank)) * 2 >= total.total AS reaches_half
      |FROM top CROSS JOIN total
      |ORDER BY rank""".stripMargin) { (s, dir) =>
    val docs = Tables.table(s, dir, "documents")
    val freq = docs.select(explode(toks).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
    val total = freq.agg(sum(col("freq")).as("total"))
    val top = freq.orderBy(col("freq").desc, col("token")).limit(50)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("freq").desc, col("token"))))
    val cumW = Window.orderBy("rank")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top.crossJoin(broadcast(total))
      .withColumn("cum_freq", sum(col("freq")).over(cumW))
      .withColumn("reaches_half", col("cum_freq") * 2 >= col("total"))
      .select("rank", "token", "freq", "cum_freq", "reaches_half")
      .orderBy("rank")
  }

  // --- q113: per-source character budgets (domain caps) -------------------
  // The domain-cap rule of web-corpus curation: no single source may
  // contribute more than a budget of character mass; the budget here is the
  // EQUALIZING one (each source capped at the mean per-source total), so
  // over-represented sources are truncated and under-represented ones pass
  // whole — both paths live at every sf (measured 11/9 at sf0.01).
  // Admission is deterministic: docs enter in portable (fingerprint,
  // doc_id) order while the running char total stays within budget.
  // Shape: one shuffle on source for the cumulative window, the budget is
  // a broadcast 1-row aggregate (never a collect), and the per-source agg
  // rides the same partitioning. Integer division keeps the budget exact
  // in both engines (no double rounding at the boundary).
  private val q113 = QueryDef(
    "q113_source_budget",
    """WITH fp AS (
      |  SELECT doc_id, source, n_chars,
      |    list_reduce(
      |      list_prepend(CAST(0 AS BIGINT),
      |        list_transform(string_split(text, ' '),
      |                       t -> CAST(ascii(substr(t, 1, 1)) * 31 + length(t) AS BIGINT))),
      |      (acc, v) -> (acc * 131 + v) % 1000000007) AS fingerprint
      |  FROM documents),
      |tot AS (SELECT source, SUM(n_chars) AS tot, COUNT(*) AS n_docs FROM fp GROUP BY 1),
      |b AS (SELECT SUM(tot) // COUNT(*) AS budget FROM tot),
      |c AS (SELECT f.*, SUM(n_chars) OVER (PARTITION BY source ORDER BY fingerprint, doc_id
      |        ROWS UNBOUNDED PRECEDING) AS cum FROM fp f),
      |kept AS (SELECT source, COUNT(*) AS n_kept, SUM(n_chars) AS kept_chars
      |         FROM c, b WHERE cum <= budget GROUP BY source)
      |SELECT t.source, t.n_docs, k.n_kept, CAST(k.kept_chars AS BIGINT) AS kept_chars,
      |  CAST(CASE WHEN k.n_kept < t.n_docs THEN 1 ELSE 0 END AS BIGINT) AS truncated
      |FROM tot t JOIN kept k USING (source)
      |ORDER BY source""".stripMargin) { (s, dir) =>
    val fp = Tables.table(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"),
        graft.functions.GraftFunctions.fingerprint("text").as("fingerprint"))
    val tot = fp.groupBy("source")
      .agg(sum("n_chars").as("tot"), count(lit(1)).as("n_docs"))
    val budget = tot.agg(expr("sum(tot) div count(*)").as("budget"))
    val w = Window.partitionBy("source").orderBy("fingerprint", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val kept = fp.withColumn("cum", sum("n_chars").over(w))
      .crossJoin(broadcast(budget))
      .where(col("cum") <= col("budget"))
      .groupBy(col("source").as("k_source"))
      .agg(count(lit(1)).as("n_kept"), sum("n_chars").cast("long").as("kept_chars"))
    tot.join(kept, col("source") === col("k_source"))
      .select(col("source"), col("n_docs"), col("n_kept"), col("kept_chars"),
        when(col("n_kept") < col("n_docs"), 1L).otherwise(0L).as("truncated"))
      .orderBy("source")
  }

  // --- q115: overlapping token-window chunking -----------------------------
  // Long-document chunking for fixed-context training: windows of 16
  // tokens at stride 12 (the overlap preserves cross-boundary context),
  // one output row per chunk with its token count and portable fingerprint
  // (the RollingFingerprint native expression over the re-joined slice —
  // tokens contain no spaces, so join∘slice∘split is exact). Map-only:
  // chunk generation is a per-row sequence explode, no shuffle anywhere
  // before the presentation sort — the shape that matters at 100 TB, where
  // chunking is a pure scan-transform ahead of packing (q99).
  private val q115 = QueryDef(
    "q115_chunk_windows",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      |ch AS (SELECT doc_id, l, unnest(range(0, (len(l) + 11) // 12)) AS chunk_id FROM t),
      |sl AS (SELECT doc_id, chunk_id,
      |         l[CAST(chunk_id*12+1 AS INTEGER):CAST(chunk_id*12+16 AS INTEGER)] AS c
      |       FROM ch)
      |SELECT doc_id, chunk_id, len(c) AS n_chunk_tokens,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(c, x -> CAST(ascii(substr(x,1,1))*31 + length(x) AS BIGINT))),
      |    (acc, v) -> (acc*131 + v) % 1000000007) AS chunk_fp
      |FROM sl ORDER BY doc_id, chunk_id LIMIT 600""".stripMargin) { (s, dir) =>
    Tables.table(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("l"))
      .select(col("doc_id"), col("l"),
        explode(expr("sequence(0L, (size(l) + 11) div 12 - 1)")).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        slice(col("l"), col("chunk_id").cast("int") * 12 + 1, lit(16)).as("c"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("c")).cast("long").as("n_chunk_tokens"),
        graft.engine.expr.RollingFingerprint.of(array_join(col("c"), " "))
          .as("chunk_fp"))
      .orderBy("doc_id", "chunk_id").limit(600)
  }

  // --- q116: deterministic global example ids ------------------------------
  // Training corpora need stable global example ids: reproducible on any
  // cluster layout AND cheap at 100 TB. ROW_NUMBER over a global ORDER BY
  // is one partition; monotonically_increasing_id renumbers when the
  // layout changes. Indexing.globalIndex is the scale-safe middle — the
  // portable fingerprint is uniform in [0, 1e9+7), so fixed-width range
  // buckets are monotone in the sort key; bucket counts prefix-sum on a
  // 32-row frame, and the ordinal is offset + per-bucket row_number. The
  // oracle IS the naive global ROW_NUMBER — proving the bucketed
  // construction reproduces it exactly.
  private val q116 = QueryDef(
    "q116_global_index",
    """WITH fp AS (
      |  SELECT doc_id,
      |    list_reduce(
      |      list_prepend(CAST(0 AS BIGINT),
      |        list_transform(string_split(text, ' '),
      |                       t -> CAST(ascii(substr(t, 1, 1)) * 31 + length(t) AS BIGINT))),
      |      (acc, v) -> (acc * 131 + v) % 1000000007) AS fingerprint
      |  FROM documents)
      |SELECT doc_id, fingerprint,
      |  ROW_NUMBER() OVER (ORDER BY fingerprint, doc_id) - 1 AS global_idx
      |FROM fp ORDER BY global_idx LIMIT 500""".stripMargin) { (s, dir) =>
    val fp = Tables.table(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.GraftFunctions.fingerprint("text").as("fingerprint"))
    graft.operators.Indexing
      .globalIndex(fp, "fingerprint", "doc_id", keySpace = 1000000007L)
      .select("doc_id", "fingerprint", "global_idx")
      .orderBy("global_idx").limit(500)
  }

  // --- q147: padding-waste audit (arrival vs length-sorted batching) -------
  // The measurement that justifies q107's length-curriculum buckets and
  // every loader's length-sorted batching: with batch size 8 WITHIN each
  // source shard (loaders batch within shards — and a per-shard window is
  // the scale-safe shape, unlike a global row_number), compare padded
  // token volume when batches form in arrival order vs length-sorted
  // order. Waste = (padded − real) / padded in exact ppm (integer
  // division). On the driver data: ~38% arrival vs ~17% sorted.
  private val q147 = QueryDef(
    "q147_padding_audit",
    """WITH toks AS (
      |  SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
      |arrival AS (
      |  SELECT source, n_tok,
      |    (ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) - 1) // 8 AS b FROM toks),
      |sorted_b AS (
      |  SELECT source, n_tok,
      |    (ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_tok, doc_id) - 1) // 8 AS b FROM toks),
      |a AS (SELECT source, b, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(n_tok) AS BIGINT) AS tok,
      |             CAST(MAX(n_tok) AS BIGINT) AS mx FROM arrival GROUP BY source, b),
      |s AS (SELECT source, b, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(n_tok) AS BIGINT) AS tok,
      |             CAST(MAX(n_tok) AS BIGINT) AS mx FROM sorted_b GROUP BY source, b)
      |SELECT 'arrival' AS strategy, CAST(COUNT(*) AS BIGINT) AS n_batches,
      |  CAST(SUM(tok) AS BIGINT) AS real_tokens, CAST(SUM(n * mx) AS BIGINT) AS padded_tokens,
      |  CAST(((SUM(n * mx) - SUM(tok)) * 1000000) // SUM(n * mx) AS BIGINT) AS waste_ppm
      |FROM a
      |UNION ALL
      |SELECT 'length_sorted', CAST(COUNT(*) AS BIGINT), CAST(SUM(tok) AS BIGINT),
      |  CAST(SUM(n * mx) AS BIGINT),
      |  CAST(((SUM(n * mx) - SUM(tok)) * 1000000) // SUM(n * mx) AS BIGINT)
      |FROM s ORDER BY strategy""".stripMargin) { (s, dir) =>
    val toks = Tables.table(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    def audit(name: String): DataFrame = {
      toks.withColumn("b", expr(s"(row_number() over (partition by source order by ${
          if (name == "arrival") "doc_id" else "n_tok, doc_id"}) - 1) div 8"))
        .groupBy("source", "b")
        .agg(count(lit(1)).as("n"), sum("n_tok").as("tok"), max("n_tok").as("mx"))
        .agg(count(lit(1)).as("n_batches"), sum("tok").as("real_tokens"),
          sum(expr("n * mx")).as("padded_tokens"),
          expr("((SUM(n * mx) - SUM(tok)) * 1000000) div SUM(n * mx)").as("waste_ppm"))
        .select(lit(name).as("strategy"), col("n_batches"), col("real_tokens"),
          col("padded_tokens"), col("waste_ppm"))
    }
    audit("arrival").unionAll(audit("length_sorted")).orderBy("strategy")
  }

  def defs: Seq[QueryDef] =
    Seq(q30, q31, q32, q33, q34, q35, q36, q37, q38, q70, q77, q80, q99,
      q101, q106, q107, q108, q113, q115, q116, q147)
}
