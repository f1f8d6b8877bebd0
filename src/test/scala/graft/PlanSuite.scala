package graft

import org.apache.spark.sql.execution.ExplainMode

/**
 * Physical-plan shape assertions (builder brief: ".explain the plan and
 * iterate until it's the plan you'd want"). These guard the scale
 * properties — pushdown, pruning, broadcast vs shuffle — against
 * regressions that correctness checks can't see.
 */
class PlanSuite extends SparkTestBase {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q01 pushes filters and prunes columns at the parquet scan") {
    val p = plan("q01_scan_project_filter")
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("GreaterThanOrEqual(l_quantity,45.0)"), p)
    // ReadSchema must NOT include untouched wide columns
    assert(!p.contains("l_returnflag"), s"column pruning lost:\n$p")
    assert(!p.contains("l_comment"), p)
  }

  test("q10 dimension join broadcasts") {
    assert(plan("q10_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("q11 fact-fact join sort-merges") {
    assert(plan("q11_join_shuffle").contains("SortMergeJoin"))
  }

  test("q12 star join broadcasts all dimensions") {
    val p = plan("q12_join_multiway")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).size
    assert(broadcasts >= 3, s"expected >=3 broadcast joins, got $broadcasts:\n$p")
  }

  test("q41 sessionize shuffles and sorts once; second window sees boundaries only") {
    // The r03 summarize shape: lag/lead/row_number fused in one full-data
    // WindowExec; the session-counter window runs AFTER the boundary filter
    // over ~2 rows/session, reusing the partitioning and order — so the
    // whole query carries exactly one Exchange and one Sort (plus the
    // TakeOrdered final), never a second full-data pass.
    val p = plan("q41_stream_session")
    assert("(\\d+)\\) Window".r.findAllIn(p).size == 2, p)
    assert("(\\d+)\\) Exchange".r.findAllIn(p).size == 1, s"expected 1 exchange:\n$p")
    assert("(\\d+)\\) Sort".r.findAllIn(p).size == 1, s"expected 1 sort:\n$p")
    // the boundary filter must sit between the two Window nodes
    val iWin = p.indexOf(") Window")
    val iFilter = p.indexOf(") Filter", iWin + 1)
    val iWin2 = p.indexOf(") Window", iWin + 1)
    assert(iFilter >= 0 && iFilter < iWin2,
      s"boundary filter not between the window passes:\n$p")
  }

  test("q28 global top-k is TakeOrderedAndProject (O(k) at the driver)") {
    assert(plan("q28_topk_global").contains("TakeOrderedAndProject"))
  }

  test("q17 as-of join is window-based, not a pairwise join") {
    val p = plan("q17_join_asof")
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q52 bucketed join is shuffle-free up to the join") {
    val p = plan("q52_bucketed_join")
    assert("Bucketed: true".r.findAllIn(p).size == 2, p)
    assert(p.contains("SortMergeJoin"), p)
    // only the post-join groupBy + orderBy exchanges remain
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 2,
      s"bucketed join must not shuffle its inputs:\n$p")
  }

  test("q54 plans the custom TopKPerGroupExec with a single shuffle") {
    val p = plan("q54_topk_custom_plan")
    assert(p.contains("TopKPerGroup"), s"custom strategy not applied:\n$p")
    assert(!p.contains("Window"), s"must not fall back to the window formulation:\n$p")
  }

  test("partitioned sink enables partition pruning on re-read") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("prune_check").toString
    graft.engine.Tables.table(spark, sfDir, "customer")
      .withColumn("seg", col("c_mktsegment"))
      .write.mode("overwrite").partitionBy("seg").parquet(tmp)
    val read = spark.read.parquet(tmp).where(col("seg") === "BUILDING")
    val p = read.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("PartitionFilters"), p)
    assert(p.contains("seg"), p)
    // pruned read touches ONE partition's rows only
    val total = spark.read.parquet(tmp).count()
    val pruned = read.count()
    assert(pruned < total && pruned > 0)
  }

  test("q34/q48 content-blocked pair generation never plans a cartesian") {
    Seq("q34_sim_threshold_count", "q48_dedup_ngram_jaccard").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q planned a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q planned a nested loop:\n$p")
    }
  }

  test("q124 pair-generator input is explicitly spread, not left to AQE") {
    // The r05 lesson (SCALING.md §Bench budget): AQE sizes a shuffle read
    // by its INPUT bytes and cannot see generator EXPANSION, so the
    // compacted grouped-postings frame coalesces into ONE partition and
    // ArrayPairs then emits every candidate pair serially in one task.
    // Pin the explicit (__sh, xs) repartition that keeps the stage wide.
    val p = plan("q124_jaccard_postings")
    assert(p.toLowerCase.contains("arraypairs"),
      s"q124 lost the native pair generator:\n$p")
    assert("hashpartitioning\\(__sh[^)]*xs".r.findFirstIn(p).isDefined,
      s"q124 lost the generator-input repartition (AQE will serialize the pair stage):\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q34/q111/q128 SRP pairwise runs the grouped generator, not a vector self-join") {
    // The r04-end shape: pairs come from the BucketPairDots Generate over
    // the ONE grouped bucket row — if a self-join on (table, bucket)
    // reappears, every candidate pair carries both dim-sized vectors
    // through the shuffle again (the cost this shape removed).
    Seq("q34_sim_threshold_count", "q111_hard_negatives",
        "q128_contrastive_positives").foreach { q =>
      val p = plan(q)
      assert(p.contains("bucketpairdots") || p.contains("BucketPairDots"),
        s"$q lost the grouped pair generator:\n$p")
    }
  }

  test("q66 PassJoin candidates equi-join on segment keys; expansion broadcasts") {
    // The r05 shape: candidates come from an EQUI join on the content-
    // derived (i, l, txt) keys — if Catalyst failed to extract the keys
    // the plan degrades to a nested loop over vocab² — and the verified
    // name-pair expansion rides a broadcast (vocabulary-scale side). ONE
    // BroadcastNestedLoopJoin is expected and correct: FuzzyJoin's
    // tiny-string branch (strings shorter than tau+1 chars) is an
    // inherently non-equi pairing over an alphabet-BOUNDED broadcast side
    // (empty on this data, min name length 7).
    val p = plan("q66_fuzzy_levenshtein")
    assert(!p.contains("CartesianProduct"), s"q66 planned a cartesian:\n$p")
    // formatted explain renders each node twice (tree + details), so one
    // physical instance = 2 string matches
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 2, s"q66 planned ${bnlj / 2} nested loops (1 bounded tiny-branch allowed):\n$p")
    assert(p.contains("BroadcastHashJoin"), s"q66 lost the broadcast expansion:\n$p")
  }

  test("q72 avro container scan reads only the projected columns") {
    // q72's final select drops nothing at sf-level, so check pruning on a
    // narrower projection through the same source
    import org.apache.spark.sql.functions.col
    val schema = new org.apache.avro.Schema.Parser().parse(
      graft.engine.ops.Formats.userEventAvsc)
    val rows = graft.engine.ops.Formats.fixtureRecords(schema)
      .map(graft.engine.avro.AvroSchemaConverter.toRow)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      graft.engine.avro.AvroSchemaConverter.toStructType(schema))
    val dir = java.nio.file.Files.createTempDirectory("q72_plan").toString
    graft.sources.AvroContainerSource.write(df, schema, s"$dir/out")
    val pruned = spark.read.format("graft.sources.AvroContainerSource")
      .option("path", s"$dir/out").load().select(col("id"))
    val leaf = pruned.queryExecution.executedPlan.collectLeaves().head
    assert(leaf.output.map(_.name) == Seq("id"), leaf.output.mkString(","))
  }

  test("hot aggregation paths stay inside whole-stage codegen") {
    // q18 (TPC-H Q1 shape) is the canonical agg hot path: the scan →
    // filter → partial agg pipeline must run in codegen spans, not
    // interpreted operators. AQE's pre-execution explain omits the spans,
    // so execute and inspect the final plan tree.
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val df = SparkEntry.queries("q18_agg_hash")(spark, sfDir)
    df.collect()
    val executed = (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).toString
    // AQE buries WholeStageCodegenExec inside query stages where plain
    // collect() can't see them; the `*(n)` span markers in the string form
    // are the reliable signal.
    assert("""\*\(\d+\) HashAggregate""".r.findFirstIn(executed).isDefined,
      s"partial aggregation not inside a codegen span:\n$executed")
    assert("""\*\(\d+\) Filter""".r.findFirstIn(executed).isDefined,
      s"filter not inside a codegen span:\n$executed")
  }

  test("q31 signature dedup is a single aggregation, no join") {
    val p = plan("q31_dedup_signature")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
    assert(!p.contains("Join"), s"near-dup must not pairwise-join:\n$p")
  }

  test("q106-q108/q111/q112 curation ops keep every join broadcast-side") {
    // The quota/boundary/total/pool frames are all tiny or bounded by
    // construction; none of these queries may ever plan a shuffle join or a
    // real cartesian — the only acceptable join shapes are broadcast hash
    // and the bounded-broadcast nested-loop (1-row totals, the ≤64-row
    // negative pool).
    Seq("q106_dataset_mix", "q107_curriculum_buckets", "q108_vocab_coverage",
        "q112_negative_sampling").foreach { q =>
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"), s"$q shuffles a join:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q planned a cartesian:\n$p")
    }
    // q111's SRP band join MAY legitimately shuffle at scale (fact-fact on
    // band keys) — only the cartesian is forbidden
    val p111 = plan("q111_hard_negatives")
    assert(!p111.contains("CartesianProduct"), s"q111 planned a cartesian:\n$p111")
  }

  test("q108 top-k extraction is TakeOrderedAndProject, not a global sort") {
    assert(plan("q108_vocab_coverage").contains("TakeOrderedAndProject"))
  }

  test("q113/q114 budget and vocab frames stay broadcast-side") {
    // The 1-row budget scalar (q113) and the agg-bounded OOV vocabulary
    // (q114) must never shuffle-join against the corpus; q113's only wide
    // exchanges are the source window + aggs, q114's the df agg + per-doc
    // count.
    Seq("q113_source_budget", "q114_oov_docs").foreach { q =>
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"), s"$q shuffles a join:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q planned a cartesian:\n$p")
    }
  }

  test("q116 global index never plans a global-sort window or a shuffle join") {
    // The whole point of Indexing.globalIndex: the ordinal must come from
    // range buckets + broadcast offsets, not ROW_NUMBER over one partition
    // of the corpus or a shuffled join against the offsets frame.
    val p = plan("q116_global_index")
    assert(!p.contains("SortMergeJoin"), s"q116 shuffles the offsets join:\n$p")
    assert(!p.contains("CartesianProduct"), s"q116 planned a cartesian:\n$p")
  }

  test("q118 BM25 broadcasts the query terms and corpus stats") {
    val p = plan("q118_bm25_topk")
    assert(!p.contains("CartesianProduct"), s"q118 planned a cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"q118 does not broadcast the query frame:\n$p")
  }

  test("q119 curation manifest pays exactly one wide exchange") {
    // The pipeline claim: every gate is map-only except the near-dup
    // survivor window on head_fp — so the plan carries exactly ONE
    // hash-partitioned exchange (the window's) before the presentation
    // top-k, and no joins at all (the window replaces a survivor join).
    val p = plan("q119_curation_pipeline")
    assert(!p.contains("Join"), s"q119 planned a join:\n$p")
    val exchanges = "hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"q119 expected exactly 1 hash exchange, found $exchanges:\n$p")
  }

  test("q125 quantization is map-only into one aggregation exchange") {
    // The compression audit's scale claim: all quantization arithmetic is
    // map-side (codes, dots, per-vector error), so the plan is scan →
    // project → partial agg → ONE hash exchange on label → final agg.
    // No join, no generate, nothing pairwise.
    val p = plan("q125_embedding_quantize")
    assert(!p.contains("Join"), s"q125 planned a join:\n$p")
    val exchanges = "hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"q125 expected exactly 1 hash exchange, found $exchanges:\n$p")
  }

  test("q126 PQ assignment broadcasts the codebook; argmin is aggregation") {
    // The IVF-PQ scale claim: the 32-row codebook is broadcast (never a
    // shuffled join), and the argmin runs as a MIN aggregation — so the
    // plan carries exactly two hash exchanges (per-vector argmin, final
    // histogram) and no window sort.
    val p = plan("q126_pq_codes")
    assert(p.contains("BroadcastHashJoin"), s"codebook not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window"), s"argmin must be aggregation, not window:\n$p")
    val exchanges = "hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 2,
      s"q126 expected exactly 2 hash exchanges, found $exchanges:\n$p")
  }

  test("q127 ADC search broadcasts tables and heaps its per-probe top-k") {
    // The PQ search scale claim: no shuffled join anywhere — codebook and
    // the 160-row probe tables broadcast — and the per-probe top-k runs
    // the bounded-heap TopKPerGroupExec, never a corpus-wide window sort
    // (StressQuant at 2M vectors: 36.5 s window vs 6.0 s heap).
    val p = plan("q127_pq_adc_topk")
    assert(p.contains("BroadcastHashJoin"), s"PQ sides not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("TopKPerGroup"), s"q127 lost the heap top-k:\n$p")
    val exchanges = "hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 4,
      s"q127 expected <=4 hash exchanges (codes agg, co-locate, ADC agg, top-k), found $exchanges:\n$p")
  }

  test("q115 chunking is map-only ahead of the presentation sort") {
    // Chunk generation must be explode + slice on the scan with no
    // wide exchange before the final orderBy/limit — at 100 TB chunking
    // is a pure scan-transform feeding packing (q99).
    val p = plan("q115_chunk_windows")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"q115 planned a join:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"q115 presentation top-k is not TakeOrderedAndProject:\n$p")
    // exactly zero hash-partitioned exchanges: the only allowed exchange
    // is the TakeOrdered/limit machinery
    assert(!p.contains("hashpartitioning"),
      s"q115 has a hash exchange before the sort:\n$p")
  }

  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("AQE splits a skewed sort-merge join at runtime") {
    // The 100 TB skew story (SCALING.md §skew) demonstrated, not asserted in
    // prose: one key carries ~99% of the left side, so its shuffle partition
    // is far beyond factor×median — OptimizeSkewedJoin must split it into
    // advisory-sized sub-partitions, visible as SortMergeJoin(skew=true) in
    // the final adaptive plan. Thresholds are shrunk to test scale; the
    // mechanism (relative sizes at runtime) is exactly the production one.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      // pad must be incompressible: skew detection sees COMPRESSED shuffle
      // partition bytes, and a constant pad lz4-compresses below threshold
      val left = spark.range(200000L).select(
        when(col("id") % 100 =!= 0, lit(0L)).otherwise(col("id")).as("k"),
        repeat(md5(col("id").cast("string")), 4).as("pad"))
      val right = spark.range(1000L).select(col("id").as("k"),
        col("id").as("r"))
      val joined = left.join(right, "k")
      joined.queryExecution.toRdd.count() // materialize the adaptive plan
      val finalPlan = joined.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case p                        => p.toString
      }
      assert(finalPlan.contains("skew=true"),
        s"OptimizeSkewedJoin did not split the skewed partition:\n$finalPlan")
    }
  }

  test("skewed algebraic aggregation is neutralized by partial agg, not salt") {
    // The q55 companion pin (r09, VERDICT r08 #6): AQE's skew handling is
    // JOIN-only (OptimizeSkewedJoin splits SMJ/SHJ partitions; a final
    // aggregation's shuffle partitions can be coalesced but never split),
    // so the question "does q55 need its manual salt?" is decided by the
    // MAP SIDE. For algebraic aggregates (sum/count/min/max/avg), partial
    // aggregation emits at most one row per (mapper, key) into the
    // shuffle — a 99%-hot key contributes #mappers rows to its reduce
    // task, not 99% of the corpus — so the unsalted single-shuffle plan
    // is already skew-proof AND strictly cheaper than q55's two-shuffle
    // salted shape. The salt is the library pattern for when partial agg
    // CANNOT shrink state: holistic aggregates (collect_list/set,
    // exact percentile) whose partial state grows with input rows.
    // Asserted, not prose: shuffle records for a 200k-row 99%-skewed
    // aggregation stay ≤ keys × mappers.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val rows = 200000L
    val skewed = spark.range(rows).select(
      // key 0 holds ~99% of rows; 100 distinct keys total. (r11, ADVICE
      // r09 #1: the previous `id % 1000` arm only ever saw multiples of
      // 100, so it produced 10 distinct keys, not the 100 the bound
      // below is derived from — the tail arm now genuinely spreads the
      // 1% over 0..99.)
      when(col("id") % 100 =!= 0, lit(0L))
        .otherwise((col("id") / 100) % 100).as("k"),
      col("id").cast("double").as("v"))
    val agg = skewed.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))
    agg.queryExecution.toRdd.count() // materialize so metrics populate
    val executed = agg.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }
    // Under AQE (Spark 4.x), the final plan is a ResultQueryStageExec and
    // every materialized exchange sits behind a QueryStageExec LEAF — a
    // plain tree collect never crosses a stage boundary, so flatten
    // through `QueryStageExec.plan` explicitly.
    def flatten(p: SparkPlan): Seq[SparkPlan] =
      (p +: p.children.flatMap(flatten)) ++ (p match {
        case q: QueryStageExec => flatten(q.plan)
        case _                 => Seq.empty
      })
    val nodes = flatten(executed)
    assert(nodes.mkString("\n").contains("partial_sum"),
      s"no map-side partial aggregation in:\n$executed")
    val shuffleRecords = nodes.collect {
      case s: ShuffleExchangeExec => s.metrics.get("shuffleRecordsWritten")
    }.flatten.map(_.value).sum
    // 100 keys × ≤32 map tasks = ≤3200 partial rows; leave 4x headroom for
    // partition-count drift. The point: orders of magnitude below 200k.
    assert(shuffleRecords > 0 && shuffleRecords <= 12800,
      s"partial aggregation failed to collapse the skewed key before the " +
        s"shuffle: $shuffleRecords records written for $rows input rows")
  }

  test("CBO reorders a 3-table join under table statistics") {
    // The other prose-only 100 TB claim (SURVEY §4.2): with ANALYZE'd row +
    // column stats and spark.sql.cbo.joinReorder, Catalyst must rewrite the
    // syntactic (big ⋈ med) ⋈ small order into one that joins the selective
    // small table first — ~10^2 intermediate rows instead of ~10^5.
    import org.apache.spark.sql.functions._
    Seq("cbo_big", "cbo_med", "cbo_small").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    // big.sk spreads over 100k values, small holds 100 of them (selectivity
    // ~1e-3); big.mk ⊆ med.m_k entirely (selectivity ~1).
    spark.range(100000L).select((col("id") % 20000).as("b_mk"),
      col("id").as("b_sk")).write.saveAsTable("cbo_big")
    spark.range(20000L).select(col("id").as("m_k"), (col("id") * 2).as("m_v"))
      .write.saveAsTable("cbo_med")
    spark.range(100L).select((col("id") * 1000).as("s_k"))
      .write.saveAsTable("cbo_small")
    Seq("cbo_big", "cbo_med", "cbo_small").foreach(t =>
      spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS"))
    val q = """SELECT count(*) AS n
              |FROM cbo_big b
              |JOIN cbo_med m ON b.b_mk = m.m_k
              |JOIN cbo_small s ON b.b_sk = s.s_k""".stripMargin
    def leafOrder(): Seq[String] =
      spark.sql(q).queryExecution.optimizedPlan.collectLeaves().map { l =>
        val s = l.toString
        if (s.contains("b_mk")) "big" else if (s.contains("m_k")) "med" else "small"
      }
    val syntactic = leafOrder() // CBO off: join order as written
    assert(syntactic == Seq("big", "med", "small"), syntactic.toString)
    withConf(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true") {
      val reordered = leafOrder()
      assert(reordered == Seq("big", "small", "med"),
        s"cost-based reorder did not join the selective table first: $reordered")
    }
    Seq("cbo_big", "cbo_med", "cbo_small").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("q129 outlier pass structure: 2 in-plan scans, broadcast-only joins") {
    // Pass 1 (the per-type means) is collected eagerly (≤ 5 rows — the
    // event_type enum) so the var pass and the stats join don't each
    // re-execute it: the REMAINING plan holds exactly the var-pass scan
    // and the final filtered scan, and every join is a broadcast.
    val p = plan("q129_outlier_zscore")
    assert("(\\d+)\\) Scan parquet".r.findAllIn(p).size == 2, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q131 EWMA fuses all 8 lag taps into one window pass") {
    val p = plan("q131_ewma_smooth")
    assert("(\\d+)\\) Window".r.findAllIn(p).size == 1, p)
    assert("(\\d+)\\) Exchange".r.findAllIn(p).size == 1, p)
    assert("(\\d+)\\) Sort".r.findAllIn(p).size == 1, p)
  }

  test("q133 funnel left-join chain scans each stage exactly once") {
    // The naive three-subquery funnel re-executes the view aggregate up
    // to 4× — the chain form must keep exactly one scan per stage.
    val p = plan("q133_event_funnel")
    assert("(\\d+)\\) Scan parquet".r.findAllIn(p).size == 3, p)
  }

  test("q135 cohort retention is a single corpus scan (window, not self-join)") {
    val p = plan("q135_cohort_retention")
    assert("(\\d+)\\) Scan parquet".r.findAllIn(p).size == 1, p)
    assert("(\\d+)\\) Window".r.findAllIn(p).size == 1, p)
  }

  test("q136 token lift: the collected vocab is LocalTableScan, lift joins broadcast") {
    // the top-100 vocabulary must arrive as literal rows (one corpus
    // frequency scan, executed once), never as a re-executed aggregate
    // subtree inside the semi/lift joins
    val p = plan("q136_token_lift")
    assert(p.contains("LocalTableScan"), p)
    // r18: the tokenize pass lives inside the shared distinctTokens cache
    // (one scan inside the InMemoryRelation, read by both self-join arms)
    // + the n_docs count scan = 2 raw scans, down from 3.
    assert("(\\d+)\\) Scan parquet".r.findAllIn(p).size == 2, p)
    assert("(\\d+)\\) BroadcastHashJoin".r.findAllIn(p).size >= 4, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q139 pagerank iterations read the persisted edge cache, never re-scan") {
    // The edge/node tables are persisted (the GraphX discipline): the
    // unrolled iterations must reference InMemoryTableScan, and the raw
    // events lineage (window + edge agg) may appear only INSIDE the cached
    // plans — ≤ 2 parquet scans in the whole tree, regardless of how many
    // iterations unroll on top.
    val p = plan("q139_pagerank")
    assert(p.contains("InMemoryTableScan"), p)
    assert("(\\d+)\\) Scan parquet".r.findAllIn(p).size <= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q150 BFS rounds are materialized: final plan reads the frontier cache") {
    // r07 (VERDICT r06 #1): the lazy fold referenced the previous frontier
    // TWICE per hop (union arm + join arm), so both the execution (shared
    // subtrees re-run) and the LOGICAL tree (cached-plan substitution
    // happens after analysis/optimization) doubled per hop — 2^k: 241 s
    // of planning at 9 hops, driver OOM at 12. Each round is now
    // localCheckpointed (materialized + lineage truncated), so the
    // returned plan is a flat scan over the final frontier's RDD: ZERO
    // joins, zero parquet scans, constant size at any hop count.
    val p = plan("q150_shortest_paths")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"), p)
    val joins =
      "(\\d+)\\) (BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin)"
        .r.findAllIn(p).size
    assert(joins == 0, s"expected 0 joins in the returned plan, got $joins:\n$p")
    assert(!p.contains("Scan parquet"), "raw lineage leaked into the returned plan")
  }

  test("q152 string-keyed pagerank reads the persisted edge cache") {
    // Same discipline as the q139 pin: iterations must reference the
    // cached edge/node tables; the raw events lineage may appear only
    // inside the cached plans.
    val p = plan("q152_pagerank_states")
    assert(p.contains("InMemoryTableScan"), p)
    assert("(\\d+)\\) Scan parquet".r.findAllIn(p).size <= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q140 chi2 carries lang through tokenization: broadcast-only, no sort-merge") {
    // The oracle joins postings back to documents on doc_id; the plan must
    // NOT — lang rides with the explode, the vocab arrives collected
    // (LocalTableScan), and every join is broadcast (the only allowed
    // pre-presentation shuffle is the (token, lang) cell aggregation).
    val p = plan("q140_chi2_feature")
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert("(\\d+)\\) Scan parquet".r.findAllIn(p).size <= 3, p)
  }

  test("q144 markov transitions: single corpus scan; out_n rides a tiny window") {
    // The oracle joins a second aggregate subtree; the plan must not —
    // one raw-events scan + one corpus window (lag), with the out_n
    // normalization as a window over the |types|² aggregate, no join.
    // r18: the transition aggregate is the family-shared persisted frame
    // (GraphOps.typeTransitions, reused by q152), so the corpus scan +
    // lag window live INSIDE the InMemoryRelation and the out_n window
    // reads the cache; the no-join and single-raw-scan contracts stand.
    val p = plan("q144_markov_transitions")
    assert(p.contains("InMemoryTableScan"), p)
    assert("(\\d+)\\) Scan parquet".r.findAllIn(p).size == 1, p)
    assert("(\\d+)\\) Window".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("Join"), p)
  }

  test("r18 shared preps: every family member reads its persisted frame") {
    // The r18 cross-query share discipline (VERDICT r17 #3/#4): the SRP
    // pair pipeline (q34/q49/q111/q128), the shingle frame (q48/q75/q124),
    // the fuzzy name-pair pipeline (q66/q149), and the type-transition
    // aggregate (q144/q152) are each built once per run and persisted.
    // Every member's plan must read an InMemoryTableScan — a member that
    // rebuilds its own copy silently re-runs the full pipeline per query.
    // q75 is absent: its connected-components result is eager (the final
    // plan collapses to a LocalTableScan of the driver-side labels), so the
    // shingle-cache read happens at build time and is not visible in its
    // explain output.
    Seq("q34_sim_threshold_count", "q49_dedup_embed", "q111_hard_negatives",
        "q128_contrastive_positives", "q48_dedup_ngram_jaccard",
        "q124_jaccard_postings",
        "q66_fuzzy_levenshtein", "q149_entity_resolution",
        "q144_markov_transitions").foreach { q =>
      val p = plan(q)
      assert(p.contains("InMemoryTableScan"),
        s"$q does not read its family's shared cache:\n$p")
    }
  }

  test("q145 degree profile joins run on the persisted edge aggregate") {
    // Five plan references to the edge subtree must read the cache — one
    // raw events scan in the whole tree, not five window passes.
    val p = plan("q145_graph_degrees")
    assert(p.contains("InMemoryTableScan"), p)
    assert("(\\d+)\\) Scan parquet".r.findAllIn(p).size <= 1, p)
  }

  test("q149 bounded CC labels enter the plan as a broadcast-able LocalTableScan") {
    // The r11 driver-path contract: under the 64k-edge guard the CC
    // labels are a LocalRelation (computed once at build time), so the
    // downstream label join must read a LocalTableScan — never replay an
    // iterative subtree — and join it broadcast-side.
    val p = plan("q149_entity_resolution")
    assert(p.contains("LocalTableScan"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q146 partition pruning reaches the scan as PartitionFilters") {
    // The event_type predicate must prune DIRECTORIES (PartitionFilters),
    // not rows (PushedFilters) — the whole point of the Hive layout.
    val p = plan("q146_partitioned_layout")
    val scanBlock = p.split("\n").dropWhile(!_.contains("PartitionFilters")).take(3).mkString("\n")
    assert(p.contains("PartitionFilters"), p)
    assert(scanBlock.contains("event_type"), p)
  }

  test("q141 correlation audit is one aggregation pass — single scan, no joins") {
    val p = plan("q141_corr_audit")
    assert("(\\d+)\\) Scan parquet".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), p)
    // one partial+final agg exchange and the presentation sort only
    assert("(\\d+)\\) Exchange".r.findAllIn(p).size <= 2, p)
  }

  test("graph-family props decode is the native json_int_key, not get_json_object") {
    // Regression pin (r12, VERDICT r11 #5): the r11 JsonIntKey byte walk
    // replaced the per-row Jackson parse in the graph-family scans —
    // worth ~3 s/round — and a refactor could silently revert it while
    // staying hash-correct. The family's final frames are eager and
    // checkpointed (their explain collapses to Scan ExistingRDD), so pin
    // the SHARED edge builder's plan directly (feeds q139/q143/q145/q150)
    // plus q141's visible single-pass plan in QualityOps.
    // itemEdgesPlan = the raw builder (itemEdges is persisted since r18, so
    // its formatted explain collapses to an InMemoryRelation that hides the
    // decode expression this test pins).
    val edges = graft.engine.ops.GraphOps.itemEdgesPlan(spark, sfDir)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(edges.contains("json_int_key"), s"itemEdges lost the native decode:\n$edges")
    assert(!edges.contains("get_json_object"), s"itemEdges reverted to Jackson:\n$edges")
    val p141 = plan("q141_corr_audit")
    assert(p141.contains("json_int_key"), s"q141 lost the native decode:\n$p141")
    assert(!p141.contains("get_json_object"), s"q141 reverted to Jackson:\n$p141")
  }

  test("q122 read-back pushes literal zval bounds to the written files' scan") {
    // Regression pin (r13, VERDICT r12 #2): the read-back bounds are
    // collected as a 1-row scalar and land as LITERALS, so the BETWEEN
    // reaches PushedFilters and parquet footer min/max can skip the
    // z-ordered files outside the probed octant. The previous
    // broadcast-joined bounds frame could never push down — a silent
    // revert would re-scan every written file at 100 TB.
    val p = plan("q122_zorder_layout")
    val scanBlock = p.split("\n").filter(_.contains("PushedFilters"))
    assert(scanBlock.exists(l => l.contains("GreaterThanOrEqual(zval") &&
      l.contains("LessThanOrEqual(zval")),
      s"zval bounds not pushed to the read-back scan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"bounds rejoined the plan as a join:\n$p")
  }
}
