package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Data-quality / observability library API (r06-late): the generic forms
 * of the q129–q135 monitors, applicable to ANY DataFrame — the engine ops
 * in `graft.engine.ops.QualityOps` are thin bindings of these onto the
 * events/documents tables.
 *
 * Shared discipline (see SCALING.md §Data-quality monitors):
 * - every fractional statistic is DECIMAL with explicit widths, so
 *   partition order and engine never change a result;
 * - decision predicates are RATIONAL (multiplied through by counts — no
 *   sqrt/ln/float-reduction in anything that picks rows);
 * - wide-decimal predicates run sieve-then-exact: a codegen double
 *   pre-filter with a conservative margin prunes, the exact decimal test
 *   decides (BigDecimal math touches candidates only, never the corpus).
 */
object Quality {

  /** Rows whose squared deviation from their group mean exceeds z² × the
    * population variance — the |z-score| > z outlier rule computed without
    * a float stddev. Appends exact `score` = dev²·n and `bound` = z²·Σdev²
    * (DECIMAL) to the surviving rows.
    *
    * Two aggregation passes + broadcast joins; the per-group means
    * (≤ `maxGroups` rows by contract) are collected once so neither
    * consumer re-executes pass 1. */
  def outliers(s: SparkSession, df: DataFrame, groupCol: String,
      valueCol: String, z: Int, maxGroups: Int = 10000): DataFrame = {
    import graft.engine.expr.Sum128
    val vDec = col(valueCol).cast("decimal(18,6)")
    // Both aggregation passes run on graft's 128-bit exact sum (Sum128):
    // Spark's own SUM over decimals wider than 18 digits allocates a java
    // BigDecimal per row (the compact-Long representation caps at 18
    // digits) — measured ~60 s CPU per 10M-row pass. Summing the UNSCALED
    // longs (free to extract from compact decimals) through a two-long
    // 128-bit accumulator produces the bit-identical decimal (equality
    // property-tested in Sum128Spec) with zero per-row allocation.
    val mAgg = df.groupBy(groupCol)
      .agg(count(lit(1)).as("__n"),
        (Sum128.sum(Sum128.unscaled(vDec), 6).cast("decimal(18,6)") / count(lit(1)))
          .cast("decimal(38,6)").as("__mean"))
    val mRows = mAgg.limit(maxGroups + 1).collect()
    require(mRows.length <= maxGroups,
      s"outliers: more than $maxGroups groups in $groupCol — raise maxGroups " +
        "only if the group stats genuinely fit the driver")
    val m = s.createDataFrame(java.util.Arrays.asList(mRows: _*), mAgg.schema)
    // mean narrowed to (12,6) BEFORE the subtract keeps the per-row
    // difference on Decimal's compact same-scale fast path (a (38,6)
    // operand would box); exact for in-contract values.
    val dev = (vDec - col("__mean").cast("decimal(12,6)")).cast("decimal(12,6)")
    val dev2 = (dev * dev).cast("decimal(25,12)")
    val v = df.join(broadcast(m), Seq(groupCol))
      .select(col(groupCol), Sum128.unscaled(dev).as("__dev6"))
      .groupBy(groupCol)
      .agg(Sum128.squareSum(col("__dev6"), 12).cast("decimal(28,12)").as("__var_sum"))
    val stats = m.join(v, Seq(groupCol))
      .select(col(groupCol), col("__n"), col("__mean"), col("__var_sum"),
        col("__mean").cast("double").as("__mean_d"),
        col("__var_sum").cast("double").as("__var_sum_d"))
    val score = (dev2 * col("__n").cast("decimal(7,0)")).cast("decimal(38,12)")
    val bound = (lit(z * z) * col("__var_sum")).cast("decimal(30,12)")
    val sieve = pow(col(valueCol) - col("__mean_d"), 2) * col("__n") >
      lit(z * z * 0.99) * col("__var_sum_d")
    df.join(broadcast(stats), Seq(groupCol))
      .where(sieve)
      .where(score > bound)
      .withColumn("score", score)
      .withColumn("bound", bound)
      .drop("__n", "__mean", "__var_sum", "__mean_d", "__var_sum_d")
  }

  /** Total-variation distance between the `valueCol` histograms of the two
    * row populations split by `earlyCond`, per group: ½ Σ_bins |p1 − p2|
    * over fixed-width bins (floor(value/binWidth) clamped to nBins−1).
    * One scan collapses to ≤ |groups|×nBins rows before any ratio math. */
  def tvdDrift(df: DataFrame, groupCol: String, valueCol: String,
      earlyCond: Column, binWidth: Double, nBins: Int): DataFrame = {
    val binned = df.select(col(groupCol),
      least(lit(nBins - 1), floor(col(valueCol) / binWidth).cast("int")).as("__bin"),
      when(earlyCond, 1).otherwise(0).as("__early"))
    val counts = binned.groupBy(groupCol, "__bin")
      .agg(sum(col("__early")).as("n1"), sum(lit(1) - col("__early")).as("n2"))
    val w = Window.partitionBy(groupCol)
    val withTot = counts
      .withColumn("tot1", sum(col("n1")).over(w))
      .withColumn("tot2", sum(col("n2")).over(w))
    def ratio(n: String, tot: String) =
      (col(n).cast("decimal(18,6)") / col(tot)).cast("decimal(38,6)")
    withTot.groupBy(groupCol)
      .agg(max(col("tot1")).as("tot1"), max(col("tot2")).as("tot2"),
        (sum(abs((ratio("n1", "tot1") - ratio("n2", "tot2")).cast("decimal(38,6)")))
          .cast("decimal(18,6)") / lit(2)).cast("decimal(38,6)")
          .cast("double").as("tvd"))
  }

  /** Truncated EWMA (α = ½, `taps` taps) per key in (orderCol, tiebreak)
    * order, appended as `ewma`. Integer weights 2^(taps−1−k) make the
    * smoother a decimal dot product — bit-identical on any engine. All
    * taps share ONE window spec, so Catalyst plans a single WindowExec
    * (one shuffle + one sort per key). taps ≤ 16 keeps the numerator
    * inside DECIMAL(18,6) for |value| ≤ 1e6. */
  def ewma(df: DataFrame, keyCol: String, orderCol: String,
      tiebreak: String, valueCol: String, taps: Int): DataFrame = {
    require(taps >= 1 && taps <= 16, s"taps must be in [1,16], got $taps")
    val w = Window.partitionBy(keyCol).orderBy(col(orderCol), col(tiebreak))
    val vDec = col(valueCol).cast("decimal(18,6)")
    val num = (0 until taps).map { k =>
      coalesce((lag(vDec, k).over(w) * lit(1 << (taps - 1 - k)))
        .cast("decimal(22,6)"), lit(0).cast("decimal(22,6)"))
    }.reduce(_ + _).cast("decimal(18,6)")
    val den = (0 until taps).map { k =>
      when(lag(vDec, k).over(w).isNull, 0).otherwise(1 << (taps - 1 - k))
    }.reduce(_ + _)
    df.withColumn("ewma",
      (num / den).cast("decimal(38,6)").cast("double"))
  }

  /** Ordered funnel: per key, stage k+1's anchor is stage k's MIN(ts),
    * strictly after it and within `windowHours`. Returns one row per key
    * that completed stage 1, with nullable `t1..tN` stage timestamps —
    * count non-nulls for conversion. Built as a LEFT-JOIN CHAIN so each
    * stage's filtered scan runs exactly once, and every join/agg is keyed
    * on `keyCol` (co-partitioned on a cluster). Skew note: a hot key (one
    * user with millions of stage-k events) fans the join out before the
    * MIN collapses it — the aggregate is partial-aggregatable and the
    * equi-join rides AQE's skew-join splitting, so a hot key widens one
    * stage, never a whole executor. */
  def funnel(df: DataFrame, keyCol: String, typeCol: String, tsCol: String,
      stages: Seq[String], windowHours: Int): DataFrame = {
    require(stages.nonEmpty)
    val first = df.where(col(typeCol) === stages.head)
      .groupBy(keyCol).agg(min(col(tsCol)).as("t1"))
    stages.tail.zipWithIndex.foldLeft(first) { case (acc, (stage, i)) =>
      val prevT = s"t${i + 1}"
      val thisT = s"t${i + 2}"
      val stageRows = df.where(col(typeCol) === stage)
        .select(col(keyCol).as("__k"), col(tsCol).as("__ts"))
      val carried = ("t1" +: (2 to i + 1).map("t" + _)).map(col)
      acc.join(stageRows,
          col(keyCol) === col("__k") && col("__ts") > col(prevT) &&
            col("__ts") <= col(prevT) + expr(s"INTERVAL $windowHours HOURS"),
          "left")
        .groupBy((col(keyCol) +: carried): _*)
        .agg(min(col("__ts")).as(thisT))
    }
  }

  /** Cohort retention: keys grouped by first active period (day), cells
    * count keys active again `day_offset` days later. ONE corpus scan —
    * the cohort anchor is an unordered window min over the distinct
    * (key, day) set, not a second scan + self-join. */
  def retention(df: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val uw = df.select(col(keyCol), to_date(col(tsCol)).as("d")).distinct()
    val w = Window.partitionBy(keyCol)
    uw.withColumn("cohort_d", min(col("d")).over(w))
      .groupBy(col("cohort_d"),
        datediff(col("d"), col("cohort_d")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Rank-based (Tukey-fence) outliers — the robust twin of [[outliers]]:
    * rows outside [p25 − 1.5·IQR, p75 + 1.5·IQR] of their group. Immune
    * to the tail inflating the spread estimate (the moment-based rule's
    * blind spot) at the cost of the per-group percentile sort. Fences are
    * computed at decimal scale 3 with NO downscale cast (DuckDB's
    * decimal downscale truncates where Spark's rounds); the exact decimal
    * comparison decides membership. Appends `fence_lo`/`fence_hi`. */
  def iqrOutliers(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val q = df.groupBy(groupCol)
      .agg(
        round(expr(s"percentile($valueCol, 0.25d)"), 2)
          .cast("decimal(18,2)").as("__p25"),
        round(expr(s"percentile($valueCol, 0.75d)"), 2)
          .cast("decimal(18,2)").as("__p75"))
    val iqr = (col("__p75") - col("__p25")).cast("decimal(18,2)")
    val f = q.select(col(groupCol),
      (col("__p25") - lit(1.5).cast("decimal(2,1)") * iqr)
        .cast("decimal(20,3)").as("__lo"),
      (col("__p75") + lit(1.5).cast("decimal(2,1)") * iqr)
        .cast("decimal(20,3)").as("__hi"))
    val vDec = col(valueCol).cast("decimal(18,6)")
    df.join(broadcast(f), Seq(groupCol))
      .where(vDec < col("__lo") || vDec > col("__hi"))
      .withColumn("fence_lo", col("__lo").cast("double"))
      .withColumn("fence_hi", col("__hi").cast("double"))
      .drop("__lo", "__hi")
  }

  /** Per-document n-gram novelty: the fraction of a document's distinct
    * 3-gram shingles whose FIRST corpus occurrence (min of `idCol`) is
    * this document. `textCol` is whitespace-tokenized through the
    * engine-portable polynomial shingle hash (GraftFunctions.hashedShingles)
    * — the q46/q78 recipe, so ledgers built from it are reproducible
    * across engines and runs. Explode → per-gram MIN agg (map-side
    * combined) → postings join back; gram cardinality bounds the shuffle. */
  def novelty(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.GraftFunctions
    val p = df
      .withColumn("__l", split(col(textCol), " "))
      .where(size(col("__l")) >= 3)
      .select(col(idCol), explode(GraftFunctions.hashedShingles("__l")).as("__g"))
    val f = p.groupBy("__g").agg(min(col(idCol)).as("__first"))
    p.join(f, Seq("__g"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__first") === col(idCol), 1).otherwise(0)).as("n_novel"),
        (sum(when(col("__first") === col(idCol), 1).otherwise(0))
          .cast("decimal(18,6)") / count(lit(1))).cast("decimal(38,6)")
          .cast("double").as("novelty"))
  }

  /** Population-stability-index drift per group — the industry-standard
    * monitor metric: PSI = Σ_bins (p2 − p1)·ln(p2/p1), with ε-smoothed
    * ratios so empty bins don't blow up. ln() makes this ENGINE-INTERNAL
    * (libm transcendentals are not bit-portable — the reason the
    * oracle-carried drift query q130 uses TVD instead); use it for
    * monitoring thresholds, not cross-engine comparison. Same one-scan
    * collapse-to-bins shape as [[tvdDrift]]. Rule of thumb: PSI < 0.1
    * stable, 0.1–0.25 moderate shift, > 0.25 significant. */
  def psi(df: DataFrame, groupCol: String, valueCol: String,
      earlyCond: Column, binWidth: Double, nBins: Int,
      eps: Double = 1e-6): DataFrame = {
    val binned = df.select(col(groupCol),
      least(lit(nBins - 1), floor(col(valueCol) / binWidth).cast("int")).as("__bin"),
      when(earlyCond, 1).otherwise(0).as("__early"))
    val counts = binned.groupBy(groupCol, "__bin")
      .agg(sum(col("__early")).as("n1"), sum(lit(1) - col("__early")).as("n2"))
    val w = Window.partitionBy(groupCol)
    val withTot = counts
      .withColumn("tot1", sum(col("n1")).over(w))
      .withColumn("tot2", sum(col("n2")).over(w))
    val p1 = col("n1") / col("tot1") + lit(eps)
    val p2 = col("n2") / col("tot2") + lit(eps)
    withTot.groupBy(groupCol)
      .agg(max(col("tot1")).as("tot1"), max(col("tot2")).as("tot2"),
        sum((p2 - p1) * log(p2 / p1)).as("psi"))
  }

  /** Winsorized statistics per group: clamp `valueCol` into the exact
    * [pLo, pHi] percentiles (rounded to 2dp — the q58 cross-engine parity
    * recipe) and report n, clip counts, and the winsorized decimal mean. */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
      pLo: Double, pHi: Double): DataFrame = {
    val q = df.groupBy(groupCol)
      .agg(
        round(expr(s"percentile($valueCol, ${pLo}d)"), 2)
          .cast("decimal(18,2)").as("__p_lo"),
        round(expr(s"percentile($valueCol, ${pHi}d)"), 2)
          .cast("decimal(18,2)").as("__p_hi"))
    val clamped = least(greatest(col(valueCol).cast("decimal(18,6)"),
      col("__p_lo").cast("decimal(18,6)")), col("__p_hi").cast("decimal(18,6)"))
      .cast("decimal(18,6)")
    df.join(broadcast(q), Seq(groupCol))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"),
        sum(when(col(valueCol) < col("__p_lo").cast("double"), 1).otherwise(0)).as("n_low"),
        sum(when(col(valueCol) > col("__p_hi").cast("double"), 1).otherwise(0)).as("n_high"),
        (sum(clamped).cast("decimal(18,6)") / count(lit(1)))
          .cast("decimal(38,6)").cast("double").as("mean_winsor"))
  }

  /**
   * Exact correlation audit: per group, corr²(x, y)·10⁶ (floored to
   * BIGINT) for EACH y in `yCols`, all from one aggregation pass — the
   * feature-association monitor that decides whether a signal column is
   * worth keeping before a training run.
   *
   * Cross-engine exactness: the named columns must already be INTEGER
   * (BIGINT) valued — then every aggregate sum is an exact associative
   * integer sum (partition order cannot change it), and the final ratio
   * is ONE fixed-shape double expression over exact integer inputs,
   * which IEEE arithmetic evaluates bit-identically in any engine (the
   * hazard with float statistics is the reduction ORDER of the sums, not
   * the scalar math — so sum exactly, divide once). corr² (not corr)
   * keeps the formula sqrt-free and hence rational→double exact.
   *
   * Headroom contract: n·Σx² must stay < 2^63 — holds to ~10⁹ rows/group
   * of 5-digit values; past that, route the sums through Sum128 (the
   * q129 precedent) before the ratio.
   *
   * Scale: one map-side-combined aggregation (9 + 3·|yCols| longs per
   * group), no second pass, no window, nothing collected.
   */
  def corr2Micro(df: DataFrame, groupCol: String, xCol: String,
      yCols: Seq[String]): DataFrame = {
    require(yCols.nonEmpty)
    val sums =
      Seq(count(lit(1)).as("__n"), sum(col(xCol)).as("__sx"),
        sum(expr(s"$xCol * $xCol")).as("__sxx")) ++
      yCols.flatMap { y =>
        Seq(sum(col(y)).as(s"__s_$y"),
          sum(expr(s"$y * $y")).as(s"__ss_$y"),
          sum(expr(s"$xCol * $y")).as(s"__sxy_$y"))
      }
    val agg = df.groupBy(groupCol).agg(sums.head, sums.tail: _*)
    val outs = yCols.map { y =>
      val dxy = s"(__n * __sxy_$y - __sx * __s_$y)"
      val dxx = "(__n * __sxx - __sx * __sx)"
      val dyy = s"(__n * __ss_$y - __s_$y * __s_$y)"
      expr(
        s"""CASE WHEN $dxx = 0 OR $dyy = 0 THEN CAST(NULL AS BIGINT)
           |ELSE CAST(FLOOR((1000000.0 * CAST($dxy AS DOUBLE) * CAST($dxy AS DOUBLE)) /
           |  (CAST($dxx AS DOUBLE) * CAST($dyy AS DOUBLE))) AS BIGINT) END""".stripMargin)
        .as(s"corr2_${y}_micro")
    }
    agg.select(col(groupCol) +: col("__n").as("n") +: outs: _*)
  }
}
