package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.Row

/**
 * Semantic edge cases for the QualityOps family (q129–q134) over
 * synthesized fixtures — the oracle parity suite proves cross-engine
 * equality; these prove the SEMANTICS are the intended ones (funnel
 * ordering, EWMA weighting, outlier threshold, drift null case,
 * novelty of exact copies).
 */
class QualitySpec extends SparkTestBase {

  private def writeEvents(rows: Seq[(Long, String, Long, String, Double)]): String = {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("quality_fixture")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("props", org.apache.spark.sql.types.StringType)))
    val data = rows.map { case (id, ts, uid, typ, v) =>
      Row(id, Timestamp.valueOf(ts), uid, typ, v, """{"k": 1}""")
    }
    ParquetFixtures.writeSingleFile(
      spark.createDataFrame(data.asJava, schema), dir, "events")
    dir.toString
  }

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("quality_docs")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType)))
    val data = rows.map { case (id, text) =>
      Row(id, text, "en", "src0", text.length.toLong)
    }
    ParquetFixtures.writeSingleFile(
      spark.createDataFrame(data.asJava, schema), dir, "documents")
    dir.toString
  }

  test("q133 funnel counts only correctly-ordered stages within the 24 h window") {
    // user 1: view → click(+1h) → purchase(+2h)      → all three stages
    // user 2: purchase → click → view (reversed)      → view stage only
    // user 3: view → click +30h (outside the window)  → view stage only
    // user 4: view → click(+1h) → purchase +26h after → view+click only
    val dir = writeEvents(Seq(
      (1L, "2024-01-01 00:00:00", 1L, "view", 1.0),
      (2L, "2024-01-01 01:00:00", 1L, "click", 1.0),
      (3L, "2024-01-01 02:00:00", 1L, "purchase", 1.0),
      (4L, "2024-01-01 00:00:00", 2L, "purchase", 1.0),
      (5L, "2024-01-01 01:00:00", 2L, "click", 1.0),
      (6L, "2024-01-01 02:00:00", 2L, "view", 1.0),
      (7L, "2024-01-01 00:00:00", 3L, "view", 1.0),
      (8L, "2024-01-02 06:00:00", 3L, "click", 1.0),
      (9L, "2024-01-01 00:00:00", 4L, "view", 1.0),
      (10L, "2024-01-01 01:00:00", 4L, "click", 1.0),
      (11L, "2024-01-02 03:00:00", 4L, "purchase", 1.0)))
    val r = SparkEntry.queries("q133_event_funnel")(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_view") === 4L)
    assert(r.getAs[Long]("n_view_click") === 2L)
    assert(r.getAs[Long]("n_view_click_purchase") === 1L)
  }

  test("q131 EWMA weights are exact powers of two over available lags") {
    val dir = writeEvents(Seq(
      (1L, "2024-01-01 00:00:00", 1L, "view", 10.0),
      (2L, "2024-01-01 01:00:00", 1L, "view", 20.0),
      (3L, "2024-01-01 02:00:00", 1L, "view", 40.0)))
    val rows = SparkEntry.queries("q131_ewma_smooth")(spark, dir)
      .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("ewma")).toMap
    assert(rows(1L) === 10.0)                 // 128·10 / 128
    assert(rows(2L) === 16.666667)            // (128·20 + 64·10) / 192
    assert(rows(3L) === 30.0)                 // (128·40 + 64·20 + 32·10) / 224
  }

  test("q129 flags exactly the planted outlier (threshold needs n ≥ 11)") {
    // 12 values at 10 + one at 1000: score/bound ratio = (n−1)/9 = 12/9 > 1.
    val base = (1L to 12L).map(i =>
      (i, f"2024-01-01 ${i}%02d:00:00", i, "view", 10.0))
    val dir = writeEvents(base :+ (99L, "2024-01-01 23:00:00", 99L, "view", 1000.0))
    val flagged = SparkEntry.queries("q129_outlier_zscore")(spark, dir)
      .collect().map(_.getAs[Long]("event_id")).toSet
    assert(flagged === Set(99L))
  }

  test("q130 TVD is zero when both halves have identical histograms") {
    // same values planted at Jan-10 (early) and Jan-20 (late)
    val vals = Seq(5.0, 55.0, 155.0, 499.0)
    val rows = vals.zipWithIndex.flatMap { case (v, i) =>
      Seq((i * 2L, "2024-01-10 00:00:00", 1L, "view", v),
        (i * 2L + 1L, "2024-01-20 00:00:00", 1L, "view", v))
    }
    val dir = writeEvents(rows)
    val r = SparkEntry.queries("q130_drift_tvd")(spark, dir).collect()
    assert(r.length === 1)
    assert(r(0).getAs[Double]("tvd") === 0.0)
  }

  test("q132 novelty: originals score 1.0, an exact copy scores 0.0") {
    val dir = writeDocs(Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "alpha beta gamma delta"),      // exact copy of doc 0
      (2L, "omega psi chi phi")))          // disjoint grams
    val rows = SparkEntry.queries("q132_ngram_novelty")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("novelty")).toMap
    assert(rows(0L) === 1.0)
    assert(rows(1L) === 0.0)
    assert(rows(2L) === 1.0)
  }

  test("q131 EWMA equals an independent driver-side reimplementation on random fixtures") {
    // The oracle proves Spark ≡ DuckDB; this proves both ≡ the intended
    // math (the q127 pattern: an engine-free reimplementation guards
    // against BOTH engines sharing a misreading of the definition).
    val rnd = new scala.util.Random(42)
    val rows = (0 until 200).map { i =>
      (i.toLong, f"2024-01-${1 + rnd.nextInt(28)}%02d ${rnd.nextInt(24)}%02d:00:00",
        (i % 7).toLong, "view", math.rint(rnd.nextDouble() * 50000) / 100.0)
    }
    val dir = writeEvents(rows)
    val got = SparkEntry.queries("q131_ewma_smooth")(spark, dir)
      .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("ewma")).toMap
    // independent: per user sort by (ts, event_id), truncated EWMA with
    // integer 2^(7-k) weights over available lags, 6dp half-up rounding
    val byUser = rows.groupBy(_._3).view.mapValues(_.sortBy(r => (r._2, r._1)))
    val expected = byUser.values.flatten.map { r =>
      val seq = byUser(r._3)
      val i = seq.indexOf(r)
      val taps = (0 to 7).flatMap { k =>
        if (i - k >= 0) Some((BigDecimal(seq(i - k)._5).setScale(6), 1L << (7 - k)))
        else None
      }
      val num = taps.map { case (v, w) => v * w }.sum
      val den = taps.map(_._2).sum
      val ewma = (num / den).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      r._1 -> ewma.toDouble
    }.toMap
    assert(got.size === expected.size)
    got.foreach { case (id, v) => assert(v === expected(id), s"event $id") }
  }

  test("q133 funnel equals an independent driver-side simulator on random fixtures") {
    val rnd = new scala.util.Random(7)
    val types = Vector("view", "click", "purchase", "signup", "error")
    val rows = (0 until 400).map { i =>
      (i.toLong,
        f"2024-01-${1 + rnd.nextInt(28)}%02d ${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:00",
        rnd.nextInt(40).toLong, types(rnd.nextInt(types.size)), 1.0)
    }
    val dir = writeEvents(rows)
    val r = SparkEntry.queries("q133_event_funnel")(spark, dir).collect()(0)
    // independent simulator: stage k+1 anchors on stage k's min ts,
    // within 24 h, strictly after
    val dayMs = 24L * 3600 * 1000
    def ts(s: String) = Timestamp.valueOf(s).getTime
    val byUser = rows.groupBy(_._3)
    val t1 = byUser.flatMap { case (u, es) =>
      es.filter(_._4 == "view").map(e => ts(e._2)).minOption.map(u -> _)
    }
    val t2 = t1.flatMap { case (u, a) =>
      byUser(u).filter(e => e._4 == "click" && ts(e._2) > a && ts(e._2) <= a + dayMs)
        .map(e => ts(e._2)).minOption.map(u -> _)
    }
    val t3 = t2.flatMap { case (u, a) =>
      byUser(u).filter(e => e._4 == "purchase" && ts(e._2) > a && ts(e._2) <= a + dayMs)
        .map(e => ts(e._2)).minOption.map(u -> _)
    }
    assert(r.getAs[Long]("n_view") === t1.size.toLong)
    assert(r.getAs[Long]("n_view_click") === t2.size.toLong)
    assert(r.getAs[Long]("n_view_click_purchase") === t3.size.toLong)
  }

  test("Quality.outliers boundary: the n=10 single-outlier case sits EXACTLY on the threshold") {
    // n−1 identical values + 1 outlier gives score/bound = (n−1)/z² exactly
    // — at n=10, z=3 the exact predicate is score > bound with EQUAL sides,
    // so nothing is flagged; at n=11 the ratio is 10/9 and the outlier is.
    // This pins both the strict inequality AND that the double sieve
    // (margin 0.99) never decides near the boundary — the exact decimal
    // test does.
    import org.apache.spark.sql.functions.col
    def frame(nBase: Int) = {
      val rows = (1 to nBase).map(i => (i.toLong, "a", 10.0)) :+ (99L, "a", 1000.0)
      spark.createDataFrame(rows).toDF("id", "grp", "reading")
    }
    val at10 = graft.operators.Quality
      .outliers(spark, frame(9), "grp", "reading", z = 3).collect()
    assert(at10.isEmpty, "n=10 equality case must NOT flag (strict >)")
    val at11 = graft.operators.Quality
      .outliers(spark, frame(10), "grp", "reading", z = 3)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(at11 === Set(99L))
  }

  test("Quality.funnel generalizes: 4 stages, arbitrary column names") {
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      // account 1 completes all four stages an hour apart
      (1L, "open", "2024-03-01 00:00:00"),
      (1L, "fund", "2024-03-01 01:00:00"),
      (1L, "trade", "2024-03-01 02:00:00"),
      (1L, "refer", "2024-03-01 03:00:00"),
      // account 2 trades BEFORE funding — its only trade can't anchor on
      // the later fund, so the funnel stops after stage 2 (t3 null)
      (2L, "open", "2024-03-01 00:00:00"),
      (2L, "trade", "2024-03-01 01:00:00"),
      (2L, "fund", "2024-03-01 02:00:00"))
      .map { case (a, s, t) => (a, s, Timestamp.valueOf(t)) }
    val df = spark.createDataFrame(rows).toDF("account", "step", "at")
    val out = graft.operators.Quality
      .funnel(df, "account", "step", "at", Seq("open", "fund", "trade", "refer"), 24)
      .collect().map(r => r.getAs[Long]("account") ->
        (r.get(1) != null, r.get(2) != null, r.get(3) != null)).toMap
    assert(out(1L) === ((true, true, true)))
    assert(out(2L) === ((true, true, false)))
  }

  test("Quality.ewma generalizes: 4 taps over arbitrary columns") {
    val rows = Seq((1L, 1L, 8.0), (1L, 2L, 16.0))
    val df = spark.createDataFrame(rows).toDF("k", "seq", "x")
    val got = graft.operators.Quality
      .ewma(df, "k", "seq", "seq", "x", taps = 4)
      .collect().map(r => r.getAs[Long]("seq") -> r.getAs[Double]("ewma")).toMap
    assert(got(1L) === 8.0)            // 8·8 / 8
    assert(got(2L) === 13.333333)      // (8·16 + 4·8) / 12
  }

  test("Quality.iqrOutliers: zero-IQR group flags exactly the non-modal value") {
    // 20 identical values + 1 outlier: IQR = 0, both fences collapse onto
    // the modal value — the outlier (and ONLY it) falls outside. The
    // moment-based rule needs n ≥ 11 for the same catch (see the q129
    // boundary test); the rank rule is insensitive to n here.
    import org.apache.spark.sql.functions.col
    val rows = (1 to 20).map(i => (i.toLong, "a", 42.0)) :+ (99L, "a", 43.5)
    val df = spark.createDataFrame(rows).toDF("id", "grp", "v")
    val flagged = graft.operators.Quality.iqrOutliers(df, "grp", "v")
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(flagged === Set(99L))
  }

  test("Quality.psi matches a driver-side reference and orders drift sensibly") {
    // PSI is library-only (ln is engine-internal — q130's TVD carries the
    // oracle); check it against an independent reference computation and
    // that a planted shift scores higher than the no-shift group.
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(11)
    // group "stable": same uniform[0,100) in both halves;
    // group "shifted": early uniform[0,100), late uniform[100,200)
    val rows =
      (0 until 2000).map(i => ("stable", i % 2 == 0, rnd.nextDouble() * 100)) ++
      (0 until 2000).map { i =>
        val early = i % 2 == 0
        ("shifted", early, (if (early) 0.0 else 100.0) + rnd.nextDouble() * 100)
      }
    val df = spark.createDataFrame(rows).toDF("grp", "early", "v")
    val got = graft.operators.Quality
      .psi(df, "grp", "v", col("early"), binWidth = 25.0, nBins = 8)
      .collect().map(r => r.getAs[String]("grp") -> r.getAs[Double]("psi")).toMap
    // independent reference
    val eps = 1e-6
    def ref(grp: String): Double = {
      val g = rows.filter(_._1 == grp)
      val bins = (v: Double) => math.min(7, (v / 25.0).toInt)
      val e = g.filter(_._2).map(r => bins(r._3))
      val l = g.filterNot(_._2).map(r => bins(r._3))
      (0 to 7).flatMap { b =>
        val n1 = e.count(_ == b); val n2 = l.count(_ == b)
        if (n1 == 0 && n2 == 0) None
        else {
          val p1 = n1.toDouble / e.size + eps
          val p2 = n2.toDouble / l.size + eps
          Some((p2 - p1) * math.log(p2 / p1))
        }
      }.sum
    }
    assert(math.abs(got("stable") - ref("stable")) < 1e-9)
    assert(math.abs(got("shifted") - ref("shifted")) < 1e-9)
    assert(got("stable") < 0.1, s"stable group drifted: ${got("stable")}")
    assert(got("shifted") > 0.25, s"planted shift not detected: ${got("shifted")}")
  }

  test("q134 winsorized mean is between p05 and p95 and clips both tails") {
    val r = SparkEntry.queries("q134_winsorize")(spark, sfDir).collect()
    assert(r.length === 5)
    r.foreach { row =>
      assert(row.getAs[Long]("n_low") > 0L)
      assert(row.getAs[Long]("n_high") > 0L)
      val m = row.getAs[Double]("mean_winsor")
      assert(m > 0.0 && m < 500.0)
    }
  }

  test("q140 chi2: everywhere-tokens are excluded; a planted marker tops its language") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("chi2_docs")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType)))
    // "common" appears in EVERY doc (R = N ⇒ chi² undefined ⇒ excluded);
    // "marker" appears in exactly the de docs and nowhere else.
    val rows = (0 until 40).map { i =>
      val lang = if (i % 4 == 0) "de" else "en"
      val text = if (lang == "de") s"common marker w$i" else s"common w$i x${i % 7}"
      Row(i.toLong, text, lang, "s", text.length.toLong)
    }
    ParquetFixtures.writeSingleFile(
      spark.createDataFrame(rows.asJava, schema), dir, "documents")
    val r = SparkEntry.queries("q140_chi2_feature")(spark, dir.toString).collect()
    assert(!r.exists(_.getString(0) == "common"), "R=N token must be excluded")
    val topRow = r.head
    assert(topRow.getString(0) == "marker" && topRow.getString(1) == "de",
      s"perfectly discriminative token must rank first, got $topRow")
    // and its (marker, en) cell must carry a = 0 but still score > 0
    val markerEn = r.find(x => x.getString(0) == "marker" && x.getString(1) == "en")
    assert(markerEn.exists(x => x.getAs[Long]("n_t_lang") == 0L
      && x.getAs[Long]("chi2_micro") > 0L), s"a=0 cell missing: $markerEn")
  }

  test("Quality.corr2Micro: exact 1e6 on a perfect linear fit, NULL on a constant") {
    import spark.implicits._
    // y = 2x + 3 exactly; all integer products < 2^53, so the double ratio
    // is exact and corr²·1e6 must be EXACTLY 1000000 (not ≈).
    val df = Seq((1L, 5L, 7L), (2L, 7L, 7L), (3L, 9L, 7L), (4L, 11L, 7L), (5L, 13L, 7L))
      .toDF("x", "y", "c")
      .withColumn("g", org.apache.spark.sql.functions.lit("a"))
    val r = graft.operators.Quality.corr2Micro(df, "g", "x", Seq("y", "c")).collect()
    assert(r.length === 1)
    assert(r(0).getAs[Long]("corr2_y_micro") === 1000000L)
    assert(r(0).isNullAt(r(0).fieldIndex("corr2_c_micro"))) // zero variance
    assert(r(0).getAs[Long]("n") === 5L)
  }

  test("Quality.corr2Micro matches a driver-side double reference within 1 micro") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val rows = Seq.tabulate(400) { i =>
      val x = rnd.nextInt(1000).toLong
      // correlated + noise, and a second near-independent column
      (x, x / 2 + rnd.nextInt(100).toLong, rnd.nextInt(50).toLong, s"g${i % 3}")
    }
    val df = rows.toDF("x", "y", "z", "g")
    val got = graft.operators.Quality.corr2Micro(df, "g", "x", Seq("y", "z"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("corr2_y_micro"), r.getAs[Long]("corr2_z_micro"))).toMap
    rows.groupBy(_._4).foreach { case (g, rs) =>
      def corr2(sel: ((Long, Long, Long, String)) => Long): Double = {
        val xs = rs.map(_._1.toDouble); val ys = rs.map(r => sel(r).toDouble)
        val n = rs.length.toDouble
        val dxy = n * xs.zip(ys).map { case (a, b) => a * b }.sum - xs.sum * ys.sum
        val dxx = n * xs.map(a => a * a).sum - xs.sum * xs.sum
        val dyy = n * ys.map(a => a * a).sum - ys.sum * ys.sum
        dxy * dxy / (dxx * dyy)
      }
      val (gy, gz) = got(g)
      assert(math.abs(gy - math.floor(1e6 * corr2(_._2))) <= 1.0, s"y corr in $g")
      assert(math.abs(gz - math.floor(1e6 * corr2(_._3))) <= 1.0, s"z corr in $g")
      assert(gy > gz, s"correlated column must outscore noise in $g")
    }
  }
}
