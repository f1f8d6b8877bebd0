package graft

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** The public function facade must agree with the oracle-gated query
  * implementations it fronts. */
class GraftFunctionsSpec extends SparkTestBase {

  test("dot / l2Norm / cosineSim are self-consistent on unit vectors") {
    import spark.implicits._
    val df = Seq((Array(3.0, 4.0), Array(4.0, 3.0))).toDF("a", "b")
    val row = df.select(
      GraftFunctions.dot(col("a"), col("b")).as("d"),
      GraftFunctions.l2Norm(col("a")).as("n"),
      GraftFunctions.cosineSim(col("a"), col("b")).as("c")).collect().head
    assert(row.getDouble(0) == 24.0)
    assert(row.getDouble(1) == 5.0)
    assert(row.getDecimal(2) == new java.math.BigDecimal("0.9600"))
  }

  test("fingerprint matches the q46 query implementation") {
    val viaQuery = SparkEntry.queries("q46_text_fingerprint")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaApi = graft.engine.Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), GraftFunctions.fingerprint("text").as("fp"))
      .orderBy("doc_id").limit(200)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaApi == viaQuery)
  }

  test("dot_product raises on mismatched array lengths (codegen and interpreted)") {
    import spark.implicits._
    val df = Seq((Array(1.0, 2.0, 3.0), Array(1.0, 2.0))).toDF("a", "b")
    // codegen path (whole-stage pipeline)
    val eCodegen = intercept[Exception] {
      df.select(GraftFunctions.dot(col("a"), col("b"))).collect()
    }
    assert(exceptionChain(eCodegen).exists(_.getMessage != null)
      && exceptionChain(eCodegen).exists(m =>
        Option(m.getMessage).exists(_.contains("length mismatch"))),
      s"codegen path did not surface the length error: $eCodegen")
    // interpreted path (expression eval outside codegen)
    val expr = graft.engine.expr.DotProduct(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(1.0, 2.0, 3.0),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(1.0, 2.0),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)))
    val eInterp = intercept[IllegalArgumentException] { expr.eval(null) }
    assert(eInterp.getMessage.contains("length mismatch"))
  }

  private def exceptionChain(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq

  test("registerAll exposes SQL names") {
    GraftFunctions.registerAll(spark)
    import spark.implicits._
    Seq(("a b c", Array(1.0, 0.0))).toDF("t", "v").createOrReplaceTempView("gf_t")
    val r = spark.sql(
      "SELECT dot_product(v, v) AS d, (SELECT count(*) FROM (SELECT bigrams(split(t, ' ')) FROM gf_t)) AS nb FROM gf_t")
      .collect().head
    assert(r.getDouble(0) == 1.0)
    assert(r.getLong(1) == 2L)
    // the full native family answers from SQL, consistent with Column APIs
    val fam = spark.sql(
      """SELECT rolling_fingerprint(t) AS fp, rolling_fingerprint(t, 2) AS hfp,
        |  hashed_shingles(split(t, ' ')) AS sh,
        |  lcg_min(hashed_shingles(split(t, ' ')), 37, 11) AS lm,
        |  window_hashes(split(t, ' '), 2) AS wh,
        |  simhash_pack(split(t, ' ')) AS sx,
        |  simhash_pack(split(t, ' '), true) AS sp
        |FROM gf_t""".stripMargin).collect().head
    val colSide = Seq(("a b c", Array(1.0, 0.0))).toDF("t", "v").select(
      GraftFunctions.fingerprint("t").as("fp"),
      GraftFunctions.headFingerprint("t", 2).as("hfp"),
      graft.engine.expr.SimHashPack.of(split(col("t"), " "), portable = true).as("sp"))
      .collect().head
    assert(fam.getLong(0) == colSide.getLong(0) && fam.getLong(1) == colSide.getLong(1))
    assert(fam.getSeq[Long](2).nonEmpty && fam.getSeq[Long](4).size == 2)
    assert(fam.getLong(6) == colSide.getLong(2))
    // generator: pairs of a 3-member bucket
    val np = spark.sql(
      """SELECT bucket_pair_dots(array(
        |  named_struct('id', 1L, 'e', array(1.0d, 0.0d), 'nrm', 1.0d),
        |  named_struct('id', 2L, 'e', array(0.0d, 1.0d), 'nrm', 1.0d),
        |  named_struct('id', 3L, 'e', array(1.0d, 1.0d), 'nrm', 1.4142d)))""".stripMargin)
      .collect()
    assert(np.length == 3, s"expected 3 pairs, got ${np.length}")
    val ap = spark.sql(
      "SELECT array_pairs(array(5L, 7L, 9L))").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(ap.toSeq == Seq((5L, 7L), (5L, 9L), (7L, 9L)))
    val jk = spark.sql(
      """SELECT json_int_key('{"k": 42}', 'k')""").collect().head.getLong(0)
    assert(jk == 42L)
    val eq = spark.sql(
      "SELECT array_eq_count(array(1L, 2L, 3L), array(1L, 9L, 3L))")
      .collect().head.getInt(0)
    assert(eq == 2)
  }

  test("SQL builders reject a column where a literal argument belongs") {
    GraftFunctions.registerAll(spark)
    import spark.implicits._
    Seq(("a b c", 2, 6L, true)).toDF("t", "n", "x", "p").createOrReplaceTempView("gf_lit")
    Seq(
      "rolling_fingerprint" -> "rolling_fingerprint(t, n)",
      "window_hashes" -> "window_hashes(split(t, ' '), n)",
      "lcg_min" -> "lcg_min(hashed_shingles(split(t, ' ')), n, 11)",
      "lcg_min" -> "lcg_min(hashed_shingles(split(t, ' ')), 37, n)",
      "sum128" -> "sum128(x, n)",
      "square_sum128" -> "square_sum128(x, n)",
      "simhash_pack" -> "simhash_pack(split(t, ' '), p)",
      "json_int_key" -> "json_int_key(t, t)").foreach { case (fn, call) =>
      val e = intercept[IllegalArgumentException] {
        spark.sql(s"SELECT $call FROM gf_lit").collect()
      }
      assert(e.getMessage.contains(fn), s"$call: ${e.getMessage}")
    }
  }

  test("native RollingFingerprint equals the lambda formulation everywhere") {
    import spark.implicits._
    // Boundary fixtures: empty string, single token, leading/trailing/double
    // spaces (empty tokens), exactly-k and shorter-than-k heads — each must
    // reproduce split(text, ' ')'s keep-empties semantics bit-for-bit.
    val edge = Seq("", "x", "a b c", " lead", "trail ", "a  b", "     ",
      "one two three four five six seven").toDF("text")
    val corpus = graft.engine.Tables.table(spark, sfDir, "documents").select("text")
    Seq(edge, corpus).foreach { df =>
      Seq(-1, 1, 3, 5, 100).foreach { k =>
        val native =
          if (k < 0) GraftFunctions.fingerprint("text")
          else GraftFunctions.headFingerprint("text", k)
        val mismatches = df.select(
            native.as("n"),
            GraftFunctions.fingerprintViaLambdas("text", k).as("l"))
          .where(col("n") =!= col("l")).count()
        assert(mismatches == 0, s"k=$k: $mismatches rows diverge")
      }
    }
  }

  test("native HashedShingles equals the lambda formulation everywhere") {
    import spark.implicits._
    // Boundary fixtures with >= 3 tokens (the callers' precondition —
    // below 3 the lambda formulation itself crashes): empty tokens from
    // double/leading spaces, repeated windows (distinct must collapse,
    // preserving first-occurrence order), exactly 3 tokens.
    val edge = Seq("a b c", "a b c d e", "x  y  z", " a b c ",
      "r r r r r r", "one two three one two three one two three")
      .toDF("text")
    val corpus = graft.engine.Tables.table(spark, sfDir, "documents").select("text")
    Seq(edge, corpus).foreach { df =>
      val mismatches = df
        .select(split(col("text"), " ").as("l"))
        .where(size(col("l")) >= 3)
        .select(GraftFunctions.hashedShingles("l").as("n"),
          GraftFunctions.hashedShinglesViaLambdas("l").as("m"))
        .where(not(col("n") <=> col("m"))).count()
      assert(mismatches == 0, s"$mismatches rows diverge")
    }
  }

  test("native LcgMin band keys equal the lambda formulation on the corpus") {
    val mismatches = graft.engine.Tables.table(spark, sfDir, "documents")
      .select(split(col("text"), " ").as("l"))
      .where(size(col("l")) >= 3)
      .select(GraftFunctions.hashedShingles("l").as("sh"))
      .select(GraftFunctions.minhashBandKeys("sh").as("n"),
        GraftFunctions.minhashBandKeysViaLambdas("sh").as("m"))
      .where(not(col("n") <=> col("m"))).count()
    assert(mismatches == 0, s"$mismatches rows diverge")
  }

  test("HashedShingles stays inside whole-stage codegen") {
    val df = graft.engine.Tables.table(spark, sfDir, "documents")
      .select(split(col("text"), " ").as("l"))
      .where(size(col("l")) >= 3)
      .select(GraftFunctions.hashedShingles("l").as("sh"))
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("*(1)"),
      s"shingle projection not in a codegen span:\n$executed")
  }

  test("native SimHashPack equals the aggregate formulation (both bit sources)") {
    import spark.implicits._
    // Edge fixtures: repeated tokens (the internal dedup must vote once),
    // single token, empty-string tokens from double spaces; plus the
    // corpus. The agg reference drops empty token ARRAYS (explode), but
    // split() never yields one, so the join below is total.
    val edge = Seq("a", "a a a", "x  y  z", " a b ", "one two one two")
      .toDF("text")
    val corpus = graft.engine.Tables.table(spark, sfDir, "documents")
      .select("text")
    for (df0 <- Seq(edge, corpus); portable <- Seq(true, false)) {
      val df = df0.withColumn("doc_id", monotonically_increasing_id())
      val native = graft.operators.Dedup
        .packedSimhash(df, "doc_id", "text", portable)
      val agg = graft.operators.Dedup
        .packedSimhashViaAgg(df, "doc_id", "text", portable)
        .withColumnRenamed("sh", "sh_agg")
      val joined = native.join(agg, "doc_id")
      assert(joined.count() == df.count(), "agg reference lost rows")
      val mismatches = joined.where(col("sh") =!= col("sh_agg")).count()
      assert(mismatches == 0, s"portable=$portable: $mismatches rows diverge")
    }
  }

  test("SimHashPack stays inside whole-stage codegen") {
    val df = graft.engine.Tables.table(spark, sfDir, "documents")
      .select(graft.engine.expr.SimHashPack
        .of(split(col("text"), " "), portable = true).as("sh"))
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("*(1)"),
      s"simhash projection not in a codegen span:\n$executed")
  }

  test("RollingFingerprint stays inside whole-stage codegen") {
    // The point of the native expression: the lambda formulation is
    // CodegenFallback, this one is not — the projection must carry NO
    // fallback marker for the fingerprint column.
    val df = graft.engine.Tables.table(spark, sfDir, "documents")
      .select(GraftFunctions.fingerprint("text").as("fp"))
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("*(1)"),
      s"fingerprint projection not in a codegen span:\n$executed")
  }

  test("native JsonIntKey equals get_json_object on the events corpus") {
    // The r11 graph-family hot-path swap (VERDICT r10 #1): every row of
    // the real corpus must extract bit-identically through the byte walk
    // and the Jackson path — null-safe comparison so an absent-vs-absent
    // row also counts as agreement.
    val ev = graft.engine.Tables.table(spark, sfDir, "events")
    val mismatches = ev.select(
        graft.engine.expr.JsonIntKey.of(col("props"), "k").as("n"),
        get_json_object(col("props"), "$.k").cast("long").as("j"))
      .where(not(col("n") <=> col("j"))).count()
    assert(mismatches == 0, s"$mismatches rows diverge")
  }

  test("JsonIntKey boundary fixtures follow the documented contract") {
    import spark.implicits._
    // (json, expected) — expected = null where the contract says SQL NULL.
    // get_json_object agreement is asserted on the WELL-FORMED integral
    // subset; the malformed rows pin this expression's own contract
    // (cast would THROW on them under ANSI, which is why they are not
    // run through the reference here).
    val fixtures: Seq[(String, java.lang.Long)] = Seq(
      ("""{"k": 69}""", 69L),
      ("""{"k":-12}""", -12L),
      ("""{ "k" :  7 }""", 7L),
      ("""{"a": 1, "k": 2}""", 2L),
      ("""{"k": 0}""", 0L),
      ("""{"k": "42"}""", 42L),
      ("""{"k": " +42 "}""", 42L),
      // cast-trim set inside quotes is UTF8String.trimAll's FULL
      // per-byte set — every byte <= 0x20 PLUS 0x7f/DEL
      // (Character.isWhitespace || isISOControl on the ASCII range), not
      // just the four JSON chars (r12, ADVICE r11 #2; DEL added r13,
      // ADVICE r12 #1): the old get_json_object+cast path read all of
      // these as 42 (form feed / vertical tab / NUL / DEL padding inside
      // the quoted value).
      ("{\"k\": \"\f42\"}", 42L),
      ("{\"k\": \"42\u000b\"}", 42L),
      ("{\"k\": \"\u000042\"}", 42L),
      ("{\"k\": \"\u007f42\u007f\"}", 42L),
      ("""{"k": "4 2"}""", null),
      ("""{"k": 9223372036854775807}""", Long.MaxValue),
      ("""{"kk": 5}""", null),
      ("""{"a": 1}""", null),
      ("""{"k": null}""", null),
      ("""{"k": true}""", null),
      ("""{"k": 1.5}""", null),
      ("""{"k": 1e3}""", null),
      ("""{"k": 9223372036854775808}""", null),
      ("""{"k": }""", null),
      // a key-shaped substring inside an earlier string VALUE is walked
      // past; the real pair still extracts (r11 resume-on-mismatch)
      ("""{"a": "k", "k": 5}""", 5L),
      ("""""", null))
    val got = fixtures.map(_._1).toDF("j")
      .select(graft.engine.expr.JsonIntKey.of(col("j"), "k").as("v"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getLong(0): java.lang.Long)
    fixtures.zip(got).foreach { case ((j, exp), act) =>
      assert(act == exp, s"$j: expected $exp, got $act")
    }
    // Integral subset: byte walk ≡ Jackson ≡ the oracle engine's view.
    val integral = fixtures.collect { case (j, e) if e != null => j }
    val mism = integral.toDF("j").select(
        graft.engine.expr.JsonIntKey.of(col("j"), "k").as("n"),
        get_json_object(col("j"), "$.k").cast("long").as("r"))
      .where(not(col("n") <=> col("r"))).count()
    assert(mism == 0)
  }

  test("JsonIntKey stays inside whole-stage codegen") {
    val df = graft.engine.Tables.table(spark, sfDir, "events")
      .select(graft.engine.expr.JsonIntKey.of(col("props"), "k").as("k"))
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("*(1)"),
      s"props-key projection not in a codegen span:\n$executed")
  }
}
