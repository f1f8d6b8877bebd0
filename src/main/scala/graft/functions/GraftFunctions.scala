package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.catalyst.expressions.Expression

import graft.engine.expr.{ArrayEqCount, ArrayPairs, BigramGenerator,
  BucketPairDots, DotProduct, HashedShingles, JsonIntKey, LcgMin,
  RollingFingerprint, SimHashPack, Sum128, WindowHashes}

/**
 * Column-level function facade (library API): the engine's reusable scalar
 * / generator functions in one place. `registerAll` makes the SQL names
 * (`dot_product`, `bigrams`, `rolling_fingerprint`, `json_int_key`,
 * `hashed_shingles`, `lcg_min`, `window_hashes`, `simhash_pack`,
 * `bucket_pair_dots`, `array_pairs`, `array_eq_count`, `sum128`,
 * `square_sum128`) available in a session; the Column APIs work without
 * registration.
 */
object GraftFunctions {

  /** The value of literal argument `arg` of SQL function `fn`: `e` must be
    * foldable and evaluate to a value `read` accepts, else an
    * IllegalArgumentException names the function and the argument (an
    * `eval()` on a column reference would throw an opaque internal error).
    * The one place a SQL builder evaluates an argument. */
  private def literal[T](fn: String, arg: String, kind: String, e: Expression)(
      read: PartialFunction[Any, T]): T = {
    def bad(got: Any) =
      new IllegalArgumentException(s"$fn: $arg must be $kind literal, got $got")
    if (!e.foldable) throw bad("a non-literal expression")
    read.applyOrElse(e.eval(), (v: Any) => throw bad(v))
  }

  private def intLit(fn: String, arg: String, e: Expression): Long =
    literal(fn, arg, "an integer", e) {
      case n: java.lang.Integer => n.longValue
      case n: java.lang.Long => n.longValue
    }

  /** Name → builder for every graft SQL function; [[registerAll]] is the
    * one place that registers them. */
  private[graft] val sqlBuilders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "dot_product" -> {
      case Seq(a, b) => DotProduct(a, b)
      case _ => throw new IllegalArgumentException("dot_product(a, b)") },
    "bigrams" -> {
      case Seq(e) => BigramGenerator(e)
      case _ => throw new IllegalArgumentException("bigrams(tokens)") },
    "rolling_fingerprint" -> {
      case Seq(e) => RollingFingerprint(e, -1)
      case Seq(e, lim) =>
        RollingFingerprint(e, intLit("rolling_fingerprint", "limit", lim).toInt)
      case _ => throw new IllegalArgumentException("rolling_fingerprint(text[, limit])") },
    "json_int_key" -> {
      case Seq(e, k) => JsonIntKey(e, literal("json_int_key", "key", "a string", k) {
        case s: org.apache.spark.unsafe.types.UTF8String => s.toString })
      case _ => throw new IllegalArgumentException("json_int_key(json, key)") },
    "hashed_shingles" -> {
      case Seq(e) => HashedShingles(e)
      case _ => throw new IllegalArgumentException("hashed_shingles(tokens)") },
    "lcg_min" -> {
      case Seq(e, a, c) => LcgMin(e, intLit("lcg_min", "a", a), intLit("lcg_min", "c", c))
      case _ => throw new IllegalArgumentException("lcg_min(hashes, a, c)") },
    "window_hashes" -> {
      case Seq(e, k) => WindowHashes(e, intLit("window_hashes", "k", k).toInt)
      case _ => throw new IllegalArgumentException("window_hashes(tokens, k)") },
    "simhash_pack" -> {
      case Seq(e) => SimHashPack(e, portable = false)
      case Seq(e, p) => SimHashPack(e, literal("simhash_pack", "portable", "a boolean", p) {
        case b: java.lang.Boolean => b.booleanValue })
      case _ => throw new IllegalArgumentException("simhash_pack(tokens[, portable])") },
    "bucket_pair_dots" -> {
      case Seq(e) => BucketPairDots(e)
      case _ => throw new IllegalArgumentException(
        "bucket_pair_dots(array<struct<id, e, nrm>>)") },
    "array_pairs" -> {
      case Seq(e) => ArrayPairs(e)
      case _ => throw new IllegalArgumentException("array_pairs(array<T>)") },
    "array_eq_count" -> {
      case Seq(a, b) => ArrayEqCount(a, b)
      case _ => throw new IllegalArgumentException(
        "array_eq_count(array<bigint>, array<bigint>)") },
    "sum128" -> {
      case Seq(e, s) => Sum128(e, intLit("sum128", "resultScale", s).toInt,
        square = false).toAggregateExpression()
      case _ => throw new IllegalArgumentException(
        "sum128(unscaled_bigint, resultScale)") },
    "square_sum128" -> {
      case Seq(e, s) => Sum128(e, intLit("square_sum128", "resultScale", s).toInt,
        square = true).toAggregateExpression()
      case _ => throw new IllegalArgumentException(
        "square_sum128(unscaled_bigint, resultScale)") })

  /** Register every graft SQL function on the session. */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlBuilders.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  /** Native codegen dot product of two array<double> columns. */
  def dot(a: Column, b: Column): Column = DotProduct.dot(a, b)

  /** L2 norm of an array<double> column. */
  def l2Norm(v: Column): Column = sqrt(DotProduct.dot(v, v))

  /** Rounded decimal cosine similarity of two array<double> columns. */
  def cosineSim(a: Column, b: Column, scale: Int = 4): Column =
    round(dot(a, b) / (l2Norm(a) * l2Norm(b)), scale)
      .cast(s"decimal(${scale + 3},$scale)")

  /** Order/multiplicity-invariant token-set signature of a text column. */
  def tokenSetSignature(text: Column, sep: String = " "): Column =
    graft.operators.Dedup.tokenSetSignature(text, sep)

  /** Engine-portable rolling-hash fingerprint of a text column (pure
    * arithmetic fold — reproducible across engines and runs). Takes the
    * column NAME (the fold is built as a SQL expression). */
  /** The rolling fold (token code ascii*31+length, acc*131+v mod 1e9+7)
    * as a higher-order-function SQL expression. Kept as the REFERENCE
    * formulation the native codegen expression is equality-tested against
    * (GraftFunctionsSpec); production columns use [[fingerprint]] /
    * [[headFingerprint]] below, which run the allocation-free
    * [[graft.engine.expr.RollingFingerprint]] instead of interpreted
    * lambdas. */
  private[graft] def fingerprintViaLambdas(textCol: String, k: Int = -1): Column = {
    val tokensSql =
      if (k > 0) s"slice(split($textCol, ' '), 1, $k)" else s"split($textCol, ' ')"
    expr(s"""aggregate(
            |  transform($tokensSql,
            |            t -> cast(ascii(substr(t, 1, 1)) * 31 + length(t) AS BIGINT)),
            |  cast(0 AS BIGINT),
            |  (acc, v) -> (acc * 131 + v) % 1000000007)""".stripMargin)
  }

  def fingerprint(textCol: String): Column =
    graft.engine.expr.RollingFingerprint.of(col(textCol))

  /** Head fingerprint: the same rolling fold over only the first `k`
    * tokens — the lede/boilerplate dedup key (news-wire and scraped-page
    * pipelines dedup on the document head, where near-copies agree even
    * when tails diverge). Coarser than [[fingerprint]] BY DESIGN: heads
    * genuinely collide, which is what the ledger queries dedup on. */
  def headFingerprint(textCol: String, k: Int): Column =
    graft.engine.expr.RollingFingerprint.of(col(textCol), k)

  /** Engine-portable hashed token-3-gram shingles (array<bigint>):
    * polynomial roll of the fingerprint token code over each 3-token
    * window, distinct'd — reproducible in any engine (used by the
    * banded-MinHash blocking and its DuckDB oracle). Takes the column
    * NAME of a tokens array column. Runs the allocation-lean
    * [[graft.engine.expr.HashedShingles]] native expression; callers must
    * pre-filter `size >= 3` (which they always did — the lambda
    * formulation CRASHES below 3 tokens, see the expression Scaladoc). */
  def hashedShingles(tokensCol: String): Column =
    graft.engine.expr.HashedShingles.of(col(tokensCol))

  /** The lambda reference formulation the native expression is
    * equality-tested against (GraftFunctionsSpec). */
  private[graft] def hashedShinglesViaLambdas(tokensCol: String): Column = {
    def code(t: String) = s"cast(ascii(substr($t, 1, 1)) * 31 + length($t) AS BIGINT)"
    expr(s"""array_distinct(transform(sequence(1, size($tokensCol) - 2),
            |  i -> ((${code(s"element_at($tokensCol, i)")} * 131
            |        + ${code(s"element_at($tokensCol, i + 1)")}) * 131
            |        + ${code(s"element_at($tokensCol, i + 2)")}) % 1000000007))""".stripMargin)
  }

  /** Banded MinHash block keys (2 bands × 2 linear-congruential minima,
    * combined per band) over a distinct-shingle array column NAME. Docs
    * sharing ≥1 band key are near-dup candidates; keys are content hashes,
    * so block cardinality grows with the corpus (constant per-block work).
    * Output: array<bigint> of band keys. */
  def minhashBandKeys(shCol: String): Column = {
    def minPerm(a: Long, c: Long) =
      graft.engine.expr.LcgMin.of(col(shCol), a, c)
    array(
      minPerm(37, 11) * 1000000007L + minPerm(101, 29),
      minPerm(193, 71) * 1000000007L + minPerm(389, 113))
  }

  /** The lambda reference formulation of [[minhashBandKeys]] the native
    * LcgMin path is equality-tested against (GraftFunctionsSpec). */
  private[graft] def minhashBandKeysViaLambdas(shCol: String): Column = {
    def minPerm(a: Long, c: Long) =
      expr(s"array_min(transform($shCol, h -> ($a * h + $c) % 1000000007))")
    array(
      minPerm(37, 11) * 1000000007L + minPerm(101, 29),
      minPerm(193, 71) * 1000000007L + minPerm(389, 113))
  }

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(split(text, " "))
}
