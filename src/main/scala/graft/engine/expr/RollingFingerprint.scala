package graft.engine.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native codegen scalar for the engine's portable rolling fingerprint
 * (builder brief preference (b), the DotProduct pattern applied to the
 * OTHER hot-path formula): fold over the space-separated tokens of a
 * string, `acc = (acc * 131 + ascii(first) * 31 + length) mod 1e9+7`,
 * optionally limited to the first `limit` tokens (the head fingerprint).
 *
 * Why not `aggregate(transform(split(...)))`: higher-order lambdas are
 * CodegenFallback — per-row interpreted tree walks plus TWO intermediate
 * arrays (the split and the transform) for every document. This expression
 * is one allocation-free character walk; token boundaries are every single
 * space with empties kept (split's limit=-1 semantics), so the result is
 * bit-identical to the lambda formulation and to the DuckDB oracle text —
 * asserted against both on the real corpus and on boundary fixtures in
 * GraftFunctionsSpec. Token codes use code-point semantics ([[TokenCode]],
 * r05) so the registered SQL function agrees with its lambda/oracle twins
 * on non-ASCII input too (the space delimiter is ASCII, so the boundary
 * walk itself is surrogate-safe by construction).
 */
case class RollingFingerprint(child: Expression, limit: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"rolling_fingerprint requires string, got ${t.simpleString(10)}")
  }
  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    RollingFingerprint.compute(input.asInstanceOf[UTF8String], limit)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.engine.expr.RollingFingerprint.compute($c, $limit)")

  override protected def withNewChildInternal(newChild: Expression): RollingFingerprint =
    copy(child = newChild)
}

object RollingFingerprint {
  private val Mod = 1000000007L

  /** The fold, shared by eval and codegen. `limit < 0` = all tokens. */
  def compute(s: UTF8String, limit: Int): Long = {
    val str = s.toString
    val n = str.length
    var acc = 0L
    var tokens = 0
    var tokStart = 0
    var i = 0
    var done = limit == 0
    while (!done) {
      if (i == n || str.charAt(i) == ' ') {
        // token = [tokStart, i) — possibly empty (leading/trailing/double
        // spaces), exactly like split(text, ' ') with limit -1
        acc = (acc * 131 + TokenCode.ofSpan(str, tokStart, i)) % Mod
        tokens += 1
        tokStart = i + 1
        if (i == n || (limit > 0 && tokens >= limit)) done = true
      }
      i += 1
    }
    acc
  }

  /** Column-level API; `limit < 0` folds every token (full fingerprint). */
  def of(c: Column, limit: Int = -1): Column =
    org.apache.spark.sql.GraftShims.column(
      RollingFingerprint(org.apache.spark.sql.GraftShims.expression(c), limit))
}
