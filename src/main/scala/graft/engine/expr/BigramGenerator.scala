package graft.engine.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Custom Catalyst Generator (UDTF surface, SURVEY §4.3): emits one row per
 * consecutive token pair of an array<string> column. The non-custom
 * formulation (explode ∘ zip_with ∘ slice) exists too; this expression
 * demonstrates whole-row generation at the Catalyst level and avoids
 * materializing the intermediate bigram array per row.
 *
 * Generators run in GenerateExec outside whole-stage codegen regardless of
 * implementation (like explode), so CodegenFallback costs nothing extra.
 */
case class BigramGenerator(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType =
    StructType(StructField("bigram", StringType, nullable = false) :: Nil)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bigrams() requires array<string>, got ${other.simpleString(10)}")
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr == null || arr.numElements() < 2) Iterator.empty
    else {
      val sep = UTF8String.fromString(" ")
      (0 until arr.numElements() - 1).iterator.map { i =>
        InternalRow(UTF8String.concat(
          arr.getUTF8String(i), sep, arr.getUTF8String(i + 1)))
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): BigramGenerator =
    copy(child = newChild)
}

object BigramGenerator {
  /** Column-level API: one `bigram` row per consecutive token pair. */
  def of(tokens: Column): Column =
    org.apache.spark.sql.GraftShims.column(
      BigramGenerator(org.apache.spark.sql.GraftShims.expression(tokens)))
}
