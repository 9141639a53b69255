package graft.sql

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native expression producing the base-256 code-point 5-gram codes of
  * a string in one pass: `grams5(text) -> array<bigint>`.
  *
  * Semantically identical to the composable form
  * `transform(sequence(...), i -> fold(ascii(substring(text,i+k,1))))`
  * used by the DuckDB oracles (ascii = first code point), but without
  * materializing per-character strings and three intermediate arrays —
  * the hot allocation in the text-dedup pipeline. Full codegen: a
  * CodegenFallback child forces the consuming GenerateExec (explode)
  * out of whole-stage codegen entirely, splitting the scan span.
  */
case class Grams5(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"grams5 requires a STRING argument, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    TextRuntime.grams5All(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.sql.TextRuntime.grams5All($c)")

  override protected def withNewChildInternal(c: Expression): Grams5 = copy(child = c)
}

object Grams5 {
  /** SQL builder for `grams5(text)` (a GraftExtensions.functions row). */
  val build: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 1, "grams5 expects exactly one argument")
    Grams5(exprs.head)
  }
}
