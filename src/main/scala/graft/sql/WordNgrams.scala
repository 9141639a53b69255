package graft.sql

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native expression producing the DISTINCT space-joined word n-grams
  * of a string in one pass: `word_ngrams(text, n) -> array<string>`.
  *
  * Semantically identical to
  * `array_distinct(transform(sequence(1, size(ws)-n+1),
  *    i -> concat_ws(' ', slice(ws, i, n))))` over
  * `ws = split(text, ' ', -1)` — and to DuckDB's
  * `ws[i] || ' ' || ws[i+1] || ...` over `string_split(text, ' ')` —
  * but without the interpreted higher-order lambdas, the per-element
  * array slices, and the O(n^2) interpreted array_distinct that make
  * the composable form the hot allocation in decontamination-style
  * pipelines (measured ~4x the whole-query time at sf0.1). Full
  * codegen: a CodegenFallback child forces the consuming Project or
  * GenerateExec (explode) out of whole-stage codegen.
  */
case class WordNgrams(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1, s"word_ngrams: n must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_ngrams requires a STRING argument, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    WordNgrams.ngrams(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.sql.WordNgramsRuntime.ngrams($c, $n)")

  override protected def withNewChildInternal(c: Expression): WordNgrams =
    copy(child = c)
}

/** Static kernel shared by interpreted eval and generated code (pure
  * object so Janino sees plain static forwarders — see TextRuntime).
  */
object WordNgramsRuntime {
  def ngrams(input: UTF8String, n: Int): GenericArrayData = {
    // split(" ", -1): KEEP trailing empty tokens, matching Spark's
    // split(text, ' ') and DuckDB's string_split — Java's default
    // limit-0 split would silently drop them
    val words = input.toString.split(" ", -1)
    if (words.length < n) new GenericArrayData(Array.empty[Any])
    else {
      val seen = new java.util.LinkedHashSet[String]()
      val sb = new java.lang.StringBuilder()
      var i = 0
      while (i <= words.length - n) {
        sb.setLength(0)
        var k = 0
        while (k < n) {
          if (k > 0) sb.append(' ')
          sb.append(words(i + k))
          k += 1
        }
        seen.add(sb.toString)
        i += 1
      }
      val out = new Array[Any](seen.size())
      val it = seen.iterator()
      var j = 0
      while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
      new GenericArrayData(out)
    }
  }
}

object WordNgrams {
  /** Interpreted-eval entry (shared kernel). */
  def ngrams(input: UTF8String, n: Int): GenericArrayData =
    WordNgramsRuntime.ngrams(input, n)

  /** SQL builder for `word_ngrams(text, n)` (a GraftExtensions.functions row). */
  val build: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, "word_ngrams expects (text, n)")
    val n = exprs(1) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"word_ngrams: n must be an integer literal, got $other")
    }
    WordNgrams(exprs.head, n)
  }
}
