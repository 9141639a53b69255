package graft.sql

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass counting replacements for the replace-arithmetic text
  * statistics the curation queries filter on:
  *
  *  - `word_count(text)` = `length(text) - length(replace(text,' ','')) + 1`
  *  - `marker_count(text, w)` =
  *    `(length(' '||text||' ') - length(replace(' '||text||' ',' w ',''))) div (len(w)+2)`
  *
  * The composable forms stay in the ORACLES (portable SQL); the native
  * forms are value-identical (TextCountsSpec pins it) but do the count
  * in one pass over the UTF-8 bytes instead of materializing two padded
  * copies and three replace()d copies of every document — the dominant
  * per-row cost of the corpus-wide curation filters (guide §1.2 step 2:
  * per-task work). Byte-level is exact: both ' ' and the marker pattern
  * are ASCII, and UTF-8 multi-byte sequences never contain ASCII bytes,
  * so byte matches are exactly character matches; replace() counts
  * non-overlapping left-to-right occurrences, which is what the
  * indexOf-and-skip loop counts.
  */
case class WordCount(child: Expression)
  extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GramHashes.requireString("word_count", child)
  override def dataType: DataType = LongType
  override def prettyName: String = "word_count"

  override def nullSafeEval(input: Any): Any =
    TextRuntime.wordCount(input.asInstanceOf[UTF8String])

  // full codegen (not CodegenFallback): the call compiles into the
  // containing operator's generated code, so the corpus-wide curation
  // filters stay inside one WholeStageCodegen span
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.sql.TextRuntime.wordCount($c)")

  override protected def withNewChildInternal(c: Expression): WordCount =
    copy(child = c)
}

case class MarkerCount(child: Expression, w: String)
  extends UnaryExpression {

  // ASCII-only: the oracle's replace-arithmetic divides by the UTF-16
  // length (w.length + 2) — a non-ASCII marker would diverge byte- vs
  // char-wise; current call sites are 'the'/'a', this guards future use
  require(w.nonEmpty && w.forall(c => c > ' ' && c < 127),
    s"marker_count: marker must be a non-empty ASCII word, got '$w'")

  override def checkInputDataTypes(): TypeCheckResult =
    GramHashes.requireString("marker_count", child)
  override def dataType: DataType = LongType
  override def prettyName: String = "marker_count"

  // ' w ' as UTF-8 bytes — the pattern replace() removed; virtual
  // one-space padding on both sides of the text (TextRuntime)
  @transient private lazy val pat: Array[Byte] =
    s" $w ".getBytes(StandardCharsets.UTF_8)

  override def nullSafeEval(input: Any): Any =
    TextRuntime.markerCount(input.asInstanceOf[UTF8String], pat)

  // full codegen: the pattern rides the references array, the byte
  // scan stays a static call inside the operator's generated code
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val patRef = ctx.addReferenceObj("pat", pat, "byte[]")
    defineCodeGen(ctx, ev, c => s"graft.sql.TextRuntime.markerCount($c, $patRef)")
  }

  override protected def withNewChildInternal(c: Expression): MarkerCount =
    copy(child = c)
}

object TextCounts {
  /** SQL builders: `word_count(text)`, `marker_count(text, 'w')`. */
  val buildWordCount: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 1, "word_count expects exactly one argument")
    WordCount(exprs.head)
  }
  val buildMarkerCount: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, "marker_count expects (text, marker)")
    val w = exprs(1) match {
      case Literal(s: UTF8String, StringType) => s.toString
      case other => throw new IllegalArgumentException(
        s"marker_count marker must be a STRING literal, got $other")
    }
    MarkerCount(exprs.head, w)
  }
}
