package graft.sql

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-row 5-gram bucket histogram:
  * `grams5_hist(text, mod) -> array<bigint>` of length `mod`, where
  * element b counts the grams of [[Grams5]] with `code % mod == b`.
  *
  * Value-identical to
  * `explode(grams5(text))` → `tg % mod` → `count per (row, bucket)`
  * but as a single per-row projection: the corpus-length gram stream
  * never becomes rows at all, so a bucket-statistics pass (d26's DSIR
  * importance weights) reduces from a gram-scale Generate + hash
  * aggregate to a scan + O(text) arithmetic + mod-sized emit per doc.
  * Strings shorter than 5 code points yield all-zero counts, matching
  * the empty gram array.
  */
case class Grams5Hist(child: Expression, mod: Int)
  extends UnaryExpression {

  require(mod > 0, s"grams5_hist: mod must be positive, got $mod")

  override def checkInputDataTypes(): TypeCheckResult =
    GramHashes.requireString("grams5_hist", child)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "grams5_hist"

  override def nullSafeEval(input: Any): Any =
    TextRuntime.grams5Hist(input.asInstanceOf[UTF8String], mod)

  // full codegen (not CodegenFallback): keeps d26's corpus-wide
  // histogram projection inside the scan's WholeStageCodegen span
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.sql.TextRuntime.grams5Hist($c, $mod)")

  override protected def withNewChildInternal(c: Expression): Grams5Hist =
    copy(child = c)
}

object Grams5Hist {
  /** SQL builder for `grams5_hist(text, mod)`. */
  val build: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, "grams5_hist expects (text, mod)")
    Grams5Hist(exprs.head, GramHashes.litInt(exprs(1), "grams5_hist mod"))
  }
}
