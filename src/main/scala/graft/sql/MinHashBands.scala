package graft.sql

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native expression computing MinHash LSH band signatures of a string
  * in ONE pass: `minhash_bands(text, k, bandSize) -> array<bigint>` of
  * `k / bandSize` band signatures.
  *
  * Per code-point 5-gram g it updates k running minima of
  * `(a_j * g + b_j) % P` (the shared integer hash family from
  * [[graft.pipeline.TextOps]]), then folds each band of `bandSize`
  * minima into `sum((h % 4096) * 4096^(j % bandSize))` — exactly the
  * arithmetic of the composable explode/groupBy/stack pipeline and of
  * the DuckDB oracle, minus every intermediate row. MinHash is
  * duplicate-insensitive, so skipping the per-doc distinct is lossless.
  *
  * Scale rationale: signatures become a narrow per-row projection — the
  * (doc x gram x k) explode, the wide min aggregate, and the band
  * re-aggregation (two shuffles at 100 TB) all disappear; only the
  * 4-rows-per-doc band self-join remains stateful. Returns null for
  * strings with no 5-gram (caller filters), matching explode()'s
  * empty-array row-drop semantics.
  */
case class MinHashBands(child: Expression, k: Int, bandSize: Int)
  extends UnaryExpression {
  require(k > 0 && bandSize > 0 && k % bandSize == 0,
    s"k=$k must be a positive multiple of bandSize=$bandSize")
  require(bandSize <= 5, s"bandSize $bandSize not in [1,5] (12-bit folds)")

  import graft.pipeline.TextOps.{aConst, bConst}

  private val as: Array[Long] = (0 until k).map(aConst).toArray
  private val bs: Array[Long] = (0 until k).map(bConst).toArray

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"minhash_bands requires a STRING argument, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // null (not empty) for strings with no 5-gram, regardless of child
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    TextRuntime.minhashBands(input.asInstanceOf[UTF8String], as, bs, bandSize)

  // full codegen: the signature projection is the map side of every
  // LSH phase — it must not force its Project out of the scan span
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val asRef = ctx.addReferenceObj("as", as, "long[]")
    val bsRef = ctx.addReferenceObj("bs", bs, "long[]")
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} =
        graft.sql.TextRuntime.minhashBands($c, $asRef, $bsRef, $bandSize);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildInternal(c: Expression): MinHashBands =
    copy(child = c)
}

object MinHashBands {
  private def lit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"minhash_bands $what must be an INT literal, got $other")
  }

  /** SQL builder for `minhash_bands(text, k, bandSize)`. */
  val build: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 3,
      "minhash_bands expects (text, k, bandSize)")
    MinHashBands(exprs.head, lit(exprs(1), "k"), lit(exprs(2), "bandSize"))
  }
}
