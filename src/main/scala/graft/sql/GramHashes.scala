package graft.sql

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared single-pass gram machinery for the per-row text-hash
  * expressions ([[Simhash5]], [[Fingerprint5]]): code-point 5-gram
  * codes, DEDUPLICATED per document (sort + unique — no boxing), since
  * unlike MinHash these hashes are duplicate-sensitive and the oracles
  * compute over the distinct gram set.
  */
private[sql] object GramHashes {
  /** Sorted distinct 5-gram codes of `s`; null when none. */
  def distinctGrams(input: Any): Array[Long] = {
    val s = input.asInstanceOf[UTF8String].toString
    val n = s.codePointCount(0, s.length)
    if (n < 5) return null
    val cps = new Array[Int](n)
    var ci = 0
    var k = 0
    while (ci < s.length) {
      val cp = s.codePointAt(ci)
      cps(k) = cp
      k += 1
      ci += Character.charCount(cp)
    }
    val g = new Array[Long](n - 4)
    var i = 0
    while (i < n - 4) {
      g(i) = (((cps(i).toLong * 256 + cps(i + 1)) * 256 + cps(i + 2)) * 256 +
        cps(i + 3)) * 256 + cps(i + 4)
      i += 1
    }
    java.util.Arrays.sort(g)
    var w = 1
    i = 1
    while (i < g.length) {
      if (g(i) != g(w - 1)) { g(w) = g(i); w += 1 }
      i += 1
    }
    if (w == g.length) g else java.util.Arrays.copyOf(g, w)
  }

  def litInt(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an INT literal, got $other")
  }

  def requireString(name: String, child: Expression): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires a STRING argument, got ${child.dataType.sql}")
}

/** Sorted distinct 5-gram codes per row:
  * `grams5_distinct(text) -> array<bigint>` (null when no 5-gram).
  * The per-row form of `grams5(...).distinct()` — sortedness is the
  * contract [[IntersectCount]] exploits for a linear merge.
  */
case class Grams5Distinct(child: Expression)
  extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GramHashes.requireString("grams5_distinct", child)
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    TextRuntime.grams5Distinct(input.asInstanceOf[UTF8String])

  // full codegen: keeps the rerank projections (d2/d13/d29) inside the
  // containing WholeStageCodegen span; null when no 5-gram
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.sql.TextRuntime.grams5Distinct($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(c: Expression): Grams5Distinct =
    copy(child = c)
}

object Grams5Distinct {
  /** SQL builder for `grams5_distinct(text)`. */
  val build: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 1, "grams5_distinct expects exactly one argument")
    Grams5Distinct(exprs.head)
  }
}

/** Linear-merge intersection size of two SORTED distinct bigint arrays:
  * `intersect_count(a, b) -> bigint`. Replaces the
  * explode + equi-join + count formulation of set intersection with a
  * per-row merge — for candidate-pair reranking this turns the whole
  * Jaccard stage into two hash joins plus a projection.
  */
case class IntersectCount(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  private def isLongArray(t: DataType): Boolean = t match {
    case org.apache.spark.sql.types.ArrayType(LongType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left.dataType) && isLongArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"intersect_count requires two ARRAY<BIGINT> arguments, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any =
    TextRuntime.intersectCount(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  // full codegen: the linear merge is the inner loop of the rerank
  // projection — it must not split the WholeStageCodegen span
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.sql.TextRuntime.intersectCount($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): IntersectCount =
    copy(left = l, right = r)
}

object IntersectCount {
  /** SQL builder for `intersect_count(a, b)`. */
  val build: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, "intersect_count expects (a, b)")
    IntersectCount(exprs.head, exprs(1))
  }
}

/** Per-row SimHash over distinct 5-grams in ONE pass:
  * `simhash5(text, nBits) -> bigint`. Bit j is set when the sign-sum of
  * hash-j's parity over the document's distinct grams is positive —
  * exactly the explode/crossJoin/two-aggregate pipeline's arithmetic
  * (and the DuckDB oracle's) with ZERO shuffles. Null when no 5-gram.
  */
case class Simhash5(child: Expression, nBits: Int)
  extends UnaryExpression {
  require(nBits >= 1 && nBits <= 63, s"nBits $nBits not in [1,63]")

  import graft.pipeline.TextOps.{aConst, bConst}
  private val as: Array[Long] = (0 until nBits).map(aConst).toArray
  private val bs: Array[Long] = (0 until nBits).map(bConst).toArray

  override def checkInputDataTypes(): TypeCheckResult =
    GramHashes.requireString("simhash5", child)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val grams = GramHashes.distinctGrams(input)
    if (grams == null) null
    else TextRuntime.simhash5Of(grams, as, bs)
  }

  // full codegen: hash-family constants ride the references array
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val asRef = ctx.addReferenceObj("as", as, "long[]")
    val bsRef = ctx.addReferenceObj("bs", bs, "long[]")
    val grams = ctx.freshName("grams")
    nullSafeCodeGen(ctx, ev, c => s"""
      long[] $grams = graft.sql.TextRuntime.grams5DistinctArr($c);
      if ($grams == null) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = graft.sql.TextRuntime.simhash5Of($grams, $asRef, $bsRef);
      }
    """)
  }

  override protected def withNewChildInternal(c: Expression): Simhash5 =
    copy(child = c)
}

object Simhash5 {
  /** SQL builder for `simhash5(text, nBits)`. */
  val build: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, "simhash5 expects (text, nBits)")
    Simhash5(exprs.head, GramHashes.litInt(exprs(1), "simhash5 nBits"))
  }
}

/** Per-row document fingerprint over distinct 5-grams in ONE pass:
  * `fingerprint5(text) -> bigint`, computed as
  * `(minhash_0 * 31 + (sum(tg) % P) * 17 + n_grams) % 2147483647` —
  * the d8 pipeline's exact arithmetic without the explode or the
  * group-by shuffle. Null when no 5-gram.
  */
case class Fingerprint5(child: Expression)
  extends UnaryExpression {

  import graft.pipeline.TextOps.{aConst, bConst}
  private val a0 = aConst(0)
  private val b0 = bConst(0)

  override def checkInputDataTypes(): TypeCheckResult =
    GramHashes.requireString("fingerprint5", child)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val grams = GramHashes.distinctGrams(input)
    if (grams == null) null
    else TextRuntime.fingerprint5Of(grams, a0, b0)
  }

  // full codegen: d8's corpus-wide fingerprint projection stays in span
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val grams = ctx.freshName("grams")
    nullSafeCodeGen(ctx, ev, c => s"""
      long[] $grams = graft.sql.TextRuntime.grams5DistinctArr($c);
      if ($grams == null) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = graft.sql.TextRuntime.fingerprint5Of($grams, ${a0}L, ${b0}L);
      }
    """)
  }

  override protected def withNewChildInternal(c: Expression): Fingerprint5 =
    copy(child = c)
}

object Fingerprint5 {
  /** SQL builder for `fingerprint5(text)`. */
  val build: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 1, "fingerprint5 expects exactly one argument")
    Fingerprint5(exprs.head)
  }
}
