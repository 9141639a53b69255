package graft.sql

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native vector arithmetic over embedding columns (array<float>).
  *
  * Both expressions fold IN ARRAY ORDER with a double accumulator —
  * bit-identical to the `aggregate(zip_with(...))` higher-order-function
  * forms they replace (and to the DuckDB oracles' ordered range() sums),
  * minus the per-row intermediate arrays and interpreted lambda calls
  * the HOF path pays.
  */
private[sql] object VectorExprs {
  def isFloatArray(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
}

/** Static kernels shared by interpreted eval and generated code of the
  * vector expressions (pure object — Janino calls the static
  * forwarders; see [[TextRuntime]] for the rationale).
  */
object VectorRuntime {
  import graft.pipeline.TextOps.P

  def dotF(x: ArrayData, y: ArrayData,
           leftIsFloat: Boolean, rightIsFloat: Boolean): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xv = if (leftIsFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rightIsFloat) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  def dotI8(x: ArrayData, y: ArrayData): Long = {
    val n = x.numElements()
    // loud-fail on mismatched lengths: silently truncating to the
    // shorter side would score a corrupt or mis-built q8 column as a
    // plausible result
    if (n != y.numElements()) throw new IllegalArgumentException(
      s"dot_i8: mismatched array lengths $n vs ${y.numElements()}")
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += x.getByte(i).toLong * y.getByte(i).toLong
      i += 1
    }
    acc
  }

  def hplaneProj(x: ArrayData, a: Long, b: Long): Double = {
    var acc = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) {
      val sign = if (((a * (i + 1) + b) % P) % 2 == 1) 1.0 else -1.0
      acc += x.getFloat(i).toDouble * sign
      i += 1
    }
    acc
  }
}

/** Ordered-fold dot product: `dot_f(a, b) -> double` over two
  * array<float|double> columns — each element widens to double before
  * the multiply and the fold runs in index order, so results are
  * bit-identical to the HOF reference
  * `aggregate(zip_with(a, b, (x, y) -> double(x) * double(y)), 0d,
  * (acc, v) -> acc + v)` without materializing the zipped array
  * (length-mismatch folds over the shorter; embeddings are fixed-dim
  * so that never arises here). The double side exists for centroid
  * arrays (means are double) — k-means reassign scores float vectors
  * against double centroids row by row.
  */
case class DotFloat(left: Expression, right: Expression)
  extends BinaryExpression {

  private def isNumArray(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (isNumArray(left.dataType) && isNumArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_f requires two ARRAY<FLOAT|DOUBLE> arguments, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")
  override def dataType: DataType = DoubleType

  @transient private lazy val leftIsFloat =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val rightIsFloat =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorRuntime.dotF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      leftIsFloat, rightIsFloat)

  // full codegen: the ANN candidate scans call this per row — it must
  // not split the WholeStageCodegen span (see TextRuntime rationale)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.sql.VectorRuntime.dotF($a, $b, $leftIsFloat, $rightIsFloat)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotFloat =
    copy(left = l, right = r)
}

object DotFloat {
  /** SQL builder for `dot_f(a, b)`. */
  val build: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, "dot_f expects (a, b)")
    DotFloat(exprs.head, exprs(1))
  }
}

/** Integer dot product over two array<tinyint> columns:
  * `dot_i8(a, b) -> bigint` — the quantized-domain scorer of the SQ8
  * ANN path (VectorOps.sq8TopK). Exact integer arithmetic (64-element
  * int8 dot is bounded by 2^20, the long accumulator never wraps), so
  * it is value-identical to the HOF reference
  * `aggregate(zip_with(a, b, (x, y) -> bigint(x) * bigint(y)), 0L,
  * (acc, v) -> acc + v)` minus the zipped intermediate array and the
  * interpreted lambda calls per element — the candidate scan is the
  * hot loop of the quantized path, and paying interpreter overhead
  * per BYTE would forfeit the bandwidth win quantization buys.
  */
case class DotInt8(left: Expression, right: Expression)
  extends BinaryExpression {

  private def isByteArray(dt: DataType): Boolean = dt match {
    case ArrayType(org.apache.spark.sql.types.ByteType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (isByteArray(left.dataType) && isByteArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_i8 requires two ARRAY<TINYINT> arguments, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")
  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorRuntime.dotI8(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  // full codegen: the quantized candidate scan is the SQ8 hot loop
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.sql.VectorRuntime.dotI8($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotInt8 =
    copy(left = l, right = r)
}

object DotInt8 {
  /** SQL builder for `dot_i8(a, b)`. */
  val build: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, "dot_i8 expects (a, b)")
    DotInt8(exprs.head, exprs(1))
  }
}

/** Ordered-fold projection of an embedding onto pseudo-random
  * hyperplane `j`: `hplane_proj(embedding, j) -> double`, where
  * dimension i contributes `x_i * (+-1)` with the sign drawn from the
  * shared arithmetic hash family
  * (`((a_j * (i+1) + b_j) % P) % 2 == 1` => +1) — exactly
  * [[graft.pipeline.VectorOps.planeSignSql]]'s arithmetic.
  */
case class HyperplaneProjection(child: Expression, j: Int)
  extends UnaryExpression {

  import graft.pipeline.TextOps.{aConst, bConst}
  private val a = aConst(j)
  private val b = bConst(j)

  override def checkInputDataTypes(): TypeCheckResult =
    if (VectorExprs.isFloatArray(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hplane_proj requires an ARRAY<FLOAT> argument, got ${child.dataType.sql}")
  override def dataType: DataType = DoubleType

  override def nullSafeEval(input: Any): Any =
    VectorRuntime.hplaneProj(input.asInstanceOf[ArrayData], a, b)

  // full codegen: e2's projection fan-out evaluates this per (row, j)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.sql.VectorRuntime.hplaneProj($c, ${a}L, ${b}L)")

  override protected def withNewChildInternal(c: Expression): HyperplaneProjection =
    copy(child = c)
}

object HyperplaneProjection {
  /** SQL builder for `hplane_proj(emb, j)`. */
  val build: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, "hplane_proj expects (embedding, j)")
    HyperplaneProjection(exprs.head,
      GramHashes.litInt(exprs(1), "hplane_proj j"))
  }
}
