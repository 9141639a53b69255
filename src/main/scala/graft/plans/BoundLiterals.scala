package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.types._

import graft.sources.druid.DruidScan

/** A non-null literal whose generated code reads its value from the
  * codegen references array instead of inlining it into the source.
  *
  * `Literal.doGenCode` writes numeric, date and timestamp values into
  * the Java source, and Spark's compile cache is keyed by that source,
  * so every fresh value compiles a new class per whole-stage-codegen
  * stage. Here the source names only a `references` slot, so a query
  * that differs from an earlier one only in these values reuses its
  * compiled classes.
  *
  * Non-foldable, so no optimizer rule folds it back; `eval`, equality,
  * `toString` and `sql` are the [[Literal]]'s it stands for, so
  * interpreted evaluation and EXPLAIN text do not change.
  */
case class BoundLiteral(value: Any, dataType: DataType) extends LeafExpression {
  def literal: Literal = Literal(value, dataType)

  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql
  // Literal's equality: NaN equals NaN, so a bound NaN compares equal
  // to itself when the optimizer checks for a fixed point
  override def equals(o: Any): Boolean = o match {
    case b: BoundLiteral => literal == b.literal
    case _ => false
  }
  override def hashCode: Int = literal.hashCode

  // loaded once per generated object, when its constructor or init
  // runs, into a primitive field the row loop reads
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("bound", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "bound",
      v => s"$v = $ref.${javaType}Value();", forceInline = true)
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** A [[Literal]]'s or a [[BoundLiteral]]'s value and type, for a rule
  * that reads a literal operand of a Filter BoundLiterals may already
  * have rewritten.
  */
object LiteralValue {
  def unapply(e: Expression): Option[(Any, DataType)] = e match {
    case Literal(v, t)      => Some((v, t))
    case BoundLiteral(v, t) => Some((v, t))
    case _                  => None
  }
}

/** Binds the numeric, date and timestamp literals of a Filter directly
  * over a druid scan as [[BoundLiteral]]s: every non-null operand of a
  * comparison or `IN` of one of [[Bindable]]'s types.
  *
  * Dashboards send the same query shape with a fresh interval or bound
  * on every request; with inlined literals each request compiled its
  * own whole-stage classes. String literals already go through the
  * references array and are left as they are, as are nulls.
  *
  * Runs in experimental.extraOptimizations, after
  * V2ScanRelationPushDown, so the scan's predicate list is built from
  * real literals, and after [[MvBitmapRewrite]], which reads the `0` of
  * `version_cmp(d, 'v') >= 0` through [[LiteralValue]] on every pass
  * of the batch. Filters over file sources and cached relations are
  * left alone:
  * `FileSourceStrategy` and `InMemoryTableScanExec` match `Literal` at
  * physical planning. [[RollupRouting]]'s rewrite, which can run later
  * in the same fixed-point batch, reads a BoundLiteral as the literal
  * it stands for.
  *
  * Armed by [[graft.sql.GraftExtensions.install]], right after
  * MvBitmapRewrite.
  */
object BoundLiterals extends Rule[LogicalPlan] {

  val Bindable: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType,
    FloatType, DoubleType, DateType, TimestampType, TimestampNTZType)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, sr: DataSourceV2ScanRelation)
        if sr.scan.isInstanceOf[DruidScan] =>
      val bound = cond.transformUp {
        case c: BinaryComparison => c.withNewChildren(c.children.map(bind))
        case in: In              => in.withNewChildren(in.children.map(bind))
      }
      if (bound eq cond) f else f.copy(condition = bound)
  }

  private def bind(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && Bindable(t) => BoundLiteral(v, t)
    case other => other
  }
}
