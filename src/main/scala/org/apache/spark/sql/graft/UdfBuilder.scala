package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.UserDefinedFunctionUtils
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.expressions.{SparkUserDefinedFunction, UserDefinedAggregator, UserDefinedFunction}

/** The builder Spark's UDFRegistration binds `name` to for `f`,
  * without registering it: a typed Scala UDF becomes a named
  * `ScalaUDF`, a `functions.udaf` aggregator a named `ScalaAggregator`
  * — the same nodes, so a function-table row built here plans exactly
  * as a session registration of `f` would. Lives under
  * org.apache.spark.sql because both node constructors are
  * package-private there.
  */
object UdfBuilder {
  def apply(name: String, f: UserDefinedFunction): Seq[Expression] => Expression =
    f.withName(name) match {
      case agg: UserDefinedAggregator[_, _, _] => ScalaAggregator(agg, _)
      case udf: SparkUserDefinedFunction =>
        val arity = udf.inputEncoders.size
        children =>
          if (children.length == arity) UserDefinedFunctionUtils.toScalaUDF(udf, children)
          else throw QueryCompilationErrors.wrongNumArgsError(
            name, Seq(arity), children.length)
    }
}
