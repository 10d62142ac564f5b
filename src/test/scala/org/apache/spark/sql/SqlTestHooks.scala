package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Test-only bridge into `private[sql]` Column/Expression conversions.
  *
  * A function builder in a session's registry takes and returns
  * Catalyst expressions, while the expression forms specs compare
  * against are written with the Column API. The classic converters
  * between the two are `private[sql]`, so this object lives
  * in the `org.apache.spark.sql` package (test sources only).
  */
object SqlTestHooks {
  /** Map `name` in `s`'s function registry to `form`, built over the
    * call's argument expressions. Overrides a built-in or extension
    * function of that name in `s` only. */
  def overrideFunction(s: SparkSession, name: String, form: Seq[Expression] => Column): Unit =
    s.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name,
        args => classic.ColumnNodeToExpressionConverter(form(args).node), "scala_udf")

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
}
