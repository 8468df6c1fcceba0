package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Minimal bridge into `private[sql]` surface: Spark 4 removed the public
 * `new Column(Expression)` constructor in favor of ColumnNode; external
 * libraries registering native Catalyst expressions go through
 * `classic.ExpressionUtils`, which is `private[sql]` — hence this shim
 * compiled into the `org.apache.spark.sql` package (the conventional
 * extension-library pattern).
 */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
