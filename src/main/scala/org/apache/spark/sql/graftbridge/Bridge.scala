package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Column ⇄ Expression bridge. Spark 4 made these conversions
  * `private[sql]` (Column is connect/classic-agnostic in sql-api);
  * extension libraries that define native Catalyst expressions reach
  * them through an in-package shim — the standard pattern for
  * third-party expression packages. `asNullable` (also
  * `private[spark]`) gives a hand-built file relation the nullable
  * data schema Spark's own file sources read with.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def asNullable(s: StructType): StructType = s.asNullable
}
