package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Column ⇄ catalyst Expression bridge. Spark 4 made these conversions
  * `private[sql]` (columnNodeSupport.scala); living under
  * org.apache.spark.sql grants qualified-private access — the standard
  * pattern for extension libraries shipping native expressions.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `t` with every field, element and value nullable — the schema a
    * parquet read declares (`StructType.asNullable` is `private[spark]`).
    */
  def asNullable(t: StructType): StructType = t.asNullable
}
