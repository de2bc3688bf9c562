package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 moved Column↔Expression conversion behind `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`). This shim lives inside
  * the `org.apache.spark.sql` package namespace to re-export the
  * conversions our custom expressions and hand-built plans need. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `c` as `spark` converts it, which parses SQL text columns
    * (`functions.expr`) with the session's parser. */
  def expression(spark: org.apache.spark.sql.SparkSession, c: Column): Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].expression(c)
}
