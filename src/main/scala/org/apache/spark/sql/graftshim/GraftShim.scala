package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between the public Column API and catalyst Expressions for
  * Spark 4.x, where Column wraps a ColumnNode instead of an Expression.
  * Lives under org.apache.spark.sql to reach the private[sql] converters —
  * the standard pattern for third-party Catalyst extensions.
  */
object GraftShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The session's `spark.sql.autoBroadcastJoinThreshold` in bytes; -1
    * when broadcasting by size is off.
    */
  def broadcastThreshold(spark: org.apache.spark.sql.SparkSession): Long =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.autoBroadcastJoinThreshold

  /** Register a SQL function into a running session's registry. */
  def registerFunction(spark: org.apache.spark.sql.SparkSession,
                       name: org.apache.spark.sql.catalyst.FunctionIdentifier,
                       info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(name, info, builder)
}
