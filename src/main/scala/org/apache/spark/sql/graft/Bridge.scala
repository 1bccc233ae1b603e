package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ClassicConversions.ColumnConstructorExt
import org.apache.spark.sql.classic.ColumnConversions

/** Minimal bridge into Spark 4's classic Column↔Expression converters
  * and `Dataset.ofRows`, so graft can expose native Catalyst
  * expressions and its logical nodes ([[graft.plans.RunningWindow]],
  * [[graft.plans.GlobalPrefix]]) through the public DataFrame API.
  * Lives in an org.apache.spark.sql subpackage purely for access
  * (private[sql]); contains no Spark-internal logic.
  */
object Bridge {
  def column(e: Expression): Column = Column(e)
  def expression(c: Column): Expression = ColumnConversions.expression(c)

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
