package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's private[sql] Column <-> catalyst Expression
  * converters (Spark 4 moved the classic Column constructor behind
  * org.apache.spark.sql.classic) and its DataFrame-from-plan factory.
  * Standard extension-library pattern: a tiny accessor compiled into
  * the org.apache.spark.sql package so graft's custom expressions can
  * surface as Columns and a rewritten plan as a DataFrame.
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
