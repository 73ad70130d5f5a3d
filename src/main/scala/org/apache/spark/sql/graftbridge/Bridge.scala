package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> catalyst Expression bridge. ExpressionUtils is private[sql] in
  * Spark 4, so this one-liner lives inside the org.apache.spark.sql namespace
  * — the standard pattern for extension libraries shipping native
  * expressions (no other Spark internals are touched). */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The DataFrame of a logical plan (classic.Dataset.ofRows is
    * private[sql]; used to wrap graft's own plan nodes). */
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
