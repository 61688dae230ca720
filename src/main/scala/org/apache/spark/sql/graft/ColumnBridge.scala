package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType}

/** Classic-mode bridge between Catalyst [[Expression]]s and the public
  * [[Column]] API (Spark 4 hides the constructor behind private[sql]
  * ExpressionUtils; this subpackage is the sanctioned way for libraries
  * to reach it). */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Execute a (possibly rewritten) parsed logical plan — the USE
    * statement qualifies unresolved relations before analysis, which
    * needs `Dataset.ofRows` (private[sql]). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `plan` analyzed, as `ofRows` would, but with commands left
    * unexecuted (`CommandExecutionMode.SKIP`, as Spark's own EXPLAIN
    * plans them): its optimized and physical plans are built on
    * demand, and nothing runs. */
  def analyzed(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.execution.QueryExecution = {
    val qe = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.executePlan(plan,
        org.apache.spark.sql.execution.CommandExecutionMode.SKIP)
    qe.assertAnalyzed()
    qe
  }
}

/** [[ImplicitCastInputTypes]] re-exposed to expressions outside the sql
  * package ([[AbstractDataType]] in its signature is private[sql]):
  * declare the expected concrete types and mismatched SQL inputs are
  * implicitly cast or rejected at analysis time. */
trait DeclaredInputTypes extends ImplicitCastInputTypes {
  def declaredInputTypes: Seq[DataType]
  override def inputTypes: Seq[AbstractDataType] = declaredInputTypes
}
