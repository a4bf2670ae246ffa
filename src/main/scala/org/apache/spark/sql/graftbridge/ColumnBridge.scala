package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Expression↔Column conversion lives behind `private[sql]` in Spark 4; this
  * bridge sits inside the org.apache.spark.sql namespace solely to re-expose
  * it to graft's native expressions. No other internals are touched. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Eager ColumnNode → catalyst conversion. ExpressionUtils.expression
    * returns a lazy ColumnNodeExpression wrapper whose internal node graph
    * (sql.internal.SortOrder etc.) is NOT serializable and must never reach a
    * physical plan. */
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** `c AS name` whose output attribute carries `qualifier` and
    * `metadata`, so `qualifier.name` resolves on the projection as it would
    * on a `Dataset.as(qualifier)` side of a join. */
  def qualifiedAlias(c: Column, name: String, qualifier: String,
                     metadata: org.apache.spark.sql.types.Metadata): Column =
    column(org.apache.spark.sql.catalyst.expressions.Alias(expression(c), name)(
      qualifier = Seq(qualifier), explicitMetadata = Some(metadata)))

  /** Build a DataFrame from a custom LogicalPlan (Dataset.ofRows is
    * private[sql]). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed logical plan behind a DataFrame. */
  def logicalPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].logicalPlan

  /** Register a native expression as a SQL function on a LIVE session (the
    * extensions path only applies at session construction). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo("graft", name),
      builder)
  }

  /** Register a TABLE-valued function on a LIVE session (same reason: the
    * injectTableFunction extensions path binds at session construction). */
  def registerTableFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                            builder: Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.sessionState.tableFunctionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo("graft", name),
      builder)
  }
}
