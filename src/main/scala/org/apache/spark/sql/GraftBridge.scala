package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction

/** Bridge into `private[sql]` Column construction (Spark 4 moved Column to
  * ColumnNode; `classic.ExpressionUtils.column` is the supported classic
  * path for wrapping a raw Catalyst Expression).
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Inverse direction: Column → Catalyst Expression (Spark 4 removed
    * the public `Column.expr`). */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Column → plain Catalyst tree, converted now rather than wrapped for
    * a Dataset to unwrap: the form an expression built for the SQL
    * function registry must take, since SQL analysis resolves it as is. */
  def catalyst(c: Column): Expression = classic.ColumnNodeToExpressionConverter(c.node)

  def aggColumn(f: AggregateFunction): Column =
    classic.ExpressionUtils.column(f.toAggregateExpression(isDistinct = false))

  /** Executed physical plan of a streaming query's most recent
    * micro-batch (`StreamExecution.lastExecution` is `private[sql]`) —
    * lets tests pin per-batch plan shapes (e.g. that a bucketed static
    * join side never grows an Exchange). */
  def lastBatchPlan(q: org.apache.spark.sql.streaming.StreamingQuery)
      : org.apache.spark.sql.execution.SparkPlan =
    q.asInstanceOf[execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan
}
