package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

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

  /** A DataFrame of `schema` over the rows of a one-partition `rdd`,
    * with that partition declared to the planner (`LogicalRDD` with
    * `SinglePartition`; `createDataFrame` declares nothing), so operators
    * that need rows clustered by a key get no exchange above it. */
  def singlePartitionFrame(spark: SparkSession, schema: StructType, rdd: RDD[InternalRow]): DataFrame = {
    require(rdd.getNumPartitions == 1, s"singlePartitionFrame over ${rdd.getNumPartitions} partitions")
    val session = spark.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(session,
      LogicalRDD(DataTypeUtils.toAttributes(schema), rdd, SinglePartition)(session))
  }

  /** Executed physical plan of a streaming query's most recent
    * micro-batch (`StreamExecution.lastExecution` is `private[sql]`) —
    * lets tests pin per-batch plan shapes (e.g. that a bucketed static
    * join side never grows an Exchange). */
  def lastBatchPlan(q: org.apache.spark.sql.streaming.StreamingQuery)
      : org.apache.spark.sql.execution.SparkPlan =
    q.asInstanceOf[execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan
}
