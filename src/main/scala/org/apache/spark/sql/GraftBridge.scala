package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the `private[sql]` Column ↔ catalyst-Expression converters —
  * the supported way for libraries to expose native Expressions as Columns
  * on Spark 4's split Column API.
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eagerly convert a Column's node tree to a catalyst Expression —
    * required when handing a composed Column to a FunctionRegistry builder,
    * where the lazy ColumnNodeExpression wrapper would never get resolved.
    */
  def resolvedExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Build a DataFrame from a logical plan (Dataset.ofRows is private[sql]). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A DataFrame over Spark's own rows (`internalCreateDataFrame` is
    * private[sql]): no encoder runs, so `rdd`'s rows must match `schema`.
    */
  def internalFrame(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** The schema a file-source read declares for a given one
    * (`StructType.asNullable` is private[spark]).
    */
  def asNullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable

  /** Block until every listener has seen the events posted so far
    * (`SparkContext.listenerBus` is private[spark]).
    */
  def awaitListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
