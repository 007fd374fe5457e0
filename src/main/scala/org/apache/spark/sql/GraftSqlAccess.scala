package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal access shim: `Dataset.ofRows` is `private[sql]`, and building a
  * DataFrame from a custom [[LogicalPlan]] node (graft.plans.AsOfJoinPlan)
  * needs it. Placing one forwarding object inside the `org.apache.spark
  * .sql` package is the standard pattern public Spark extension libraries
  * use for exactly this; nothing else from the private surface is touched.
  */
object GraftSqlAccess {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Spark 4's Column wraps a ColumnNode, not an Expression; the converter
    * lives behind the same `private[sql]` wall.
    */
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Inverse direction: wrap a catalyst Expression as a Column (the Spark-3
    * `new Column(expr)` idiom, gone behind the ColumnNode wall in Spark 4).
    * Lets DataFrame helpers use graft's native expressions without routing
    * through the session function registry.
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Apply the same -0.0/NaN canonicalization Spark's optimizer applies to
    * built-in join/grouping keys (`NormalizeFloatingNumbers`). Custom
    * logical nodes (graft.plans.AsOfJoinPlan) are invisible to that rule,
    * so their float-bearing keys must be normalized at build time or equal
    * keys (-0.0 vs 0.0) hash to different partitions. The rule object is
    * `private[sql]`, hence forwarded here.
    */
  def normalizeFloats(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    // normalize() is a no-op (returns its input) when the type carries no
    // float/double anywhere, so no pre-check is needed
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** Whether `t` is the table a DELETE, UPDATE or MERGE reads its target
    * through (graft.plans.OnePartition leaves those plans to Spark); the
    * class is `private[sql]`.
    */
  def isRowLevelOperationTable(t: org.apache.spark.sql.connector.catalog.Table): Boolean =
    t.isInstanceOf[org.apache.spark.sql.connector.write.RowLevelOperationTable]
}
