package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Thin bridge into the `private[sql]` Dataset constructor, used to hand a
  * custom LogicalPlan (graft.plans.CoPartitionedUnion) back to the public
  * DataFrame API. Lives under org.apache.spark.sql solely for access scope.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  /** Wrap a raw Catalyst expression as a public Column (for native
    * expressions that carry non-literal state, e.g. a centroid matrix,
    * and so cannot go through SQL function registration).
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** A native expression built over one column's expression, as a Column. */
  def native(c: org.apache.spark.sql.Column)(
      build: org.apache.spark.sql.catalyst.expressions.Expression => org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    column(build(expression(c)))
}
