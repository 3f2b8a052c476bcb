package org.apache.spark.sql.graftshim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The two hooks of the Dataset API that [[org.apache.spark.sql.GraftSqlBridge]]
  * does not give: the analyzed plan behind a frame, and the Dataset
  * API's own Column → Expression wrap. Building a frame over a plan
  * and wrapping an Expression as a Column go through the bridge.
  */
object DatasetShim {
  def analyzedPlan(df: DataFrame): LogicalPlan =
    df.queryExecution.analyzed

  /** The Catalyst expression behind a Column, as the Dataset API
    * entry points take it: a DSL-built Column arrives as an opaque
    * `ColumnNodeExpression` that those entry points unwrap — right
    * for an argument of a library expression handed back through
    * `GraftSqlBridge.column`, unlike the bridge's full conversion,
    * which an injected SQL function builder needs. */
  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
}
