package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ↔ Expression bridge for [[graft.GraftExtensions]]' injected
  * SQL functions (the `ExpressionUtils` conversions are private[sql],
  * hence this file's package — the standard Spark-extension shim).
  *
  * Why it exists: several graft scalar surfaces (the KMV estimator
  * family) are pure COMPOSITIONS of native, codegen'd Spark
  * expressions, authored once as public Column helpers. A SQL
  * function builder receives parsed child `Expression`s and must
  * return an `Expression`; this bridge lets the builder wrap the
  * children as Columns, reuse the SAME helper the typed API exposes,
  * and hand the composed tree back — one definition, two surfaces,
  * no UDF anywhere.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Full recursive ColumnNode → catalyst Expression conversion.
    *
    * NOT `ExpressionUtils.expression`: that wraps a DSL-built Column
    * as an opaque `ColumnNodeExpression` placeholder, which only the
    * Dataset API entry points unwrap — returned from an injected
    * FunctionRegistry builder it survives analysis unresolved and
    * dies at codegen. The converter object maps every node to the
    * catalyst form (built-in calls become plain `UnresolvedFunction`s
    * the analyzer then resolves on its next fixpoint pass).
    */
  def expression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** DataFrame over a logical plan (classic `Dataset.ofRows` is
    * private[sql]) — lets an optimizer rule build a REPLACEMENT
    * subtree through the full Dataset/analysis pipeline (so udaf
    * encoders resolve, functions bind) and splice the result back into
    * the plan under rewrite, and lets graft hand out frames over its
    * own relations and operators (the layered lake scan, the as-of
    * join). */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
