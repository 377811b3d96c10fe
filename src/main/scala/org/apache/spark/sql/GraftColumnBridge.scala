package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column ⇄ Expression conversions.
  *
  * Spark 4 hid the classic `new Column(expr)` constructor behind
  * `org.apache.spark.sql.classic.ExpressionUtils`; extension libraries that
  * ship native Catalyst expressions (as graft.functions does) need exactly
  * these two conversions, so this object re-exports them from inside the
  * sql package scope. No other internal API is touched.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame over a hand-built LogicalPlan (the classic Dataset.ofRows,
    * hidden behind `private[sql]` in Spark 4) — a DSv2 relation over a
    * table no catalog names, or a spec applying optimizer rules manually. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The optimizer rules a SparkSessionExtensions instance would inject
    * (`buildOptimizerRules` is `private[sql]`) — spec introspection only. */
  def optimizerRules(e: SparkSessionExtensions, spark: SparkSession)
      : Seq[org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] =
    e.buildOptimizerRules(spark.asInstanceOf[classic.SparkSession])
}
