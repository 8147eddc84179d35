package org.apache.spark.sql.classic

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal private-API bridge: construct a DataFrame from a custom
  * LogicalPlan (`Dataset.ofRows` is private[sql]). The standard pattern for
  * Spark-extension libraries; nothing else of the internal surface is
  * exposed. */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark, plan)

  /** Session-aware Column -> catalyst conversion (fully translates the
    * ColumnNode tree, incl. sort direction/null ordering — the static
    * ExpressionUtils wrapper would leave lazy api-internal nodes behind). */
  def expr(spark: SparkSession, c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    spark.expression(c)

  /** The session's name resolver (honors spark.sql.caseSensitive). */
  def resolver(spark: SparkSession): (String, String) => Boolean =
    spark.sessionState.analyzer.resolver

  /** Expression -> Column (the reverse of `expr`), for using native
    * codegen Expressions from the DataFrame API without a function-registry
    * round-trip. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    ExpressionUtils.column(e)

  /** Static Column -> Expression for plain refs/literals (no session
    * context; fine for attribute references — use `expr` when sort
    * direction/null ordering must translate). */
  def staticExpr(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    ExpressionUtils.expression(c)

  /** Whether the session's planner runs strategy `s`. */
  def hasStrategy(spark: SparkSession, s: org.apache.spark.sql.execution.SparkStrategy): Boolean =
    spark.sessionState.planner.strategies.contains(s)
}
