package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one `private[sql]` doorway the custom-LogicalPlan tier needs:
  * wrapping a plan this library constructed back into a DataFrame.
  * Lives in the Spark SQL package by the standard extension-library
  * convention (the registration side — strategies, functions — goes
  * through the public `SparkSessionExtensions` API; only plan
  * CONSTRUCTION has no public entry point). Nothing else in this
  * repo reaches into Spark internals this way. */
object GraftPlanBridge {

  /** Column ↔ Expression, for the SQL scalar doors: a door receives
    * raw catalyst children and must expand into EXACTLY the Column
    * chain the Scala surface builds. Wrapping the children as Columns
    * and unwrapping the result keeps ONE implementation behind both
    * doors even when the chain carries higher-order lambdas
    * (zip_with / filter), which have no practical hand-built raw-tree
    * form — where the earlier doors (url_normalize, surt_key)
    * re-spelled their chains node by node, lambda-free. */
  def columnOf(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)
  def exprOf(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    // the EAGER converter — ExpressionUtils.expression returns a lazy
    // ColumnNodeExpression placeholder that never resolves outside a
    // session plan (surfaces as type VOID in an injected function)
    classic.ColumnNodeToExpressionConverter(c.node)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Re-bind a MATERIALIZED DataFrame (a pin — its
    * `toRdd` is pinned blocks, not a re-derivation) to another session
    * sharing the same SparkContext, keeping rows in InternalRow form.
    * The public alternative (`target.createDataFrame(df.rdd, schema)`)
    * deserializes every row to a GenericRow and re-encodes it — a
    * per-row round trip that costs real time on every downstream scan
    * of the frame. Used by the iterative operators that run their
    * fixpoint loop on a conf-scoped child session. */
  def rebind(df: DataFrame, target: SparkSession): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val plan = org.apache.spark.sql.execution.LogicalRDD(
      ds.queryExecution.analyzed.output, ds.queryExecution.toRdd,
      org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning(0),
      Nil, isStreaming = false, None)(
      target.asInstanceOf[classic.SparkSession], None, None)
    classic.Dataset.ofRows(target.asInstanceOf[classic.SparkSession], plan)
  }
}
