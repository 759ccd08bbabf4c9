package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` Expression ↔ Column converters,
  * needed to expose graft's native Catalyst expressions
  * (graft.functions.VectorExpressions) as user-facing Columns. Same
  * approach most third-party Spark extension libraries take.
  */
object GraftExpressionBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Materialize a programmatically-built logical plan as a DataFrame
    * (Dataset.ofRows is private[sql]); used by graft.plans for custom
    * whole-operator nodes.
    */
  def ofRows(spark: SparkSession, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A session with a copy of `spark`'s conf, functions and temp views
    * (SparkSession.cloneSession is private[sql]); settings made on it
    * leave `spark` untouched.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** `df`'s (possibly streaming) plan as a frame of `spark`: a stream
    * starts in the session of the frame it is started from.
    */
  def rebind(df: DataFrame, spark: SparkSession): DataFrame =
    if (df.sparkSession eq spark) df else ofRows(spark, df.queryExecution.logical)
}
