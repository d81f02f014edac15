package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into `private[sql]` surface: wrap a Catalyst
  * [[Expression]] into a user-facing [[Column]] (Spark 4 moved the public
  * `new Column(expr)` constructor behind `classic.ExpressionUtils`).
  * Lives in `org.apache.spark.sql` only to satisfy the access scope.
  */
object GraftSql {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A new session on `spark`'s context with a copy of its conf, temp
    * views and functions; conf set on one is invisible to the other. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** `df`'s logical plan as a DataFrame of `spark` (e.g. a checkpointed
    * frame carried into or out of a [[cloneSession]] clone). */
  def ofRows(spark: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[Row]].logicalPlan)

  /** Blocks until every event already posted to `spark`'s listener bus
    * has reached every listener (`LiveListenerBus.waitUntilEmpty`, which
    * gives up with a `TimeoutException` after 10 s). */
  def waitForListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  def sqlConf(spark: SparkSession): org.apache.spark.sql.internal.SQLConf =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf

  /** Register a Catalyst expression builder as a SQL-callable function. */
  def registerFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")
}
