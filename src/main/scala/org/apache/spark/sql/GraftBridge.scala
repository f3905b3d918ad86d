package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the `sql`-package-private Column ↔ Expression
  * converters (Spark 4 moved `Column` to a connect-agnostic node
  * model; libraries defining native Catalyst expressions go through
  * `classic.ExpressionUtils`). Standard extension-library pattern.
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame over a manually-built (resolved) logical plan — the
    * entry point for custom plan nodes (e.g. graft.plans.AsOfJoinNode).
    */
  def ofRows(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Block until every event posted so far on the session's
    * (`spark`-package-private) listener bus has reached its listeners,
    * streaming-query listeners included.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The session's Hadoop conf for tasks: broadcast once through
    * Spark's (`spark`-package-private) `SerializableConfiguration`,
    * read on the executor by calling the returned function.
    */
  def taskHadoopConf(spark: SparkSession): () => org.apache.hadoop.conf.Configuration = {
    val b = org.apache.spark.util.SerializableConfiguration.broadcast(spark.sparkContext)
    () => b.value.value
  }
}
