package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal visibility bridge: Spark 4 made the Column ↔ Expression
  * converters `private[sql]` (`classic.ExpressionUtils`), so third-party
  * expression libraries need one object inside the `org.apache.spark.sql`
  * package to cross the boundary. This is the only graft code outside the
  * `graft` namespace.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Block until every event posted to the listener bus so far has
    * reached every listener (`waitUntilEmpty` is `private[spark]`), so
    * a harness or spec that counts events reads complete counters. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Free the block-manager storage behind a `localCheckpoint()`'d
    * DataFrame. `Dataset.unpersist` only talks to the cache manager, so
    * the MEMORY_AND_DISK blocks a local checkpoint pins are otherwise
    * unreachable from public API — this reaches the `LogicalRDD` the
    * checkpoint wrapped and frees its RDD's blocks. No-op for any other
    * plan shape. It goes through `SparkContext.unpersistRDD`, not
    * `RDD.unpersist`: the latter warns on every call that a locally
    * checkpointed RDD cannot be recomputed, which is the point here. */
  def unpersistLocalCheckpoint(df: DataFrame): Unit =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed match {
      case l: execution.LogicalRDD =>
        l.rdd.sparkContext.unpersistRDD(l.rdd.id, blocking = false)
      case _ => ()
    }
}
