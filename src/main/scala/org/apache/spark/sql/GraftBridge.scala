package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into the `private[sql]` plan-construction API: build a
  * DataFrame from a custom LogicalPlan (used by graft.plans.NativeAsofJoin).
  * Lives in this package solely for access; no Spark internals are modified. */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Force-create the driver-side StateStoreCoordinator RPC endpoint.
    * `transformWithState` in BATCH mode loads a state store, and the store
    * lookup asks the coordinator for provider locations — but the
    * coordinator is only instantiated lazily when the first STREAMING query
    * starts (`StreamingQueryManager.stateStoreCoordinator`), so a batch
    * TWS query on a fresh session dies with RpcEndpointNotFoundException.
    * Touching the lazy val here (legal from this package: it is
    * `private[sql]`) is the minimal fix — no dummy streaming query. */
  def ensureStateStoreCoordinator(spark: SparkSession): Unit =
    spark.asInstanceOf[classic.SparkSession].streams.stateStoreCoordinator

  /** Drain the async listener bus (private[spark]) so a per-key metrics
    * accumulator (graft.Bench's executor-CPU listener) reads a complete
    * total before the next key starts — task-end events are delivered
    * asynchronously and a read without the drain attributes a tail of one
    * key's tasks to the next. 10 s default timeout; a timeout means the bus
    * is backlogged and the caller treats the reading as best-effort. */
  def waitListenerBusEmpty(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** DataFrame over an InternalRow RDD without the external-Row re-encoding
    * `createDataFrame(RDD[Row], schema)` pays per field (used by the
    * scan-pattern operators: WindowConv reads `toRdd` and emits internal
    * rows directly). */
  def ofInternalRows(spark: SparkSession,
                     rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
                     schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** Cancel every active job that carries `tag`; the future completes with
    * their number once the scheduler has ended them all, where the public
    * `SparkContext.cancelJobsWithTag` returns before it has. */
  def cancelJobsWithTag(spark: SparkSession, tag: String, reason: String): scala.concurrent.Future[Int] =
    spark.sparkContext.cancelJobsWithTagWithFuture(tag, reason)
      .map(_.size)(scala.concurrent.ExecutionContext.parasitic)
}
