package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into `private[sql]` helpers so graft's custom Catalyst
  * expressions can surface as `Column`s (Spark 4 removed the public
  * `new Column(expr)` constructor in favor of ColumnNode). */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Apply an extensions object's injected functions to a LIVE session's
    * registry — the same `registerFunctions` call Spark makes when it
    * instantiates `spark.sql.extensions` at session build
    * (`BaseSessionStateBuilder.functionRegistry`), exposed so specs can
    * exercise the extension end-to-end without tearing down the shared
    * test session. */
  def applyExtensionFunctions(
      ext: SparkSessionExtensions, spark: SparkSession): Unit =
    ext.registerFunctions(
      spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry)

  /** Block until the listener bus has delivered every posted event, so
    * counters a listener folds are complete for the actions already run
    * (`listenerBus` is `private[spark]`). */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Counts `n` bytes in a task's output metrics, as Spark's own writers
    * do (`setBytesWritten` is `private[spark]`). */
  def addBytesWritten(ctx: org.apache.spark.TaskContext, n: Long): Unit = {
    val m = ctx.taskMetrics().outputMetrics
    m.setBytesWritten(m.bytesWritten + n)
  }

  /** Counts `n` bytes in a task's input metrics, as Spark's own readers
    * do (`incBytesRead` is `private[spark]`). */
  def addBytesRead(ctx: org.apache.spark.TaskContext, n: Long): Unit =
    ctx.taskMetrics().inputMetrics.incBytesRead(n)

  /** DataFrame straight from an RDD of InternalRows (UnsafeRow-compatible),
    * bypassing the Scala-object encoder entirely — `internalCreateDataFrame`
    * is `private[sql]`. Caller guarantees rows match `schema`. */
  def internalCreateDataFrame(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** [[internalCreateDataFrame]] with a DECLARED hash distribution: the
    * LogicalRDD (and the RDDScanExec planned from it) reports
    * `HashPartitioning(hashKeys, numPartitions)`, so a downstream join or
    * aggregation clustered on those keys plans WITHOUT an exchange over
    * this side — the property `Dataset.checkpoint` preserves for its own
    * scans, exposed for hand-pinned loop state. The caller GUARANTEES the
    * rows are actually distributed that way (i.e. the RDD came from an
    * explicit `repartition(numPartitions, hashKeys)` of the same rows —
    * note AQE never re-coalesces a user-numbered repartition, so the
    * declared partition count is exact); declaring a distribution the
    * rows don't have silently mis-joins. */
  def internalCreateDataFramePartitioned(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType,
      hashKeys: Seq[String],
      numPartitions: Int): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val attrs =
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema)
    val keyAttrs = hashKeys.map(k => attrs(schema.fieldIndex(k)))
    val part = org.apache.spark.sql.catalyst.plans.physical.HashPartitioning(
      keyAttrs, numPartitions)
    val plan = new org.apache.spark.sql.execution.LogicalRDD(
      attrs, rdd, part, Nil, false, None)(cs, None, None)
    classic.Dataset.ofRows(cs, plan)
  }
}
