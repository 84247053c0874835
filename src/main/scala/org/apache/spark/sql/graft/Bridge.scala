package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal escape hatch into the `private[sql]` Column ⇄ Expression
  * converters — the supported pattern for libraries that ship custom
  * Catalyst expressions without forking Spark — plus the internal
  * RDD[InternalRow] → DataFrame constructor behind [[planBarrier]],
  * and the `private[spark]` listener-bus drain behind
  * [[drainListenerBus]]. Nothing else from the private API surface is
  * touched. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Block until the listener bus has delivered every event posted so
    * far. Listener-based counts (job census, job-count specs) read
    * their state after this, not after a fixed sleep that undercounts
    * on a loaded machine. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** LOGICAL-plan barrier: rewrap `df`'s physical RDD as a leaf
    * DataFrame. An iterative loop that builds round k+1's frame on
    * round k's nests its logical plan one level deeper per round, and
    * Catalyst's per-action work (analysis, optimization, cache-lookup
    * canonicalization) compounds super-linearly — measured: the CC
    * loop OOMs the driver near round 18 on a 151-row chain. Behind
    * the barrier each round's plan is O(1). Unlike
    * `localCheckpoint(true)` this keeps the RDD lineage intact, so a
    * lost cache block is still recomputable (through the parent
    * rounds' caches) instead of failing the job; unlike
    * `spark.createDataFrame(df.rdd, schema)` it stays on
    * InternalRow — no Row round-trip on the hot path. */
  def planBarrier(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    spark.internalCreateDataFrame(df.queryExecution.toRdd, df.schema)
  }
}
