package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression and LogicalPlan <-> DataFrame bridges. Spark 4 made
  * `ExpressionUtils` and `Dataset.ofRows` `private[sql]`, so libraries adding
  * native expressions / custom plan nodes host this one-file shim inside the
  * `org.apache.spark.sql` package tree — the established pattern for Spark
  * extension libraries building typed Column APIs on custom Catalyst
  * components. */
object shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** Eager conversion: a real catalyst tree (e.g. UnresolvedAttribute) the
    * analyzer can resolve inside custom plan nodes — the lazy
    * `ColumnNodeExpression` from [[expression]] is Unevaluable and skips
    * resolution when embedded in a node the Dataset API never rewrites. */
  def expressionEager(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter.apply(c.node)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed
  /** `rddFrame` (a `createDataFrame` over an RDD) with `like`'s size
    * estimate. Left at `spark.sql.defaultSizeInBytes`, a join would pick
    * its OTHER side to broadcast, however many rows that side holds. */
  def withSizeOf(rddFrame: DataFrame, like: DataFrame): DataFrame = {
    val rdd = rddFrame.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
    ofRows(rddFrame.sparkSession, rdd.copy()(
      rddFrame.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      Some(like.queryExecution.analyzed.stats), None))
  }
  /** Drain the listener bus so SparkListener-accumulated task metrics
    * (e.g. Bench's per-query shuffle bytes) are complete before reading —
    * `listenerBus` is `private[spark]`, hence exposed here. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
  /** True iff no DataFrame cache entries exist — the assertion surface for
    * the `graft.ops.Caching.withPersisted` contract (`cacheManager` is
    * `private[sql]`, hence exposed here). */
  def cacheIsEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty
}
