// Lives in org.apache.spark.sql to reach the private[sql] Column↔Expression
// converters — the sanctioned extension seam for libraries adding native
// expressions (same technique as spark-connector libraries) — and the
// private[spark] listener bus.
package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Column → fully-converted CATALYST expression (UnresolvedAttribute /
    * SortOrder with catalyst children) — `expression(c)` returns a lazy
    * ColumnNode wrapper that is neither resolvable by generic rules nor
    * serializable; this converter is what the classic Dataset API itself
    * uses. */
  def catalystExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** DataFrame from a custom logical plan (Dataset.ofRows is private[sql]). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Whether the session's cache holds data for `plan` (the cache lookup
    * takes the classic session). */
  def isCached(spark: SparkSession, plan: LogicalPlan): Boolean = {
    val s = spark.asInstanceOf[classic.SparkSession]
    s.sharedState.cacheManager.lookupCachedData(s, plan).isDefined
  }

  /** Blocks until the listener bus has delivered every event posted so far
    * (`SparkContext.listenerBus` is private[spark]). */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
