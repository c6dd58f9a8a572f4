package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{DataSourceStrategy, DataSourceUtils, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.classic.{ExpressionUtils, Dataset => CDataset, SparkSession => CSparkSession}

/** Column ↔ Expression / LogicalPlan ↔ DataFrame bridge for custom
  * Catalyst work.
  *
  * Spark 4 moved the conversions behind `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`, `Dataset.ofRows`),
  * so extension libraries expose them via a shim in the sql namespace —
  * the standard pattern used by open-source Spark extensions. Nothing
  * else in this repo lives outside the `graft` namespace.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def ofRows(s: SparkSession, plan: LogicalPlan): DataFrame =
    CDataset.ofRows(s.asInstanceOf[CSparkSession], plan)
  /** The session's typed SQL settings: values parsed the way Spark
    * parses them (`256m` byte strings included). */
  def conf(s: SparkSession): SQLConf = s.asInstanceOf[CSparkSession].sessionState.conf
  /** The data-source filters a file scan of `relation` pushes to its
    * reader for the filter conjuncts `conds`, derived as the file scan
    * strategy derives them (its helpers are `private[sql]`). */
  def sourceFilters(conds: Seq[Expression], relation: LogicalRelation): Seq[Filter] =
    DataSourceStrategy.normalizeExprs(
      conds.filter(c => c.deterministic && !SubqueryExpression.hasSubquery(c)), relation.output)
      .flatMap(DataSourceStrategy.translateFilter(_,
        DataSourceUtils.supportNestedPredicatePushdown(relation.relation)))
  /** Block until every event posted so far has reached the listeners
    * (the bus is `private[spark]`), so a listener's totals are final. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
