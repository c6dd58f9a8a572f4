package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.internal.SQLConf
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
  /** Block until every event posted so far has reached the listeners
    * (the bus is `private[spark]`), so a listener's totals are final. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
