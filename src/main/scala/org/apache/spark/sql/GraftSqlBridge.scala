package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}

/** Bridge to `private[sql]` surface that custom logical plans need: a
  * Dataset factory over an arbitrary `LogicalPlan` and Column →
  * catalyst-Expression conversion. The same pattern open-source Spark
  * extensions use for their custom operators (e.g. Qbeast's
  * `DatasetFactory` — see SNIPPETS.md [3]); Spark 4 keeps these
  * `private[sql]`, so the shim lives in this package and the rest of
  * graft stays in its own. It also re-wraps a checkpointed frame with
  * a different size estimate (the `LogicalRDD` copy needs the classic
  * session).
  */
object GraftSqlBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)

  def addStrategy(spark: SparkSession, strategy: execution.SparkStrategy): Unit = {
    val s = spark.asInstanceOf[classic.SparkSession]
    if (!s.experimental.extraStrategies.contains(strategy))
      s.experimental.extraStrategies = s.experimental.extraStrategies :+ strategy
  }

  /** `cp` — a frame `localCheckpoint` returned — over the same
    * `LogicalRDD` with its size estimate replaced by `stats`; output
    * attributes, partitioning, ordering and constraints unchanged. */
  def withStats(cp: DataFrame, stats: Statistics): DataFrame =
    cp.queryExecution.logical match {
      case r: execution.LogicalRDD =>
        ofRows(cp.sparkSession, r.copy()(
          cp.sparkSession.asInstanceOf[classic.SparkSession], Some(stats),
          Some(r.constraints)))
      case p => throw new IllegalArgumentException(
        s"withStats needs a checkpointed frame, got ${p.nodeName}")
    }
}
