package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge into `private[sql]` Spark internals: the Column↔Expression
  * converters — the standard hook point for libraries that define custom
  * Catalyst expressions on Spark 4 (where `Column` wraps a ColumnNode, not
  * an Expression) — the checkpoint leaf of a plan, and the two reads a
  * profiler needs (listener-bus drain, cache-entry count). Kept to
  * exactly these seven calls.
  */
object GraftSqlBridge {
  /** Wait until every posted listener event has been delivered, so the
    * job and task records of the work just run are complete. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Number of DataFrames registered in the session's cache manager. */
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries

  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `df`'s checkpoint leaf and a rebuild of its plan over another leaf,
    * when the analyzed plan is a `LogicalRDD`, bare or under one
    * projection — the shape `localCheckpoint` (eager or lazy) returns. */
  private def checkpointLeaf(
      df: DataFrame): Option[(LogicalRDD, LogicalRDD => LogicalPlan)] =
    df.queryExecution.analyzed match {
      case l: LogicalRDD => Some((l, identity))
      case p @ Project(_, l: LogicalRDD) => Some((l, leaf => p.copy(child = leaf)))
      case _ => None
    }

  /** True when `df` is a checkpoint, bare or under one projection. */
  def isCheckpoint(df: DataFrame): Boolean = checkpointLeaf(df).isDefined

  /** The row count recorded on `df`'s checkpoint leaf, when `df` is a
    * checkpoint bounded by [[withRowBound]]: its exact count. A lazy
    * checkpoint reports its origin plan's statistics, which carry a
    * count only where the optimizer knows one, an upper bound at worst
    * (a limit). */
  def rowBound(df: DataFrame): Option[BigInt] =
    checkpointLeaf(df).flatMap(_._1.stats.rowCount)

  /** `df` — a checkpoint leaf, bare or under one projection — with the
    * leaf's statistics set from its row count `rows`: `rowCount` and
    * `sizeInBytes` = row size × `rows`. A lazy `localCheckpoint`
    * reports the size of the plan it was made from, and a plan over a
    * bare RDD reports the unknown 8 EiB default, so a join over it
    * cannot be planned as a broadcast until AQE has run its shuffle
    * stages. Same rows, same RDD; only the estimate changes. */
  def withRowBound(df: DataFrame, rows: BigInt): DataFrame = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    // copied by hand, not by transform: the bounded leaf compares equal
    // to the original (statistics sit outside case-class equality), so
    // a transform would keep the original
    def bound(l: LogicalRDD) = l.copy()(session, Some(Statistics(
      EstimationUtils.getSizePerRow(l.output) * rows, rowCount = Some(rows))), None)
    checkpointLeaf(df) match {
      case Some((l, rebuild)) => classic.Dataset.ofRows(session, rebuild(bound(l)))
      case None => df
    }
  }
}
