package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils

/** Thin private[sql] bridge: lets graft wrap its native Catalyst
  * expressions (graft.plans) into Columns without depending on a
  * session-level function registry, and registers the SQL names on a
  * live session (the SparkSessionExtensions path only applies at session
  * construction). Lives under org.apache.spark.sql to reach the
  * package-private classic converters. */
object Bridge {

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Analyzed logical plan of a DataFrame (for building custom logical
    * nodes over resolved children — graft.plans.AsOf). */
  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.analyzed

  /** Wrap a (resolved) logical plan back into a DataFrame. */
  def dataFrame(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `df`, a frame over one LogicalRDD leaf (a lineage cut), with the
    * leaf's size estimate set from `rows`, a count of that leaf: a cut
    * otherwise carries the optimizer's estimate of the plan it cut,
    * which for a join is the product of its inputs' sizes (gigabytes
    * for a kilobyte edge set), and every join above it plans for that
    * size. Any other frame comes back unchanged. */
  def withRowCount(df: org.apache.spark.sql.DataFrame, rows: Long)
      : org.apache.spark.sql.DataFrame = logicalPlan(df) match {
    case r: org.apache.spark.sql.execution.LogicalRDD =>
      import org.apache.spark.sql.catalyst.plans.logical.Statistics
      import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
      val stats = Statistics(EstimationUtils.getSizePerRow(r.output) * rows, Some(BigInt(rows)))
      dataFrame(df.sparkSession, r.copy()(
        df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
        Some(stats), Some(r.constraints)))
    case _ => df
  }

  /** Block until the listener bus has delivered every queued event —
    * lets the registry runner (graft.tools.Profile.Runner) read its
    * listener counts race-free right after a run returns (events are
    * delivered async; `listenerBus` is private[spark], hence the
    * bridge). */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Spark's own file-listing rule for names a file source skips
    * (`_`/`.` files and directories, `._COPYING_`), keeping the parquet
    * summaries `_metadata` and `_common_metadata` — lets
    * graft.etl.Sources pick a parquet footer from the same files the
    * scan's file index lists (`HadoopFSUtils` is private[spark]). */
  def skippedByFileIndex(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** Register graft's SQL functions on an already-built session (e.g.
    * `SELECT graft_polyhash(text) FROM docs`) — the same function list
    * the extensions path injects, so the registries cannot drift. */
  def registerGraftFunctions(spark: SparkSession): Unit =
    graft.plans.GraftExtensions.functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
