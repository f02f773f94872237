package org.apache.spark.perfbench

import org.apache.spark.SparkEnv
import org.apache.spark.sql.SparkSession

/** The two `private[spark]` reads the benchmark harness needs: draining
  * the listener bus so counters taken at a span boundary include every
  * event of the span, and counting the RDD blocks the block manager
  * still holds. */
object SparkBridge {

  def drainListenerBus(spark: SparkSession): Unit =
    try spark.sparkContext.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }

  /** RDD blocks (persisted or lineage-cut) present in the block manager. */
  def rddBlocks(): Int =
    SparkEnv.get.blockManager.getMatchingBlockIds(_.isRDD).size
}
