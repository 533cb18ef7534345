package org.apache.spark.sql

import org.apache.spark.SparkContext

/** The two Spark-internal calls the benchmark needs. */
object PerfbenchBridge {
  /** Wait until every posted listener event has been delivered, so a
    * pass's task and job records are complete before they are read. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Number of DataFrames registered in the session's cache manager. */
  def cachedEntries(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
