package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The Spark-internal reads the benchmark needs, reachable only from
  * inside the `org.apache.spark.sql` package. */
object SparkInternals {

  /** Block until every queued listener event has been delivered, so
    * counters read after an op include all of that op's events. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** RDD blocks (cached, persisted and localCheckpoint) held by any
    * block manager right now. */
  def rddBlocks(sc: SparkContext): Int =
    sc.env.blockManager.master.getStorageStatus.map(_.rddBlocks.size).sum

  /** Entries in the session's CacheManager (Dataset.cache/persist). */
  def cacheEntries(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
