package org.apache.spark.sql

/** Test access to the session's CacheManager entry count, which Spark
  * keeps `private[sql]`. */
object CacheEntries {
  def apply(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
