package org.apache.spark.sql

/** CacheManager entries of a session: the Datasets cached in it. The count
  * is `private[sql]`. */
object PerfbenchCache {
  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
