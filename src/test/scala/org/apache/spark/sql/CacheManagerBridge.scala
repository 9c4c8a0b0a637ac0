package org.apache.spark.sql

/** Test-only access to the cached-plan count, which Spark keeps
  * package-private. */
object CacheManagerBridge {
  def numCachedEntries(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
