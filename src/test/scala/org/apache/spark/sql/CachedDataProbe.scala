package org.apache.spark.sql

/** Test-side read of the session's cached-data registry (the
  * CacheManager entry count is Spark-internal API). */
object CachedDataProbe {
  def entries(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
