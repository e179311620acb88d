package org.apache.spark.sql

/** Test access to the number of `CacheManager` entries (the frames
  * `Dataset.persist` registered), whose count is not public. */
object CacheEntries {
  def apply(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
