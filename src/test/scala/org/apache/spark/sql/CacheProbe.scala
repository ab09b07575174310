package org.apache.spark.sql

/** Test access to the `private[sql]` count of a session's cache entries
  * (one per `Dataset.persist` / cached table); lives in this package
  * purely for access.
  */
object CacheProbe {
  def cachedEntries(s: SparkSession): Int =
    s.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
