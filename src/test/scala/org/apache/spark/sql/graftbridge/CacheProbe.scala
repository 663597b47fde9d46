package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** Test-side view of the session's cache manager, whose entry count is
  * `private[sql]`: lets a test assert that an operator released every
  * frame it persisted, even when none of them was ever materialized.
  */
object CacheProbe {
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
