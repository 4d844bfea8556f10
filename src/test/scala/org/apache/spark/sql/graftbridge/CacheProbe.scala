package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Reach into the session's `CacheManager` (`numCachedEntries` is
  * `private[spark]`): how many plans it holds, and whether it holds one
  * with the same result as a given DataFrame. */
object CacheProbe {
  private def manager(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager

  def entries(spark: SparkSession): Int = manager(spark).numCachedEntries

  def isCached(df: DataFrame): Boolean = manager(df.sparkSession)
    .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined
}
