package org.apache.spark.sql.graftshim

import org.apache.spark.sql.SparkSession

/** Test access to the session's CacheManager, which is `private[sql]`. */
object CacheProbe {
  /** Whether no frame is registered as cached (materialized or not). */
  def isEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty
}
