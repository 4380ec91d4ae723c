package org.apache.spark.sql.execution

import org.apache.spark.sql.SparkSession

/** Test probe: the number of plans the session's cache manager holds
  * (its counter is package-private to Spark). */
object CachedPlans {
  def count(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
