package org.apache.spark.sql

import org.apache.spark.scheduler.StageInfo

/** Two Spark-internal facts the job-shape specs assert on, readable only
  * from inside Spark's packages. */
object GraftTestAccess {

  /** Whether `stage` is a shuffle map stage. */
  def isShuffleStage(stage: StageInfo): Boolean = stage.shuffleDepId.isDefined

  /** The number of plans in the session's cache manager. */
  def cachedPlans(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
}
