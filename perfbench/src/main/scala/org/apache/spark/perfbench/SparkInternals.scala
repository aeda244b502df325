package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The few Spark-private names the benchmark's tracing needs. */
object SparkInternals {
  val JobGroupId: String = SparkContext.SPARK_JOB_GROUP_ID
  val JobDescription: String = SparkContext.SPARK_JOB_DESCRIPTION

  /** Waits until every event posted so far reached the listeners. */
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
