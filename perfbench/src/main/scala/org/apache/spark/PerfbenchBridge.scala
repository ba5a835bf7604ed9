package org.apache.spark

import org.apache.spark.sql.SparkSession

/** The Spark-internal calls the benchmark needs: block until the
  * listener buses have delivered every event posted so far, so a traced
  * run's job, task and query records are complete before they are summed.
  */
object PerfbenchBridge {
  def drainListeners(spark: SparkSession): Unit = {
    spark.sparkContext.listenerBus.waitUntilEmpty()
  }
}
