package org.apache.spark.graftbench

import org.apache.spark.SparkEnv
import org.apache.spark.sql.SparkSession

/** The two `private[spark]` reads the benchmark needs. */
object Bridge {
  /** Block until every listener queue has delivered its events. */
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The unified memory pool's ceiling for cached blocks, in bytes. */
  def maxStorageMemory: Long = SparkEnv.get.memoryManager.maxOnHeapStorageMemory
}
