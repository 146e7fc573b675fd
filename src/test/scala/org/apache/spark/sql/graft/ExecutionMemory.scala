package org.apache.spark.sql.graft

import org.apache.spark.SparkEnv

/** Execution memory in use (the shuffle, join, sort and aggregation
  * buffers of running tasks) on this JVM's memory manager, which Spark
  * keeps package-private. 0 when no SparkEnv is up. */
object ExecutionMemory {
  def used: Long = Option(SparkEnv.get).map(_.memoryManager.executionMemoryUsed).getOrElse(0L)
}
