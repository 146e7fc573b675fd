package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** The listener bus drain, which Spark keeps package-private. Listener
  * events arrive asynchronously: a count read right after an action must
  * first wait for the bus to deliver that action's events. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
