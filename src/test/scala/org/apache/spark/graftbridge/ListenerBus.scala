package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private: specs
  * that record query executions read them after every event arrived. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
