package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the SparkContext's listener bus, which is package-private
  * to Spark: job-count assertions read the status tracker, which only sees
  * a job once the bus has delivered its events.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
