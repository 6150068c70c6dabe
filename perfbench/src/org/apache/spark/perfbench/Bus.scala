package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus's drain barrier is internal to Spark; this is the one
  * place the benchmark reaches it.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
