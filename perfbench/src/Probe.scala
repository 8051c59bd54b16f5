package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the live listener bus, which is package-private to Spark:
  * counters read right after a job are only complete once every event
  * posted so far has been delivered. */
object Probe {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
