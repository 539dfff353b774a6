package org.apache.spark.graftperf

import org.apache.spark.SparkContext

/** Listener events arrive on Spark's asynchronous bus; the benchmark reads
  * its counters only after every event posted so far has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
