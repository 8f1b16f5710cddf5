package org.apache.spark.medbench

import org.apache.spark.SparkContext

/** Lets the benchmark read listener counters only after every event of
  * the measured jobs has been delivered (the bus is asynchronous).
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
