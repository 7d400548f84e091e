package org.apache.spark

/** The listener bus is asynchronous and its flush is package-private:
  * counters read at a pass boundary must first see every event of it. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
