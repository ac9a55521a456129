package org.apache.spark

/** Listener-bus access for the traced run: `SparkContext.listenerBus` is
  * `private[spark]`, and per-layer counters are only complete once every
  * posted task/stage/job event has reached the benchmark's listener. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
