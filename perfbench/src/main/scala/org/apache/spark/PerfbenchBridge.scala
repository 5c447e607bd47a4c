package org.apache.spark

/** The listener bus's drain is `private[spark]`; the traced run needs it
  * so that every job, stage and task event of a span has been delivered
  * before the span's counters are read. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
