package org.apache.spark

/** The listener bus's drain is `private[spark]`; the benchmark's tracer
 * needs it so that a span's task metrics are complete before they are
 * summed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
