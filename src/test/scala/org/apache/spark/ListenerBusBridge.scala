package org.apache.spark

/**
 * Test-only bridge: `SparkContext.listenerBus` is `private[spark]`, and
 * the status store behind `statusTracker` is fed through it
 * asynchronously — a spec that reads job status right after an action
 * drains the bus first, or it sees the previous moment.
 */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
