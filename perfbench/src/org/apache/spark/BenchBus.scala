package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private. */
object BenchBus {
  /** Block until every listener event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
