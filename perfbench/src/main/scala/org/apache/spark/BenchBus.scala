package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
