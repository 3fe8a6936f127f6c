package org.apache.spark

/** The listener bus is package-private; the benchmark needs to wait until its
  * listener has seen every posted event before reading the figures. */
object BenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
