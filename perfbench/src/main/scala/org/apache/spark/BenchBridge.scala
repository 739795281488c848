package org.apache.spark

/** The one package-private hook the benchmark needs: wait until the
  * listener bus has delivered every queued event, so per-layer counters
  * are complete when they are read.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
