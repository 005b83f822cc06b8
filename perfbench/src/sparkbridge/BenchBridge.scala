package org.apache.spark

/** Reaches the one scheduler call the benchmark needs that Spark keeps
  * package-private: waiting until every listener has seen every event
  * posted so far, so counters read after a timed window are complete. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
