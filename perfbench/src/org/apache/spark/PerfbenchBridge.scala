package org.apache.spark

/** The one listener-bus call the benchmark's tracer needs that Spark
  * keeps package-private: block until every queued event has been
  * delivered, so the counts of a finished unit are complete before
  * they are read. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
