package org.apache.spark

/** The one scheduler hook the benchmark needs that Spark keeps package
  * private: waiting until every posted listener event has been delivered,
  * so counters read after an operation include all of its tasks.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
