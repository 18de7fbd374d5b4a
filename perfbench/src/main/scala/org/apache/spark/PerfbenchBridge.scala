package org.apache.spark

/** Access to the one scheduler hook the benchmark needs that Spark keeps
  * package-private: waiting until every posted listener event has been
  * delivered, so a traced pass is read only after its task events arrived. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
