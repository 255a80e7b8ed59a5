package org.apache.spark

/** The one scheduler hook the benchmark needs that Spark keeps
  * package-private: block until every posted listener event has been
  * delivered, so an operation's task metrics are complete before the
  * benchmark reads them. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
