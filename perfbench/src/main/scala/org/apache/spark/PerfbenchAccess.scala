package org.apache.spark

/** The one package-private Spark call the benchmark needs: listener events
  * are delivered asynchronously, so counters are read only after the bus has
  * delivered every event posted so far.
  */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
