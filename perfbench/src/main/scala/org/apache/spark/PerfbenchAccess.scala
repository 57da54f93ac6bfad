package org.apache.spark

/** Reaches the one package-private hook the benchmark needs: blocking until
  * every queued listener event has been delivered, so a traced slice's
  * Spark counters are complete before they are read.
  */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
