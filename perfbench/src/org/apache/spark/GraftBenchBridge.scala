package org.apache.spark

/** The one package-private hook the benchmark needs: block until every
  * posted listener event has been delivered, so per-query counters are
  * complete before the next query starts. Called outside the timed region.
  */
object GraftBenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
