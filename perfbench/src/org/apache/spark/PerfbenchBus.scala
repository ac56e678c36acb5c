package org.apache.spark

/** The one package-private call the benchmark needs: block until every
  * posted listener event has been delivered, so span counters are read
  * after the last task-end of the spans they describe (no sleep-polling). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
