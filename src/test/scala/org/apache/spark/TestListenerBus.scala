package org.apache.spark

/** Test access to the one package-private call job counting needs: block
  * until every event posted so far has been delivered to the listeners,
  * so a count is read after the last event of the work it describes. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
