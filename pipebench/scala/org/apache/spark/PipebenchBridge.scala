package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until every
  * listener event posted so far has been delivered, so a call's trace is
  * complete before its span closes and the next call begins.
  */
object PipebenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
