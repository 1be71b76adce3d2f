package org.apache.spark

/** The one package-private call the benchmark needs: block until Spark's
  * listener bus has delivered every queued event, so the trace is complete
  * before it is written. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
