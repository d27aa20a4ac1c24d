package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until the
  * listener bus has delivered every queued event, so traced spans see all
  * jobs and tasks that ran inside them. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
