package org.apache.spark

/** The one Spark-internal the tracer needs: wait until every posted
  * listener event (job ends, stage metrics) has been delivered. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
