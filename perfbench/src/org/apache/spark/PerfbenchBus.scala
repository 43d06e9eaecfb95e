package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until every
  * event posted so far has reached every listener, so counters read after
  * a measured call are complete. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
