package org.apache.spark

/** The one Spark-private call the benchmark needs: block until every
  * event posted so far has reached the listeners, so a traced window is
  * complete when its figures are read (no sleeps). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
