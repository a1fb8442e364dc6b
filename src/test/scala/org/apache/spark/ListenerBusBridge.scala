package org.apache.spark

/** Test access to Spark's private listener bus. */
object ListenerBusBridge {

  /** Block until every event posted so far has reached the listeners. */
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
