package org.apache.spark

/** Access to the listener bus, which is package-private to Spark. */
object PerfbenchBus {
  /** Blocks until every event posted so far has reached the listeners, so
    * a listener has seen all task ends of an action that has returned. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
