package org.apache.spark

/** Waits until every event posted so far has reached every listener, so
  * a traced operation's counts are complete before its listeners are
  * removed. (`listenerBus` is package-private to Spark.) */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
