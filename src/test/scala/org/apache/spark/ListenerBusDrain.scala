package org.apache.spark

/** Waits until every event posted so far has reached every listener, so
  * a spec that counts jobs with a listener sees all of them.
  * (`listenerBus` is package-private to Spark.) */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
