package org.apache.spark

/** Waits until every event posted so far has reached the listeners
  * (`SparkContext.listenerBus` is package-private), so a spec can read a
  * listener's counts right after its jobs return. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
