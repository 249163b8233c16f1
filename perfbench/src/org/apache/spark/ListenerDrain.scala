package org.apache.spark

/** Waits until every event posted so far has reached the listeners.
  * `SparkContext.listenerBus` is package-private; the tracer needs it
  * drained before it reads its listener's counts. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
