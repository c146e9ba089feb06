package org.apache.spark

/** The one scheduler internal the tracer needs: block until every event
  * posted so far has reached the listeners, so span aggregation never
  * races the asynchronous listener bus.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
