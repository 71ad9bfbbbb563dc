package org.apache.spark

/** Bridge to the `private[spark]` listener-bus drain, so a profiler reads
  * its listener's records only after every event posted so far has been
  * delivered. Kept to this one call. */
object GraftListenerBridge {

  /** Block until the listener bus has delivered every queued event
    * (Spark's own bound: 10 s, then `TimeoutException`). */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
