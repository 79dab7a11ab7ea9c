package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Spark keeps its listener bus private to the org.apache.spark package; this
  * shim exposes the one call specs need. */
object ListenerBusBridge {
  /** Bounded poll: returns once every event posted so far has reached every
    * listener, and throws a TimeoutException after `timeoutMs`. */
  def drain(sc: SparkContext, timeoutMs: Long): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}
