package org.apache.spark

import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus

/** Test-only shim: `SparkContext.listenerBus` is `private[spark]`, but
  * specs that count listener events (IvfIndexSpec's zero-count()-jobs
  * pin) need a deterministic drain instead of a fixed sleep — a loaded
  * host can outlast any pause and let a late event falsely pass the
  * assertion. Exposes exactly `LiveListenerBus.waitUntilEmpty`, and the
  * count of streaming-query buses on the context (StreamListenerBusSpec).
  */
object ListenerBusDrain {
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** One `StreamingQueryListenerBus` per session whose streaming query
    * manager registered on `sc` and was never removed.
    */
  def streamingQueryBuses(sc: SparkContext): Int =
    sc.listenerBus.findListenersByClass[StreamingQueryListenerBus]().size
}
