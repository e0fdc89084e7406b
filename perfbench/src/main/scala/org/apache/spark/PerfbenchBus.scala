package org.apache.spark

/** `SparkContext.listenerBus` is `private[spark]`; the traced run drains
  * it after each op so the op's listener events are counted before its
  * record is read. Mirrors the engine's test-only `ListenerBusDrain`,
  * which the benchmark's main classpath does not include.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
