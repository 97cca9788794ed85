package org.apache.spark

/** Engine-internal shim (used by `graft.Measure` and `SortSamplingSpec`):
  * `LiveListenerBus.waitUntilEmpty` is `private[spark]`, but counters
  * taken from listener events are only deterministic once the bus has
  * delivered every event posted so far; a sleep would be flaky. */
object GraftBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
