package org.apache.spark

/** `SparkContext.listenerBus` is private[spark]; the benchmark drains it
  * before reading the counters its listener accumulates, because task and
  * job events are delivered asynchronously. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
