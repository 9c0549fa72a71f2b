package org.apache.spark

/** Flushes the asynchronous listener bus so every job, stage, task, query
  * and streaming-progress event of a traced run has been delivered before
  * the spans are attributed. `listenerBus` is `private[spark]`, hence the
  * package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
