package org.apache.spark

/** The one engine-internal call the benchmark's tracer needs: block until
  * every listener event posted so far has been delivered, so a span's
  * stage, query and streaming events are attributed before the next span
  * starts. Lives in this package because the listener bus is
  * `private[spark]`. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
