package org.apache.spark

/** Listener-bus drain for the benchmark's tracer: `listenerBus` is
  * `private[spark]`, and the tracer must see every event of a span
  * before it attributes them.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
