package org.apache.spark

/** Listener events are delivered asynchronously; the span recorder
  * must see every task-end event of a span before it reads the span's
  * totals. The bus's drain method is package-private, hence this shim. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
