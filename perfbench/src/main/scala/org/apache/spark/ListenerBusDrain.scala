package org.apache.spark

/** The listener bus delivers events asynchronously; a tracer must wait
  * for it before reading counters it charged. The bus is private to
  * Spark, hence this package.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
