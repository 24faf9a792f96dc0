package org.apache.spark

/** The listener bus delivers events asynchronously; the tracer reads its
  * records only after every event posted so far has been handled.
  * `listenerBus` is package-private to Spark, hence this bridge.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
