package org.apache.spark

/** The listener bus delivers events asynchronously; counters read at a
  * span boundary are only complete once the bus has drained. The drain
  * call is `private[spark]`, hence this one shim in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
