package org.apache.spark

/** Listener delivery is asynchronous; the traced run drains the bus after
  * each layer call so the counters it reads belong to that call. The bus is
  * package-private, hence this one-line accessor in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
