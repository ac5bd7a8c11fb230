package org.apache.spark

/** `SparkContext.listenerBus` is `private[spark]`; the benchmark needs it to
  * wait until every event of a finished call has reached its listener, so
  * that the counts it reads belong to that call.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
