package org.apache.spark

/** Lets the benchmark wait until the listener bus has delivered every
  * queued event, so a pass's counters are complete before they are read.
  * `SparkContext.listenerBus` is `private[spark]`, hence the package.
  */
object LayerbenchBus {
  def drain(sc: SparkContext, timeoutMillis: Long = 30000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMillis)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
