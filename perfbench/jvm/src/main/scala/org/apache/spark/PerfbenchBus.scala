package org.apache.spark

/** `SparkContext.listenerBus` is `private[spark]`; the benchmark waits on it
  * before it reads its listeners' counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(30000L)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
