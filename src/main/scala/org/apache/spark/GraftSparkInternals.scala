package org.apache.spark

/** Bench forensics flushes the async listener bus before reading per-rep
  * task metrics; `SparkContext.listenerBus` and
  * `LiveListenerBus.waitUntilEmpty` are `private[spark]`, so this
  * accessor lives in the `org.apache.spark` package, next to the one for
  * the loader's staged writer: a file a task writes without Spark's file
  * writers is counted in the task's output metrics through
  * `OutputMetrics`' `private[spark]` setters, as Spark's writers count
  * theirs. No other internals are touched.
  */
object GraftSparkInternals {
  /** Add one written file to the running task's output metrics. */
  def recordTaskOutput(bytes: Long, records: Long): Unit =
    Option(TaskContext.get()).foreach { ctx =>
      val m = ctx.taskMetrics().outputMetrics
      m.setBytesWritten(m.bytesWritten + bytes)
      m.setRecordsWritten(m.recordsWritten + records)
    }

  /** Block until all queued listener events are delivered (bounded). */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
