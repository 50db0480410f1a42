package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * the trace is read only after all job, stage, task, SQL and streaming
  * events of the pass have reached the listeners. The bus is
  * package-private to Spark, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
