package org.apache.spark

/** Blocks until Spark's asynchronous listener bus has delivered every posted
  * event. The traced run calls it at each call boundary so that every job,
  * stage, query-execution and stream-progress event is attributed to the
  * call that caused it. The bus is private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
