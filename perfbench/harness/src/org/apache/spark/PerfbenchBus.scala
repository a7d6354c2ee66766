package org.apache.spark

/** The listener bus is private to Spark; the tracer needs to flush it so
  * that every job-start has been matched by its job-end (and every plan
  * and block event delivered) before a query's numbers are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
