package org.apache.spark

/** The listener bus is private to Spark; the benchmark's tracer needs to
  * wait until every event of an operation has been delivered before it
  * closes that operation's record. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
