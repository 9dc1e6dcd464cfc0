package org.apache.spark

/** The listener bus's drain is package-private to Spark; the tracer
  * needs it so that every job event of an operation has arrived before
  * the next operation starts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
