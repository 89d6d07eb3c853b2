package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * The tracer calls it so that every event of a finished query has been
  * delivered before the next query starts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
