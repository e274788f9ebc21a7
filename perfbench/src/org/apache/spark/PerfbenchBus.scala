package org.apache.spark

/** The listener bus's drain is package-private to Spark; the traced
  * benchmark needs it so a span's costs are complete before they are
  * read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
