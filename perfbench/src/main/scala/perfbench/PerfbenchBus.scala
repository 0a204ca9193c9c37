package org.apache.spark

/** The listener bus's drain is package-private to Spark; the traced run
  * needs it so a pass's last task events are counted before the pass's
  * figures are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
