package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private.
  * The traced run reads its listener's counters only after every event
  * posted so far has been delivered, so each span's counters are whole.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
