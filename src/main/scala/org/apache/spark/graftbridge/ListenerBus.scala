package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** The listener bus's drain is private to Spark's package; the profiler
  * (`graft.core.Metrics`) and specs that count events with a
  * `SparkListener` need it so a count is read only after every posted
  * event has been delivered. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
