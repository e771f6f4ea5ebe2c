package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus's drain is private to Spark's package; the tracer
  * needs it to read its counters only after every posted event landed. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
