package org.apache.spark.graftbridge

import scala.collection.mutable

import org.apache.spark.{CleanerListener, SparkContext}
import org.apache.spark.scheduler.SparkListenerEvent

/** Records the RDDs Spark's ContextCleaner unpersists, so a spec can
  * wait for a reclaim instead of polling for it. The cleaner's listener
  * hook is private to Spark's package, and it has no detach: a watch
  * lives as long as its context. */
final class CleanerWatch private (sc: SparkContext) {
  private val cleaned = mutable.Set.empty[Int]

  sc.cleaner.getOrElse(sys.error("spark.cleaner.referenceTracking is off"))
    .attachListener(new CleanerListener {
      override def rddCleaned(rddId: Int): Unit = CleanerWatch.this.synchronized {
        cleaned += rddId
        CleanerWatch.this.notifyAll()
      }
      override def shuffleCleaned(shuffleId: Int): Unit = ()
      override def broadcastCleaned(broadcastId: Long): Unit = ()
      override def accumCleaned(accId: Long): Unit = ()
      override def checkpointCleaned(rddId: Long): Unit = ()
    })

  /** Posts a marker event and drains the listener bus. Each queue's
    * dispatch thread holds the last event it delivered until the next
    * one arrives, and a `SparkListenerSQLExecutionEnd` there pins its
    * query's plan — and the checkpoints that plan reads — against GC. */
  def releaseLastEvents(): Unit = {
    sc.listenerBus.post(new SparkListenerEvent {})
    sc.listenerBus.waitUntilEmpty()
  }

  /** Blocks until the cleaner has reclaimed every RDD in `ids` or
    * `timeoutMs` has passed; returns the ids it has not reclaimed. */
  def awaitCleaned(ids: Set[Int], timeoutMs: Long): Set[Int] = synchronized {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var left = ids -- cleaned
    while (left.nonEmpty && deadline - System.nanoTime() > 0) {
      wait(math.max(1L, (deadline - System.nanoTime()) / 1000000L))
      left = ids -- cleaned
    }
    left
  }
}

object CleanerWatch {
  def attach(sc: SparkContext): CleanerWatch = new CleanerWatch(sc)
}
