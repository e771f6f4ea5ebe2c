package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run (JVM is forked once),
  * on the production conf of [[graft.core.Session]]; only the master and
  * the warehouse dir are its own. */
object TestSession {
  lazy val spark: SparkSession = graft.core.Session.build(
    SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      // fresh warehouse per JVM: the in-memory catalog forgets tables on
      // exit but their files would survive and break saveAsTable reruns
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString),
    cpus = 4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark

  /** Jobs launched while `body` runs, counted by a listener between two
    * listener-bus drains (so no earlier job leaks in and no job of
    * `body`'s is still queued when the count is read). */
  protected def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graftbridge.ListenerBus.drain(sc)
    sc.addSparkListener(l)
    try {
      body
      org.apache.spark.graftbridge.ListenerBus.drain(sc)
      jobs.get
    } finally sc.removeSparkListener(l)
  }

  /** Archive streams opened (on the driver or in tasks, both in this
    * JVM) while `body` runs: the [[graft.sources.ArchiveStreamAudit]]
    * count, which every zip, tar and charset-decoded plain-file read
    * bumps once per opened file. */
  protected def archivesOpenedDuring(body: => Unit): Long = {
    val before = graft.sources.ArchiveStreamAudit.opened.get()
    body
    graft.sources.ArchiveStreamAudit.opened.get() - before
  }
}
