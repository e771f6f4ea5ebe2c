package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import scala.collection.mutable.ArrayBuffer

/** Batch plan/profile dump: run every suite query matching a regex in
  * ONE session, writing each query's formatted physical plan to
  * `<outDir>/<name><suffix>.txt` and printing a per-stage wall/shuffle
  * profile — `runMain graft.PlanDump <regex> <outDir> [suffix] [sfDir]`.
  * One JVM for N queries: a JVM per query pays ~40 s of
  * session+warmup each, which swamps the plans being measured; a
  * `'^name$'` regex audits one query. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val re = args(0).r
    val outDir = java.nio.file.Paths.get(args(1))
    val suffix = if (args.length > 2) args(2) else ""
    val sfDir = if (args.length > 3) args(3) else
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    java.nio.file.Files.createDirectories(outDir)
    val spark = graft.core.Session.local("graft-plandump")
    // warmup: parquet footers + codegen caches, same as Bench
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()

    val stages = ArrayBuffer.empty[(Int, String, Long, Int, Long, Long)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        val si = ev.stageInfo
        val wall = (for {s <- si.submissionTime; c <- si.completionTime}
          yield c - s).getOrElse(-1L)
        stages.synchronized {
          stages += ((si.stageId, si.name.takeWhile(_ != '\n').take(60), wall,
            si.numTasks, si.taskMetrics.shuffleReadMetrics.totalBytesRead,
            si.taskMetrics.shuffleWriteMetrics.bytesWritten))
        }
      }
    })

    val names = Queries.all.map(_._1).filter(n => re.findFirstIn(n).isDefined)
    names.foreach { name =>
      stages.synchronized(stages.clear())
      val tc = System.nanoTime()
      val df = Queries.queries(name)(spark, sfDir)
      val constructSec = (System.nanoTime() - tc) / 1e9
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(outDir.resolve(s"$name$suffix.txt"), plan)
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val execSec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // drain async listener bus
      graft.core.Checkpoints.freeAllPersisted(spark)
      println(f"[plandump] $name construct $constructSec%.2f s exec $execSec%.2f s")
      stages.synchronized(stages.sortBy(-_._3).take(12)).foreach {
        case (id, nm, wall, tasks, sr, sw) =>
          println(f"[plandump]   stage $id%5d ${wall / 1000.0}%7.2f s tasks=$tasks%4d " +
            f"shufR=${sr / 1e6}%7.1f MB shufW=${sw / 1e6}%7.1f MB  $nm")
      }
    }
    spark.stop()
  }
}
