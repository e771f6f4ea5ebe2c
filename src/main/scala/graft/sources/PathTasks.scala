package graft.sources

import java.io.Closeable

import scala.reflect.ClassTag

import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession

/** What the per-archive readers ([[ZipSource]], [[TarSource]]) share:
  * zip and tar are not splittable, so one task owns one path, opens it
  * under the session's Hadoop configuration and streams it.
  *
  * Paths are spread with `parallelize(paths, paths.size)`, which puts
  * exactly one path in each partition without a shuffle: building the
  * frame launches no job, and partition `i` reads `paths(i)`. */
private[sources] object PathTasks {

  /** The session's Hadoop configuration as a broadcast map
    * (`Configuration` is not serializable). */
  private def broadcastConf(spark: SparkSession): Broadcast[Map[String, String]] = {
    val it = spark.sparkContext.hadoopConfiguration.iterator()
    val m = Map.newBuilder[String, String]
    while (it.hasNext) { val e = it.next(); m += e.getKey -> e.getValue }
    spark.sparkContext.broadcast(m.result())
  }

  /** Rebuild a task-side `Configuration` from [[broadcastConf]]. */
  private def conf(b: Broadcast[Map[String, String]]): Configuration = {
    val c = new Configuration(false)
    b.value.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** One partition per path; each task opens its path with `read`. */
  def flatMap[T: ClassTag](spark: SparkSession, paths: Seq[String])(
      read: (String, Configuration) => Iterator[T]): RDD[T] = {
    val serConf = broadcastConf(spark)
    spark.sparkContext.parallelize(paths, math.max(paths.size, 1))
      .mapPartitions { pathIt =>
        val c = conf(serConf)
        pathIt.flatMap(read(_, c))
      }
  }

  /** Close a stream when the TASK completes, not only at EOF: a
    * downstream limit/take can abandon the line iterator before
    * exhaustion, and the on-exhaustion close alone would then leak the
    * open FSDataInputStream (and an inflater's native buffer) for the
    * executor's lifetime — the Deflater-cleanup precedent in
    * TextAnalysis.compressionRatios. close() is idempotent, so the
    * happy-path EOF close composes safely. */
  def closeOnTaskEnd(c: Closeable): Unit =
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit] { _ =>
        try c.close() catch { case _: java.io.IOException => () }
      })

  /** Whether `CSVUtils.filterCommentAndEmpty` keeps a line: it is not
    * empty after Java `trim`, i.e. it holds a character above U+0020. */
  def nonBlank(line: String): Boolean = line.trim.nonEmpty

  /** The first non-blank line the tasks of a [[flatMap]] read would
    * yield, read on the driver with the same `open`: paths in order,
    * each stream closed as soon as the line is found or the path ends. */
  def firstLine(spark: SparkSession, paths: Seq[String])(
      open: (String, Configuration) => (Iterator[String], Closeable)): Option[String] = {
    val c = spark.sparkContext.hadoopConfiguration
    paths.iterator.map { p =>
      val (lines, stream) = open(p, c)
      try lines.find(nonBlank) finally stream.close()
    }.collectFirst { case Some(l) => l }
  }
}
