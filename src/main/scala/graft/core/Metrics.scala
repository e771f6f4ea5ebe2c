package graft.core

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbridge.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Execution instrumentation (reference O5: `time` around stages and
  * `.echo on` observability — `bin/fetcher.bash:19-22,68`): the one
  * profiler that Bench, Soak and PlanDump run every query through.
  *
  * [[profile]] builds a frame, runs it through the `noop` sink (which
  * executes the full physical plan, unlike `count()`, and discards the
  * rows) and returns one [[Record]]: construct and exec seconds, the
  * error if any, the jobs and completed stages, and the SQL shuffle,
  * spill and row sums of every query execution in between. Events are
  * attributed by draining the listener bus before the listeners attach
  * and again before they detach, so a run sees exactly its own events —
  * no labels, no polling.
  *
  * "Measure, don't guess": Bench reports shuffle volume next to wall
  * time, because a query that got faster by shuffling 10x more data is
  * not actually faster at 100 TB.
  */
object Metrics {

  /** One completed stage: wall from submission to completion. */
  final case class Stage(id: Int, name: String, wallMs: Long, tasks: Int,
                         cpuNs: Long, shuffleReadBytes: Long,
                         shuffleWriteBytes: Long)

  /** One profiled run. `execS` is empty when the run failed; the SQL
    * sums cover every query execution of the run, construct-time
    * actions (checkpoints, collects) included. */
  final case class Record(constructS: Double, execS: Option[Double],
                          error: Option[Throwable], jobs: Int,
                          stages: Seq[Stage], shuffleBytes: Long,
                          spillBytes: Long, outputRows: Long) {
    def ok: Boolean = error.isEmpty
    /** construct + exec, the one wall figure Bench and Soak record. */
    def wallS: Option[Double] = execS.map(constructS + _)
  }

  private final case class Sums(shuffle: Long, spill: Long, rows: Long)

  /** Shuffle-write, spill and output-row sums of one executed plan. */
  private def planSums(qe: QueryExecution): Sums = {
    // AQE wrappers hide the physical tree: AdaptiveSparkPlanExec can sit
    // anywhere below a write command, and materialized query stages are
    // LEAF nodes whose real subtree hangs off .plan — plain collect()
    // sees neither. Flatten through both.
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
      case s: QueryStageExec        => p +: flatten(s.plan)
      case _                        => p +: p.children.flatMap(flatten)
    }
    val nodes = flatten(qe.executedPlan)
    def sumMetric(name: String): Long =
      nodes.map(_.metrics.get(name).map(_.value).getOrElse(0L)).sum
    Sums(sumMetric("shuffleBytesWritten"), sumMetric("spillSize"),
      qe.executedPlan.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
  }

  /** Seconds `f` took, and its value or whatever it threw. */
  private def timed[A](f: => A): (Double, Either[Throwable, A]) = {
    val t0 = System.nanoTime()
    val r = try Right(f) catch { case e: Throwable => Left(e) }
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Build `frame`, run it through the noop sink and profile the run;
    * afterwards free every checkpoint's blocks (a caller's own caches
    * stay), so independent runs do not squeeze each other's execution
    * memory. A frame that throws, while being built
    * or run, yields a failed record instead of an exception. */
  def profile(spark: SparkSession)(frame: => DataFrame): Record = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val stages = new ConcurrentLinkedQueue[Stage]()
    val sums = new ConcurrentLinkedQueue[Sums]()
    val stageListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val wall = (for { s <- si.submissionTime; c <- si.completionTime }
          yield c - s).getOrElse(-1L)
        stages.add(Stage(si.stageId, si.name.takeWhile(_ != '\n').take(60), wall,
          si.numTasks, si.taskMetrics.executorCpuTime,
          si.taskMetrics.shuffleReadMetrics.totalBytesRead,
          si.taskMetrics.shuffleWriteMetrics.bytesWritten))
      }
    }
    val sqlListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        sums.add(planSums(qe))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }

    ListenerBus.drain(sc)
    sc.addSparkListener(stageListener)
    spark.listenerManager.register(sqlListener)
    val (constructS, execS, error) =
      try {
        val (cs, built) = timed(frame)
        built match {
          case Left(e) => (cs, None, Some(e))
          case Right(df) =>
            val (es, ran) = timed(df.write.format("noop").mode("overwrite").save())
            (cs, ran.toOption.map(_ => es), ran.left.toOption)
        }
      } finally {
        ListenerBus.drain(sc)
        spark.listenerManager.unregister(sqlListener)
        sc.removeSparkListener(stageListener)
      }
    Checkpoints.freeAllPersisted(spark)

    val s = sums.asScala.toSeq
    Record(constructS, execS, error, jobs.get, stages.asScala.toSeq,
      s.map(_.shuffle).sum, s.map(_.spill).sum, s.map(_.rows).foldLeft(0L)(math.max))
  }
}
