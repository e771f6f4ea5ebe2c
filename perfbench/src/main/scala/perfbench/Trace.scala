package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Bytes from Hadoop's FileSystem statistics of the local (`file`)
  * scheme; operations from [[CountingFs]]. */
final case class Fs(bytesRead: Long, bytesWritten: Long, readOps: Long, writeOps: Long) {
  def -(o: Fs): Fs = Fs(bytesRead - o.bytesRead, bytesWritten - o.bytesWritten,
    readOps - o.readOps, writeOps - o.writeOps)
  def ops: Long = readOps + writeOps
}

object Fs {
  @annotation.nowarn("cat=deprecation")
  def now(): Fs = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    Fs(st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum,
      CountingFs.reads.get, CountingFs.writes.get)
  }
}

/** One timed call into a layer. `op` is the closed-loop operation the span
  * belongs to (-1 for probes and checks outside any timed operation). */
final class Span(val id: Int, val name: String, val layer: String,
                 val parent: Int, val cycle: Int, val op: Int) {
  var t0Ns, t1Ns, t0Ms, t1Ms = 0L
  var fs: Fs = Fs(0, 0, 0, 0) // inclusive of child spans
  def seconds: Double = (t1Ns - t0Ns) / 1e9
}

final class JobRec(val span: Int, val startMs: Long) {
  @volatile var endMs: Long = -1L
}
final case class TaskRec(span: Int, durMs: Long, shuffleBytes: Long, spillBytes: Long)
final case class PlanRec(startMs: Long, planMs: Long)

/** Spans recorded from the benchmark's own code around each call into a
  * layer, plus the listener bundle that attributes Spark work to them:
  * a SparkListener (jobs, tasks, busy time, shuffle, spill), a
  * QueryExecutionListener (Catalyst phase times) and the Hadoop
  * FileSystem statistics (bytes and operations). Jobs carry the id of the
  * innermost open span as a local property, so attribution does not
  * depend on when the listener bus delivers an event. Everything stays in
  * memory until the run ends. While tracing is off, `span` only runs its
  * body. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val Key = "perfbench.span"
  private var on = false
  private var stack: List[Span] = Nil
  val spans = mutable.ArrayBuffer[Span]()
  var cycle = 0

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val plans = new ConcurrentLinkedQueue[PlanRec]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
        .map(_.toInt).getOrElse(-1)
      e.stageIds.foreach(s => stageSpan.put(s, span))
      jobs.put(e.jobId, new JobRec(span, e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      tasks.add(TaskRec(stageSpan.getOrDefault(e.stageId, -1), e.taskInfo.duration,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.diskBytesSpilled))
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) plans.add(PlanRec(ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
    }
  }

  def enabled: Boolean = on

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(planListener)
    on = true
  }

  def stop(): Unit = {
    flush()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
    on = false
  }

  /** Wait until the listeners have seen every event posted so far. */
  def flush(): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  def span[T](name: String, layer: String, op: Int = -1)(body: => T): T = {
    if (!on) return body
    val parent = stack.headOption
    val s = new Span(spans.size, name, layer, parent.map(_.id).getOrElse(-1), cycle,
      parent.map(_.op).getOrElse(op))
    spans += s
    stack = s :: stack
    sc.setLocalProperty(Key, s.id.toString)
    val fs0 = Fs.now()
    s.t0Ms = System.currentTimeMillis()
    s.t0Ns = System.nanoTime()
    try body
    finally {
      s.t1Ns = System.nanoTime()
      s.t1Ms = System.currentTimeMillis()
      s.fs = Fs.now() - fs0
      stack = stack.tail
      sc.setLocalProperty(Key, stack.headOption.map(_.id.toString).orNull)
    }
  }

  // ---- queries over the recorded spans (call after the traced phase) ----

  private var childCache: (Int, Map[Int, Seq[Span]]) = (-1, Map.empty)
  private def children: Map[Int, Seq[Span]] = {
    if (childCache._1 != spans.size) childCache = (spans.size, spans.toSeq.groupBy(_.parent))
    childCache._2
  }

  def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  def named(name: String): Seq[Span] = spans.toSeq.filter(_.name == name)

  /** Root spans of timed operations. */
  def opRoots: Seq[Span] = spans.toSeq.filter(s => s.parent == -1 && s.op >= 0)

  def jobsUnder(s: Span): Seq[JobRec] = {
    val ids = subtree(s).map(_.id).toSet
    jobs.values.asScala.toSeq.filter(j => ids.contains(j.span))
  }

  def tasksUnder(s: Span): Seq[TaskRec] = {
    val ids = subtree(s).map(_.id).toSet
    tasks.asScala.toSeq.filter(t => ids.contains(t.span))
  }

  def jobsOf(spanId: Int): Seq[JobRec] = jobs.values.asScala.toSeq.filter(_.span == spanId)
  def tasksOf(spanId: Int): Seq[TaskRec] = tasks.asScala.toSeq.filter(_.span == spanId)

  /** Catalyst planning seconds of the queries that started inside `s`. */
  def planSeconds(s: Span): Double =
    plans.asScala.toSeq.filter(p => p.startMs >= s.t0Ms && p.startMs <= s.t1Ms)
      .map(_.planMs).sum / 1e3

  /** Wall seconds inside `s` during which none of its jobs was running. */
  def driverGapSeconds(s: Span): Double = {
    val iv = jobsUnder(s).map(j => (math.max(j.startMs, s.t0Ms),
      math.min(if (j.endMs < 0) s.t1Ms else j.endMs, s.t1Ms)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, s.seconds - covered / 1e3)
  }

  /** Span duration minus the part its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum

  /** Every span as one JSON object per line. */
  def dump(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      out.println(Json.obj(Seq("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "parent" -> s.parent, "cycle" -> s.cycle, "op" -> s.op,
        "start_ms" -> s.t0Ms, "end_ms" -> s.t1Ms, "seconds" -> s.seconds,
        "jobs" -> jobsOf(s.id).size, "tasks" -> tasksOf(s.id).size,
        "fs_read_bytes" -> s.fs.bytesRead, "fs_ops" -> s.fs.ops)))
    } finally out.close()
  }
}
