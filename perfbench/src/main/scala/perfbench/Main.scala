package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One closed-loop operation: what it was, the wall and process CPU time
  * of its timed part, and whether its output passed the check. */
final case class OpRes(kind: String, seconds: Double, cpuSeconds: Double, ok: Boolean,
    note: String = "")

/** A seeded workload driven by one client in a closed loop. */
trait Workload {
  /** The kinds of the operations that make one unit of work, in order. */
  def block: Seq[String] = Seq("cycle")
  /** Generate the inputs (untimed); returns their sizes for the context. */
  def prepare(): Seq[(String, Any)]
  /** How many operations run untimed first, while the JIT warms up. */
  def warmupOps: Int
  /** One timed, checked operation. */
  def step(tr: Tracer, i: Int): OpRes
  /** Checks that need the whole run (untimed). */
  def finish(tr: Tracer): Seq[OpRes] = Nil
  /** This workload's own end-to-end figures: (name, value, unit, note). */
  def report(ops: Seq[OpRes]): Seq[(String, Double, String, String)]
  /** Per-layer metrics of the traced phase. */
  def layers(tr: Tracer, ops: Seq[OpRes]): Map[String, Double]
}

/** Every per-layer metric; each traced run reports all of them, with 0
  * for layers its workload does not exercise. */
object LayerMetrics {
  val names: Seq[String] = Seq(
    "sources.load_construct_s", "sources.decode_s", "sources.read_amp",
    "sources.max_task_s", "operators.components_s",
    "core.persisted_rdds", "core.storage_mb",
    "core.snapshot.upsert_s", "core.snapshot.delete_dv_s",
    "core.snapshot.compact_s", "core.snapshot.lookup_s",
    "core.snapshot.jobs_per_commit", "core.snapshot.fs_ops_per_commit",
    "core.snapshot.files_rewritten_per_upsert", "core.snapshot.write_amp",
    "core.snapshot.space_amp", "core.snapshot.files_skipped_frac",
    "spark.jobs", "spark.tasks", "spark.task_busy_s", "spark.core_util",
    "spark.driver_gap_s", "spark.job_p50_s", "catalyst.plan_s",
    "spark.shuffle_mb", "spark.spill_mb",
    "layer.harness.self_s", "layer.sources.self_s", "layer.operators.self_s",
    "layer.core.self_s", "trace.overhead_s", "trace.overhead_frac")
}

object Main {
  private val Setups = 3
  val MB: Double = 1024.0 * 1024.0

  /** The first query of a fresh session: a native engine expression, so
    * the session's extensions and code generation are on the path. */
  private def firstQuery(spark: SparkSession): Unit = {
    val text = concat_ws(" ", lit("w"), col("id").cast("string"), lit("x"))
    val n = spark.range(0, 1000, 1, 4)
      .select(size(graft.plans.TextExpressions.word_ngrams(text, 2)).as("n"))
      .agg(sum("n")).head().getLong(0)
    require(n == 2000L, s"first query returned $n bigrams, expected 2000")
  }

  /** Pins the listener bundle's attribution: two RDD actions inside one
    * span are exactly 2 jobs and 4 + 4 + 3 tasks with shuffle output. The
    * inputs written before it must have gone through [[CountingFs]]. */
  private def selfCheck(spark: SparkSession, tr: Tracer): OpRes = {
    val sc = spark.sparkContext
    tr.span("selfcheck", "harness") {
      sc.parallelize(1 to 1000, 4).count()
      sc.parallelize(1 to 1000, 4).map(x => (x % 7, 1)).reduceByKey(_ + _, 3).collect()
    }
    tr.flush()
    val s = tr.named("selfcheck").last
    val jobs = tr.jobsUnder(s).size
    val tasks = tr.tasksUnder(s)
    val fsOps = CountingFs.reads.get + CountingFs.writes.get
    val ok = jobs == 2 && tasks.size == 11 && tasks.map(_.shuffleBytes).sum > 0 && fsOps > 0
    OpRes("selfcheck", s.seconds, 0.0, ok, s"jobs=$jobs tasks=${tasks.size} fs_ops=$fsOps")
  }

  /** The median cost of one unit of work: the sum, over the block's
    * operations, of the median cost of that kind of operation. Unlike the
    * median of whole blocks it uses every operation of a run. */
  private def blockMedian(w: Workload, ops: Seq[OpRes], cost: OpRes => Double): Double =
    w.block.map(k => Stats.median(ops.filter(_.kind == k).map(cost))).sum

  /** Runs operations `first`, `first + 1`, ... while `more(count so
    * far)`. After each operation the harness frees what the engine left
    * persisted (as the repository's own bench does between queries);
    * traced runs first record how much that was. */
  private def runOps(spark: SparkSession, w: Workload, tr: Tracer, first: Int)(
      more: Int => Boolean): Seq[OpRes] = {
    val out = ArrayBuffer[OpRes]()
    while (more(out.size)) {
      out += (try w.step(tr, first + out.size) catch {
        case e: Exception => OpRes("error", Double.NaN, Double.NaN, ok = false, e.toString)
      })
      if (tr.enabled) {
        val sc = spark.sparkContext
        persisted += ((sc.getPersistentRDDs.size, sc.getRDDStorageInfo.map(_.memSize).sum / MB))
      }
      graft.core.Checkpoints.freeAllPersisted(spark)
    }
    out.toSeq
  }

  /** Runs for `seconds`, and for at least one whole block, so every kind
    * of operation has a sample. */
  private def loop(spark: SparkSession, w: Workload, tr: Tracer, seconds: Double,
                   first: Int): Seq[OpRes] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    runOps(spark, w, tr, first)(n => System.nanoTime() < deadline || n < w.block.size)
  }

  private val persisted = ArrayBuffer[(Int, Double)]()

  private def sparkLayers(tr: Tracer, cpus: Int): Map[String, Double] = {
    val roots = tr.opRoots
    val n = math.max(1, roots.size).toDouble
    val tasks = roots.flatMap(tr.tasksUnder)
    val jobs = roots.flatMap(tr.jobsUnder)
    val busy = tasks.map(_.durMs).sum / 1e3
    val wall = roots.map(_.seconds).sum
    val selfByLayer = roots.flatMap(tr.subtree).groupBy(_.layer)
      .map { case (l, ss) => l -> ss.map(tr.selfSeconds).sum / n }
    Map(
      "spark.jobs" -> jobs.size / n,
      "spark.tasks" -> tasks.size / n,
      "spark.task_busy_s" -> busy / n,
      "spark.core_util" -> (if (wall > 0) busy / (wall * cpus) else 0.0),
      "spark.driver_gap_s" -> roots.map(tr.driverGapSeconds).sum / n,
      "spark.job_p50_s" -> Stats.median(jobs.filter(_.endMs >= 0)
        .map(j => (j.endMs - j.startMs) / 1e3)),
      "catalyst.plan_s" -> roots.map(tr.planSeconds).sum / n,
      "spark.shuffle_mb" -> tasks.map(_.shuffleBytes).sum / MB / n,
      "spark.spill_mb" -> tasks.map(_.spillBytes).sum / MB / n) ++
      Seq("harness", "sources", "operators", "core")
        .map(l => s"layer.$l.self_s" -> selfByLayer.getOrElse(l, 0.0))
  }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val work = o("work")
    val loadStart = Host.loadavg()

    // set-up: JVM start to the first query result, then fresh sessions
    System.setProperty("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    var spark = graft.core.Session.local("perfbench")
    firstQuery(spark)
    val nowNs = java.time.Instant.now()
    val setups = ArrayBuffer(
      (nowNs.getEpochSecond * 1000000000L + nowNs.getNano - o("t0-ns").toLong) / 1e9)
    for (_ <- 1 until Setups) {
      spark.stop()
      val t = System.nanoTime()
      spark = graft.core.Session.local("perfbench")
      firstQuery(spark)
      setups += (System.nanoTime() - t) / 1e9
    }

    val w: Workload = workloadName match {
      case "ingest_voter" => new IngestVoter(spark, work, seed)
      case "snapshot_mutate" => new SnapshotMutate(spark, work, seed)
      case other => sys.error(s"unknown workload $other")
    }
    val phases = ArrayBuffer[(String, Double)]()
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases += name -> (now - mark) / 1e9
      mark = now
    }
    val inputs = w.prepare()
    phase("prepare_s")
    val tr = new Tracer(spark)
    val warm = runOps(spark, w, tr, 0)(_ < w.warmupOps)
    phase("warmup_s")
    val checks = ArrayBuffer[OpRes]()
    val ticks0 = Host.cpuTicks()
    val (measured, layers) =
      if (!traced) (loop(spark, w, tr, seconds, warm.size), Map.empty[String, Double])
      else {
        val plain = loop(spark, w, tr, seconds * 0.4, warm.size)
        tr.start()
        checks += selfCheck(spark, tr)
        val withSpans = loop(spark, w, tr, seconds * 0.6, warm.size + plain.size)
        checks ++= w.finish(tr)
        tr.stop()
        tr.dump(s"$work/spans.jsonl")
        def p50(xs: Seq[OpRes]) = blockMedian(w, xs.filter(_.ok), _.seconds)
        val overhead = p50(withSpans) - p50(plain)
        (plain ++ withSpans,
          w.layers(tr, withSpans) ++ sparkLayers(tr, graft.core.Session.cpus) ++ Map(
            "core.persisted_rdds" -> Stats.median(persisted.map(_._1.toDouble).toSeq),
            "core.storage_mb" -> Stats.median(persisted.map(_._2).toSeq),
            "trace.overhead_s" -> overhead, "trace.overhead_frac" -> overhead / p50(plain)))
      }
    if (!traced) checks ++= w.finish(tr)
    phase("measure_and_check_s")
    val ticks1 = Host.cpuTicks()
    val stealFrac = (ticks1._1 - ticks0._1).toDouble / math.max(1L, ticks1._2 - ticks0._2)
    val all = warm ++ measured ++ checks
    val good = measured.filter(_.ok)

    val metrics: Seq[(String, Double)] =
      if (traced) LayerMetrics.names.map(n => n -> layers.getOrElse(n, 0.0))
      else Seq(
        "setup_s" -> Stats.median(setups.toSeq),
        "op_p50_s" -> blockMedian(w, good, _.seconds),
        "op_cpu_s" -> blockMedian(w, good, _.cpuSeconds),
        "rss_peak_mb" -> Host.statusKb("VmHWM") / 1024.0)

    val failed = all.filterNot(_.ok)
    val report = ArrayBuffer[String]()
    report += f"$workloadName seed=$seed trace=${if (traced) 1 else 0} ops=${measured.size} " +
      f"warmup=${warm.size} checks=${checks.size} failed=${failed.size}"
    report += f"ops_failed_frac = ${failed.size.toDouble / math.max(1, all.size)}%.4f ratio"
    report += f"setup_s samples = ${setups.map(s => f"$s%.3f").mkString(" ")} s (first from JVM start)"
    w.report(good).foreach { case (n, v, u, note) =>
      report += f"$n = $v%.4f $u${if (note.isEmpty) "" else s" ($note)"}" }
    report += "op_seconds = " + measured.map(o => f"${o.kind}:${o.seconds}%.3f").mkString(" ")
    failed.take(5).foreach(f => report += s"FAILED ${f.kind}: ${f.note}")

    val context = Seq(
      "workload" -> workloadName, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "nproc" -> Runtime.getRuntime.availableProcessors,
      "spark_graft_cpus" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", ""),
      "master" -> spark.sparkContext.master,
      "driver_max_heap_mb" -> Runtime.getRuntime.maxMemory / MB,
      "loadavg_start" -> loadStart, "loadavg_end" -> Host.loadavg(),
      "cpu_steal_frac" -> stealFrac,
      "inputs" -> inputs.toMap, "phases" -> phases.toMap)
    val result = Json.obj(Seq(
      "correct" -> failed.isEmpty,
      "attempted" -> all.size,
      "failed" -> failed.size,
      "metrics" -> metrics.toMap,
      "report" -> report.toSeq,
      "context" -> context.toMap))
    java.nio.file.Files.write(java.nio.file.Paths.get(o("result")),
      result.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
