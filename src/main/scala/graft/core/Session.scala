package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine: the one place a session is
  * built. Bench, Verify, PlanDump, Soak and the perfbench harness call
  * [[local]]; the test session applies the same [[conf]] through
  * [[build]] with only its own master and warehouse dir.
  *
  * Local-mode defaults mirror what a production cluster deployment would
  * set: AQE on (runtime partition coalescing + skew-join splitting),
  * shuffle partitions sized to available parallelism rather than the 200
  * default, UTC session timezone so timestamp semantics match the DuckDB
  * oracle, and broadcast threshold left at default so Catalyst
  * auto-broadcasts the small dimension tables (region/nation/supplier).
  *
  * At 100 TB the same code runs unchanged on a real cluster; only
  * `master` and the shuffle-partition count (sized ~2-3x total cores,
  * or left to AQE's coalescing from a high initial value) differ.
  */
object Session {
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(math.min(Runtime.getRuntime.availableProcessors, 32))

  /** The engine's session conf for `cpus` task slots. */
  def conf(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    // AQE coalesces post-shuffle partitions by SIZE; its parallelism
    // floor is minPartitionSize (1 MB default), so a CPU-heavy stage
    // whose rows are compact — candidate-pair joins feeding per-pair
    // set merge-walks, pointer-jumping iterations — collapses to 1-3
    // tasks and runs the merge CPU single-threaded (measured 30-100×
    // on the 10× soak: verify 192 s on 3 MB of pairs). 64 KB keeps
    // such stages at full parallelism while still coalescing truly
    // empty partitions; byte-heavy stages are unaffected (they hit
    // the advisory size first).
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
    "spark.sql.session.timeZone" -> "UTC",
    // static (plan-time) conf for the TIMESTAMP(NANOS) events table —
    // set once here, never mutated by loaders (see Tables.events)
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  /** Finish `builder` (master, app name and any deployment settings
    * already set) with the graft extensions and [[conf]]. */
  def build(builder: SparkSession.Builder, cpus: Int): SparkSession = {
    val spark = builder
      .withExtensions(new graft.plans.GraftExtensions)
      .config(conf(cpus).toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def local(appName: String = "graft"): SparkSession =
    build(SparkSession.builder().master(s"local[$cpus]").appName(appName), cpus)
}
