package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one place the engine checkpoints a frame, and the one place it
  * releases a checkpoint.
  *
  * `Dataset.localCheckpoint()` persists its data as RDD blocks that
  * OUTLIVE the Dataset reference — `Dataset.unpersist()` only clears
  * cache-manager entries, never checkpoint blocks. An iterative
  * operator that checkpoints per generation therefore frees each
  * superseded generation itself, or a long session accumulates dead
  * blocks until execution memory is squeezed into spilling (observed:
  * a full bench run degrading mid-suite queries 20-60× vs the same
  * query standalone).
  *
  * The checkpointed frame is its own handle: its analyzed plan is a
  * `LogicalRDD` over exactly the RDD the checkpoint persisted, so
  * [[free]] needs nothing but the frame. A frame DERIVED from a
  * checkpoint (a projection, a join) has another root, and freeing it
  * is a no-op — a loop that keeps a projection of its checkpoint frees
  * the checkpoint itself. One-shot checkpoints that no loop supersedes
  * (edge tables, construct-phase materializations) are left to Spark's
  * ContextCleaner, which unpersists an RDD once nothing references it
  * (its weak-reference sweep runs at each driver GC).
  * [[freeAllPersisted]] is the harness-level sweep between independent
  * queries; it drops checkpoint blocks only, never a user `.cache()`.
  *
  * BACKEND CHOICE, named: `localCheckpoint` blocks live in
  * NON-REPLICATED executor storage and are NON-RECOMPUTABLE once
  * lineage truncates — on local[N] that's free (one JVM, nothing to
  * lose), but on a real cluster one lost executor mid-iteration fails
  * the whole iterative job (pagerank, kCore, label propagation,
  * pointer-jumping all checkpoint per generation). Set
  * `spark.graft.checkpoint.backend=reliable` (plus
  * `spark.graft.checkpoint.dir=<fault-tolerant path>`, or a pre-set
  * `SparkContext.setCheckpointDir`) to route [[eager]]/[[lazily]]
  * through `Dataset.checkpoint` — data lands in the reliable store
  * and survives executor loss, at the price of a write per
  * checkpoint. Reliable checkpoints leave no persistent BLOCKS, but
  * they do leave FILES, and [[free]] deletes a superseded generation's
  * checkpoint files along with any blocks — without that,
  * per-generation iterative loops would grow the checkpoint directory
  * without bound.
  */
object Checkpoints {

  private def checkpointed(df: DataFrame, eager: Boolean): DataFrame = {
    val out = df.sparkSession.conf.get("spark.graft.checkpoint.backend", "local") match {
      case "local" => df.localCheckpoint(eager)
      case "reliable" => ensureReliableDir(df); df.checkpoint(eager)
      case other => sys.error(
        s"unknown spark.graft.checkpoint.backend '$other' — " +
          "use 'local' (default) or 'reliable'")
    }
    require(out.queryExecution.analyzed.isInstanceOf[LogicalRDD],
      "checkpoint did not produce a LogicalRDD plan — " +
        "free would silently leak its blocks")
    out
  }

  private def ensureReliableDir(df: DataFrame): Unit = {
    val sc = df.sparkSession.sparkContext
    if (sc.getCheckpointDir.isEmpty) {
      val dir = df.sparkSession.conf.get("spark.graft.checkpoint.dir", "")
      require(dir.nonEmpty,
        "spark.graft.checkpoint.backend=reliable needs " +
          "spark.graft.checkpoint.dir (or SparkContext.setCheckpointDir) " +
          "— a reliable checkpoint with nowhere to write is a config bug")
      sc.setCheckpointDir(dir)
    }
  }

  /** Eagerly checkpoint `df`; pass the result to [[free]] once a newer
    * generation supersedes it. */
  def eager(df: DataFrame): DataFrame = checkpointed(df, eager = true)

  /** LAZY checkpoint: lineage truncates and blocks persist on
    * FIRST evaluation — which, for a plan whose scalar subqueries
    * spawn broadcast jobs (e.g. per-iteration max renormalization),
    * happens inside the consuming job itself, so no extra
    * materialization actions run. Two caveats the eager form doesn't
    * have: (1) NEVER [[free]] a lazy checkpoint before every plan
    * built on top of it has executed — unpersisted lazy-checkpoint
    * blocks are non-recomputable (lineage is gone) and downstream
    * jobs fail; leave them to the ContextCleaner; (2) the first
    * evaluation races under concurrent actions — fine on the
    * single-action-at-a-time driver loops this repo uses. */
  def lazily(df: DataFrame): DataFrame = checkpointed(df, eager = false)

  /** Release a SUPERSEDED checkpoint generation: unpersist the blocks
    * of the `LogicalRDD` at the root of `df`'s plan (local backend;
    * non-blocking, safe when already freed) AND delete its
    * reliable-checkpoint files (reliable backend — nothing else ever
    * removes them, so without this a per-generation iterative loop or
    * a per-micro-batch sink would grow the checkpoint directory
    * linearly forever). A no-op when `df` is not itself a checkpoint.
    * The freed frame is DEAD either way — local blocks are
    * non-recomputable and the reliable files are gone — so free only
    * once every plan built on it has executed. */
  def free(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case lr: LogicalRDD =>
      if (lr.rdd.getStorageLevel.isValid) lr.rdd.unpersist(blocking = false)
      lr.rdd.getCheckpointFile.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        // best-effort: a failed delete leaves a file the next sweep or
        // an operator rm can reclaim; it must not fail the job
        try p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
          .delete(p, true)
        catch { case _: java.io.IOException => () }
      }
    case _ => ()
  }

  /** Drop every checkpoint's blocks in the session — for harness code
    * (bench/verify mains) between independent queries, where any
    * checkpoint still persisted is by definition dead. A `.cache()` or
    * `persist()` of the caller's is left alone. */
  def freeAllPersisted(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.filter(_.isCheckpointed)
      .foreach(_.unpersist(blocking = false))
}
