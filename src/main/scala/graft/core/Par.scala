package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Scale-adaptive scan parallelism for CPU-dense operators.
  *
  * The fixture tables are ONE parquet file with ONE row group, so their
  * scans are unsplittable: every CPU-heavy stage fused into such a scan
  * (text-quality kernels, tokenizer DP folds, shingle/gram explodes,
  * sketch partials) runs on a single core while the rest of the machine
  * idles — measured multi-second single-task stages all over the bench
  * (q_gopher_rules 1.9 s, q_naive_bayes 1.7 s, bm25 tokenize 1.8 s).
  * The optimization guide's prescription for unsplittable small inputs
  * is to repartition immediately after the read; a BLANKET load-time
  * repartition was measured 40% slower across the suite in an earlier
  * round (every reference of every table paid an exchange), so the
  * spread here is narrow and self-disabling:
  *
  *  - applied ONLY at operator entry points whose downstream per-row
  *    work dwarfs one small exchange (the call sites name the kernel);
  *  - fires ONLY when the plan's estimated input slices are below the
  *    session parallelism — i.e. the input is bounded by
  *    parallelism × maxPartitionBytes (a few GB), so the exchange it
  *    introduces is bounded by a CONSTANT, never data-scaled. At
  *    production scale the slice estimate exceeds core count and the
  *    plan is returned UNCHANGED — the zero/bounded-exchange scale
  *    shapes pinned by PlanSpec are preserved exactly where they
  *    matter.
  *
  * HASH repartition on the operator's row key (never round-robin):
  * deterministic under task retries with no sortBeforeRepartition
  * local sort of heavy text rows. The estimate reads file-index sizes
  * from the logical plan — plan-time metadata only, no job runs.
  * `spark.graft.spread.enabled=false` disables every spread (used by
  * plan tests to pin the at-scale shapes on small fixtures).
  */
object Par {

  /** Estimated scan-task count of `df`'s inputs: Σ over leaf relations
    * of ceil(bytes / maxPartitionBytes) for file sources, actual RDD
    * partition count for checkpointed inputs, 1 for local relations.
    * Unknown leaf kinds count as "already parallel" so the spread
    * stays a no-op for sources it cannot reason about. */
  def estimatedInputSlices(df: DataFrame): Long = {
    val maxPB = math.max(1L,
      df.sparkSession.sessionState.conf.filesMaxPartitionBytes)
    df.queryExecution.optimizedPlan.collectLeaves().map {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          math.max(1L, (fs.location.sizeInBytes + maxPB - 1) / maxPB)
        case _ => Long.MaxValue / 4 // non-file source: assume parallel
      }
      case rdd: LogicalRDD => math.max(1L, rdd.rdd.getNumPartitions.toLong)
      case _: LocalRelation => 1L
      case _ => Long.MaxValue / 4
    }.foldLeft(0L)((a, b) => if (a + b < a) Long.MaxValue / 4 else a + b)
  }

  /** Hash-repartition `df` by `keys` to the session parallelism when —
    * and only when — its inputs are too few slices to use the machine
    * (see object doc). Returns `df` unchanged otherwise. */
  def spreadForCpu(df: DataFrame, keys: Column*): DataFrame = {
    val spark = df.sparkSession
    val dflt = sys.env.getOrElse("SPARK_GRAFT_SPREAD", "true")
    if (!spark.conf.get("spark.graft.spread.enabled", dflt).toBoolean)
      return df
    val want = spark.sparkContext.defaultParallelism
    if (estimatedInputSlices(df) >= want) df
    else df.repartition(want, keys: _*)
  }

  /** Eagerly materialize a CPU-dense kernel output that is referenced
    * by MULTIPLE downstream subtrees (Catalyst recomputes a shared
    * lazy subtree once per reference unless an identical exchange
    * happens to be reusable — column pruning usually makes the
    * references differ, so a 2-reference kernel runs twice). `keys`,
    * when given, hash-spread the checkpointed blocks to session
    * parallelism so every downstream consumer runs machine-wide
    * (spreading the kernel INPUT instead was measured SLOWER — the
    * exchange then carries raw text rows, which costs more than the
    * kernel pass it parallelizes). Fires under exactly the
    * [[spreadForCpu]] gate: only when the input is below session
    * parallelism in estimated slices — i.e. bounded by
    * parallelism × maxPartitionBytes — so the checkpointed blocks are
    * CONSTANT-bounded, never data-scaled. At production scale the plan
    * is returned UNCHANGED: the lazy shape recomputes the kernel per
    * reference, which for a linear-scan kernel is the right trade
    * against materializing an O(corpus) intermediate (the call sites
    * name the kernel and the reference count). The blocks are freed by
    * the ContextCleaner once the caller drops the frame, like every
    * one-shot construct-phase checkpoint ([[Checkpoints]]).
    * `spark.graft.spread.enabled=false` (or SPARK_GRAFT_SPREAD=false)
    * disables it together with the spreads, restoring the pre-round-17
    * plan shape for tests and A/B. */
  def materializeForReuse(df: DataFrame, keys: Column*): DataFrame = {
    val spark = df.sparkSession
    val dflt = sys.env.getOrElse("SPARK_GRAFT_SPREAD", "true")
    if (!spark.conf.get("spark.graft.spread.enabled", dflt).toBoolean)
      return df
    val want = spark.sparkContext.defaultParallelism
    if (estimatedInputSlices(df) >= want) return df
    val spread = if (keys.isEmpty) df else df.repartition(want, keys: _*)
    Checkpoints.eager(spread)
  }
}
