package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing: assign documents to fixed-token-budget bins (the
  * training-data step that turns ragged documents into dense model
  * batches). Contiguous-fill policy: documents are taken in a
  * deterministic order and a document starting before a budget boundary
  * belongs to the bin of its starting offset — exactly the "concatenate
  * then split every `budget` tokens" packing used for LLM pretraining,
  * so bin contents are reproducible across engines and runs.
  *
  * Scale design: a single global running sum would serialize on one
  * task, so packing is SHARDED — an md5-derived shard key partitions
  * the corpus, each shard packs independently with a window cumulative
  * sum (shards are the parallelism unit), and bin ids are (shard, bin)
  * pairs. Shard count is the knob: ~one shard per executor core wave.
  * Within a shard docs are ordered by id — deterministic, not
  * arrival-order.
  */
object Packing {

  /** (shard, bin_idx, start_offset) per document. `shards = 1`
    * reproduces the strictly-sequential global packing. */
  def packBins(df: DataFrame, idCol: String, tokenCol: String,
               budget: Long, shards: Int = 64): DataFrame = {
    // "pack_"-salted draw: composed pipelines must not see the same
    // uniform as the sampling operators (see Sampling.hash32)
    val shard = pmod(Sampling.hash32(col(idCol), "pack_"), lit(shards.toLong))
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("shard", shard)
      .withColumn("__cum", sum(col(tokenCol)).over(w))
      .withColumn("start_offset", col("__cum") - col(tokenCol))
      .withColumn("bin_idx", floor(col("start_offset") / budget).cast("long"))
      .drop("__cum")
  }

  /** Bin-level summary: rows per bin and token fill (fill > budget means
    * the last doc straddles the boundary — the downstream splitter cuts
    * it, as in concatenate-and-chunk pretraining pipelines). */
  def binStats(packed: DataFrame, tokenCol: String): DataFrame =
    packed.groupBy(col("shard"), col("bin_idx"))
      .agg(count(lit(1)).as("n_docs"), sum(col(tokenCol)).as("n_tokens"))

  /** The splitter [[binStats]] defers to: materialize the
    * concatenate-then-chunk view as (shard, window_id, doc_id,
    * seg_start, seg_end) document SEGMENTS — each fixed-`budget`
    * training window lists exactly which token range [seg_start,
    * seg_end) of which document fills it, straddling documents split
    * across consecutive windows. Every window's segments sum to
    * `budget` tokens (except each shard's ragged tail), and every
    * document's segments tile [0, n_tokens) — the attention-mask /
    * example-boundary metadata a pretraining dataloader needs.
    *
    * Same sharded scale shape as [[packBins]]; the segment explode
    * emits ⌈tokens/budget⌉+1 rows per document at most — output is
    * linear in corpus tokens over `budget`, never token-level. */
  def contextWindows(df: DataFrame, idCol: String, tokenCol: String,
                     budget: Long, shards: Int = 64,
                     carryCols: Seq[String] = Nil): DataFrame =
    packBins(df, idCol, tokenCol, budget, shards)
      .filter(col(tokenCol) > 0)
      .withColumn("window_id", explode(sequence(
        floor(col("start_offset") / budget).cast("long"),
        floor((col("start_offset") + col(tokenCol) - 1) / budget).cast("long"))))
      .select(Seq(col("shard"), col("window_id"), col(idCol),
        greatest(col("window_id") * budget - col("start_offset"), lit(0L))
          .as("seg_start"),
        least(col(tokenCol).cast("long"),
          (col("window_id") + 1) * budget - col("start_offset")).as("seg_end"))
        // carryCols ride through the explode (e.g. the BPE id array a
        // dataloader slices per segment) — no join back to the source
        ++ carryCols.map(col): _*)
}
