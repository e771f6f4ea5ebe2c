package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.PartitionPruningRDD
import org.apache.spark.sql.{DataFrame, Row, classic}
import org.apache.spark.sql.catalyst.analysis.{AnsiTypeCoercion, TypeCoercion}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.DataType

/** A frame over the RDD another frame's plan executes to, so several
  * frames can read one shuffle: `Dataset.checkpoint`'s construction
  * without its checkpoint. Both steps live behind `private[sql]`.
  */
object SharedScans {

  /** `df`'s plan prepared and turned into its RDD under one SQL
    * execution named `name` (as `Dataset.checkpoint` does), wrapped once
    * per slice of that RDD's partitions: each frame reads only its
    * slice, and computes nothing for the others. The frames keep `df`'s
    * output and claim no partitioning. Nothing is persisted; the RDD
    * keeps its lineage. Every frame shares the plan's shuffle
    * dependencies, so only the first job to need a map stage runs it.
    * With adaptive execution on, preparing the RDD runs every map stage
    * of the plan here, in that execution; with it off, no job runs
    * until the first action. When the slices do not cover exactly the
    * RDD's partitions (adaptive execution coalesced them), every frame
    * reads the whole RDD. */
  def relations(df: DataFrame, name: String, slices: Seq[Range]): Seq[DataFrame] = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val session = ds.sparkSession
    val qe = ds.queryExecution
    val rdd = SQLExecution.withNewExecutionId(qe, Some(name))(qe.toRdd)
    val exact = slices.flatten.sorted == (0 until rdd.getNumPartitions)
    val stats = Statistics(qe.optimizedPlan.stats.sizeInBytes)
    slices.map { slice =>
      val part = if (exact) PartitionPruningRDD.create(rdd, slice.contains) else rdd
      classic.Dataset.ofRows(session, LogicalRDD(ds.logicalPlan.output, part,
        UnknownPartitioning(0), Nil, isStreaming = false)(session, Some(stats)))
    }
  }

  /** The type a union resolves for one column from its children's
    * types, under the session's ANSI setting: the analyzer's
    * `WidenSetOperationTypes` widening. None when no type holds them all. */
  def unionType(types: Seq[DataType]): Option[DataType] =
    if (SQLConf.get.ansiEnabled) AnsiTypeCoercion.findWiderCommonType(types)
    else TypeCoercion.findWiderCommonType(types)
}
