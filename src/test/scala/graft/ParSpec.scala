package graft

import org.apache.spark.sql.functions._

/** Focused tests for [[graft.core.Par.spreadForCpu]] — the round-17
  * small-scan spread. The contract under test: fires only below the
  * parallelism threshold, is disableable, is a HASH repartition on the
  * given key, and never changes row multisets. */
class ParSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("spreadForCpu: unsplittable one-file scan estimates few slices " +
      "and spreads to session parallelism by hash") {
    val docs = graft.core.Tables.documents(spark, dir)
    assert(graft.core.Par.estimatedInputSlices(docs) <
      spark.sparkContext.defaultParallelism,
      "the one-file fixture must estimate below parallelism")
    val spread = graft.core.Par.spreadForCpu(docs, col("doc_id"))
    val plan = spread.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("REPARTITION_BY_NUM"),
      s"expected an explicit hash repartition in:\n$plan")
    assert(!plan.contains("ROUND_ROBIN"),
      "spread must be hash, never round-robin (retry determinism + " +
        "no sortBeforeRepartition local sort)")
    // row multiset unchanged
    assert(spread.count() == docs.count())
  }

  test("spreadForCpu: no-op when the estimate reaches parallelism " +
      "(the at-scale shape) and when disabled by conf") {
    val docs = graft.core.Tables.documents(spark, dir)
    // shrink maxPartitionBytes so the same file estimates many slices —
    // the production posture where the spread must vanish
    val old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    try {
      assert(graft.core.Par.estimatedInputSlices(docs) >=
        spark.sparkContext.defaultParallelism)
      val p = graft.core.Par.spreadForCpu(docs, col("doc_id"))
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      assert(!p.contains("REPARTITION_BY_NUM"),
        s"spread must be a no-op at scale:\n$p")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    spark.conf.set("spark.graft.spread.enabled", "false")
    try {
      val p = graft.core.Par.spreadForCpu(docs, col("doc_id"))
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      assert(!p.contains("REPARTITION_BY_NUM"),
        s"spread must respect the disable conf:\n$p")
    } finally spark.conf.set("spark.graft.spread.enabled", "true")
  }

  test("spreadForCpu: checkpointed (LogicalRDD) inputs count their " +
      "real partitions — an already-parallel intermediate is not re-spread") {
    val docs = graft.core.Tables.documents(spark, dir)
      .select("doc_id", "n_chars")
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
    val ck = graft.core.Checkpoints.eager(docs)
    try {
      assert(graft.core.Par.estimatedInputSlices(ck) >=
        spark.sparkContext.defaultParallelism)
      val p = graft.core.Par.spreadForCpu(ck, col("doc_id"))
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      assert(!p.contains("REPARTITION_BY_NUM"),
        s"already-parallel checkpoint must not re-spread:\n$p")
    } finally graft.core.Checkpoints.free(ck)
  }
}
