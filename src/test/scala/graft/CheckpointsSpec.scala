package graft

import graft.core.{Checkpoints, Metrics, Par}
import graft.operators.{Dedup, Graph, PostTraining}
import org.apache.spark.graftbridge.CleanerWatch
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Checkpoint lifetime: a checkpointed frame is its own handle
  * ([[Checkpoints.free]] releases exactly the RDD at its plan root, so
  * freeing one generation can never kill another live checkpoint's
  * blocks), iterative operators free every superseded generation, and
  * what they leave behind is reclaimed by the ContextCleaner once the
  * caller drops the result — never at the cost of a user's cache. */
class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keysIterator.toSet

  private def rootRdd(df: DataFrame) =
    df.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd

  /** Ids of the checkpoints `df`'s plan reads. */
  private def readIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }.toSet

  private def ring(n: Long): DataFrame =
    ((1L to n).map(i => (i, i % n + 1)) ++ (1L to n by 3).map(i => (i, (i + 5) % n + 1)))
      .toDF("src", "dst")

  test("eager's frame is its own persisted checkpoint, free releases it") {
    val df = Checkpoints.eager((1L to 100L).toDF("k"))
    val id = rootRdd(df).id
    assert(persisted.contains(id), s"checkpoint $id must be persisted ($persisted)")
    assert(df.count() == 100)
    Checkpoints.free(df)
    assert(!persisted.contains(id),
      "a freed checkpoint should leave the persistent-RDD registry")
  }

  test("reliable backend: eager/lazily route through Dataset.checkpoint " +
      "(survives executor loss on a real cluster), results unchanged, " +
      "and an iterative operator under it matches the local backend") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_reliable_ckpt").toString
    val localRanks = graft.operators.Graph.pageRank(
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst"),
      iterations = 6, checkpointInterval = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.conf.set("spark.graft.checkpoint.backend", "reliable")
    spark.conf.set("spark.graft.checkpoint.dir", dir)
    try {
      val df = Checkpoints.eager((1L to 100L).toDF("k"))
      assert(df.count() == 100)
      // reliable checkpoints live as FILES in the checkpoint dir —
      // free must delete them (nothing else ever does), or every
      // superseded generation leaks storage forever
      val ckptFiles = df.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }.flatMap(_.getCheckpointFile)
      assert(ckptFiles.nonEmpty, "eager(reliable) must checkpoint to files")
      Checkpoints.free(df)
      val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      assert(ckptFiles.forall(f =>
        !fs.exists(new org.apache.hadoop.fs.Path(f))),
        "free must delete a superseded reliable checkpoint's files")
      val lz = Checkpoints.lazily((1L to 30L).toDF("k"))
      assert(lz.agg(sum(col("k"))).as[Long].head() == 30L * 31 / 2)
      // an iterative operator (checkpoints per generation) is
      // hash-unchanged under the reliable backend
      val reliableRanks = graft.operators.Graph.pageRank(
        Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst"),
        iterations = 6, checkpointInterval = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(reliableRanks == localRanks,
        "backend choice changed an iterative result")
    } finally {
      spark.conf.set("spark.graft.checkpoint.backend", "local")
      spark.conf.unset("spark.graft.checkpoint.dir")
    }
  }

  test("interleaved checkpoints: freeing one leaves the other readable") {
    val a = Checkpoints.eager((1L to 50L).toDF("k"))
    val b = Checkpoints.eager((1L to 70L).toDF("k"))
    assert(rootRdd(a).id != rootRdd(b).id,
      "two checkpoints must never share a backing RDD")
    Checkpoints.free(a)
    // b's blocks must survive a's free — localCheckpoint blocks are
    // non-recomputable, so mis-attribution here would throw
    assert(b.agg(sum(col("k"))).as[Long].head() == 70L * 71 / 2)
    Checkpoints.free(b)
  }

  test("free of a frame derived from a checkpoint is a no-op: " +
      "the checkpoint stays persisted and readable") {
    val ck = Checkpoints.eager((1L to 40L).toDF("k"))
    val derived = ck.select((col("k") * 2).as("k2"))
    Checkpoints.free(derived)
    assert(persisted.contains(rootRdd(ck).id))
    assert(ck.agg(sum(col("k"))).as[Long].head() == 40L * 41 / 2)
    assert(derived.agg(sum(col("k2"))).as[Long].head() == 40L * 41)
    Checkpoints.free(ck)
  }

  test("iterative operators free every superseded generation: what they " +
      "add to the persistent RDDs is only what their output still reads") {
    val edges = ring(30)
    // K4s joined in a chain: every clique edge closes two triangles
    val cliques = (0L until 6L).flatMap { c =>
      val v = (0L until 4L).map(_ + 4 * c)
      (for (a <- v; b <- v if a < b) yield (a, b)) :+ ((4 * c + 3, 4 * c + 4))
    }.toDF("src", "dst")
    val matches = (1L to 12L).flatMap(i => Seq((i, i % 12 + 1), (i, (i + 3) % 12 + 1)))
      .toDF("w", "l")
    val chain = (1L to 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "pageRank" -> (() => Graph.pageRank(edges, iterations = 9, checkpointInterval = 2)),
      "personalizedPageRank" -> (() => Graph.personalizedPageRank(edges, Seq(1L, 7L),
        iterations = 9, checkpointInterval = 2)),
      "kCore" -> (() => Graph.kCore(edges, k = 2, rounds = 9, checkpointInterval = 2)),
      "labelPropagation" -> (() => Graph.labelPropagation(edges, rounds = 9,
        checkpointInterval = 2)),
      "kTruss" -> (() => Graph.kTruss(cliques, k = 3, rounds = 4)),
      "harmonicCentrality" -> (() => Graph.harmonicCentrality(edges, radius = 3)),
      "bradleyTerry" -> (() => PostTraining.bradleyTerry(matches, "w", "l",
        rounds = 9, checkpointInterval = 2)),
      "duplicateClusters" -> (() => Dedup.duplicateClusters(chain, maxIter = 20)))
    for ((name, op) <- ops) {
      val before = persisted
      val out = op()
      assert(out.collect().nonEmpty, name)
      val added = persisted -- before
      val reads = readIds(out)
      assert(added.nonEmpty && added.subsetOf(reads),
        s"$name left ${(added -- reads).size} checkpoints its output does not read " +
          s"(added $added, output reads $reads)")
    }
  }

  test("the harness sweep frees checkpoints only: a user cache survives " +
      "Metrics.profile of pageRank") {
    val before = persisted
    val cached = (1L to 40L).toDF("k").cache()
    try {
      assert(cached.count() == 40)
      val cacheIds = persisted -- before
      assert(cacheIds.nonEmpty, "the cache must be materialized")
      val r = Metrics.profile(spark)(
        Graph.pageRank(ring(20), iterations = 6, checkpointInterval = 2))
      assert(r.ok, s"run failed: ${r.error}")
      assert(cacheIds.subsetOf(persisted), "the sweep dropped a user cache")
      assert(!spark.sparkContext.getPersistentRDDs.values.exists(_.isCheckpointed),
        "the sweep left checkpoint blocks persisted")
      assert(cached.agg(sum(col("k"))).as[Long].head() == 40L * 41 / 2)
    } finally cached.unpersist()
  }

  test("the ContextCleaner reclaims what operators leave behind, " +
      "with no sweep, and a user cache stays cached") {
    val watch = CleanerWatch.attach(spark.sparkContext)
    val beforeCache = persisted
    val cached = (1L to 40L).toDF("k").cache()
    try {
      assert(cached.count() == 40)
      val oneFile = java.nio.file.Files.createTempDirectory("graft_reuse").toString + "/t"
      (1L to 40L).toDF("k").coalesce(1).write.parquet(oneFile)
      val baseline = persisted
      val cacheIds = baseline -- beforeCache
      // the results go out of scope when this returns
      def runOperators(): Unit = {
        val edges = ring(24)
        assert(Graph.pageRank(edges, iterations = 6, checkpointInterval = 2)
          .collect().nonEmpty)
        assert(Graph.hits(edges, iterations = 3).collect().nonEmpty)
        assert(Graph.harmonicCentrality(edges, radius = 2).collect().nonEmpty)
        // a one-file scan: below session parallelism, so it checkpoints
        val reused = Par.materializeForReuse(spark.read.parquet(oneFile), col("k"))
        assert(reused.queryExecution.analyzed.isInstanceOf[LogicalRDD],
          "materializeForReuse must checkpoint this small input")
        assert(reused.collect().length == 40)
      }
      runOperators()
      val left = persisted -- baseline
      assert(left.nonEmpty, "the operators should leave checkpoints behind")
      watch.releaseLastEvents()
      System.gc()
      val notCleaned = watch.awaitCleaned(left, timeoutMs = 60000L)
      assert(notCleaned.isEmpty, s"the ContextCleaner did not reclaim $notCleaned")
      assert((persisted -- baseline).isEmpty)
      assert(cacheIds.nonEmpty && cacheIds.subsetOf(persisted),
        "the user cache must stay cached")
      assert(cached.agg(sum(col("k"))).as[Long].head() == 40L * 41 / 2)
    } finally cached.unpersist()
  }
}
