package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.core.SnapshotTable

/** Transparent data skipping via the manifest-backed FileIndex
  * ([[graft.sources.SnapshotFileIndex]]): plain `.filter(...)` on
  * `SnapshotTable.table` must open ONLY the files whose recorded
  * sections admit the predicate — proven through the executed scan's
  * `numFiles` metric, not row counts (parquet row-group pruning hides
  * unskipped files from row-level evidence). */
class SnapshotFileIndexSpec extends SparkSpec {

  private def freshRoot(): String =
    Files.createTempDirectory("graft_snapidx_spec").toString + "/t"

  /** Files the executed plan's parquet scan actually selected. The
    * queries here are scan+filter+collect (no exchange), so AQE never
    * wraps the plan and the scan node is directly collectible. */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    val scans = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "no FileSourceScanExec in the executed plan")
    scans.map(_.metrics("numFiles").value).sum
  }

  test("range + bloom sections prune through pushed-down filters: " +
      "equality, open ranges, IN, OR — all with row-identical results") {
    val root = freshRoot()
    SnapshotTable.commit(spark, root,
      spark.range(0L, 400L).selectExpr("id as k", "md5(concat('v', id)) as v")
        .repartitionByRange(4, col("k")),
      statsCols = Seq("k"), bloomCols = Seq("k"))
    val t = SnapshotTable.table(spark, root)
    assert(scannedFiles(t) == 4L) // no filter: every file

    def check(cond: org.apache.spark.sql.Column, maxFiles: Long): Unit = {
      val pruned = t.filter(cond)
      val n = scannedFiles(pruned)
      assert(n <= maxFiles, s"expected <= $maxFiles files for $cond, " +
        s"scanned $n")
      val got = pruned.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val want = SnapshotTable.read(spark, root).filter(cond)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == want, s"pruned scan diverged for $cond")
    }
    check(col("k") === 37L, 1)
    check(col("k") === 37L && col("v").isNotNull, 1) // AND composes
    check(col("k") > 390L, 1)
    check(col("k") <= 9L, 1)
    check(col("k").between(150L, 170L), 2)
    check(col("k") === 5L || col("k") === 395L, 2) // OR unions keeps
    check(col("k").isin(5L, 205L), 2)
    // a 12-element IN converts to InSet (threshold 10) — still pruned
    check(col("k").isin(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L, 10L,
      11L, 12L), 1)
    // untranslatable predicate: every file kept, result still exact
    check(col("v").startsWith("a"), 4)
    // absent key: bloom prunes everything — zero files, empty result
    val none = t.filter(col("k") === 100000L)
    assert(scannedFiles(none) == 0L)
    assert(none.count() == 0L)
  }

  test("category sections prune string equality transparently; an " +
      "absent value scans zero files") {
    val root = freshRoot()
    SnapshotTable.commit(spark, root,
      spark.range(0L, 400L).selectExpr("id as k",
          "concat('g', id % 4) as g")
        .repartition(4, col("g")),
      categoryCols = Seq("g"))
    val t = SnapshotTable.table(spark, root)
    val total = scannedFiles(t)
    val one = t.filter(col("g") === "g2")
    val n = scannedFiles(one)
    assert(n < total, s"category pruning never engaged: $n of $total")
    assert(one.count() == 100L)
    assert(scannedFiles(t.filter(col("g") === "nope")) == 0L)
  }

  test("a live deletion vector falls back to the MOR read path — " +
      "row-identical, tombstones applied") {
    val root = freshRoot()
    SnapshotTable.commit(spark, root,
      spark.range(0L, 100L).selectExpr("id as k", "concat('v', id) as v")
        .repartitionByRange(4, col("k")), statsCols = Seq("k"))
    SnapshotTable.deleteWhereDV(spark, root, col("k") === 7L)
    val t = SnapshotTable.table(spark, root)
    assert(t.count() == 99L, "the fallback must apply the tombstones")
    assert(t.filter(col("k") === 7L).count() == 0L)
    // after compaction folds the DV, transparent pruning returns
    SnapshotTable.compactSnapshot(spark, root,
      targetFileBytes = 1L, statsCols = Seq("k"))
    assert(SnapshotTable.dvFileCount(spark, root) == 0)
    val t2 = SnapshotTable.table(spark, root)
    assert(t2.count() == 99L)
    assert(scannedFiles(t2.filter(col("k") === 50L)) <
      scannedFiles(t2))
  }

  /** The manifest lines of `root`'s version `v`, read fs-level. */
  private def manifest(root: String, v: Long): Seq[String] = {
    val in = new java.io.FileInputStream(f"$root/_manifests/v$v%09d.manifest")
    val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    txt.split("\n").map(_.trim).filter(_.nonEmpty).toSeq
  }

  private def tip(root: String): Long =
    SnapshotTable.versions(spark, root).last

  private def pathsOf(root: String, entries: Seq[String]): Seq[String] =
    entries.map(e => s"$root/${e.split('\t').head}")

  test("building read, readVersion, scanPruned and scanPrunedBloom " +
      "frames launches no Spark job, with or without a live DV") {
    val root = freshRoot()
    val v1 = SnapshotTable.commit(spark, root,
      spark.range(0L, 400L).selectExpr("id as k", "concat('v', id) as v")
        .repartitionByRange(4, col("k")),
      statsCols = Seq("k"), bloomCols = Seq("k"))
    def frames(): Seq[org.apache.spark.sql.DataFrame] = Seq(
      SnapshotTable.read(spark, root),
      SnapshotTable.readVersion(spark, root, v1),
      SnapshotTable.scanPruned(spark, root, "k", 10L, 20L)
        .filter(col("k").between(10L, 20L)),
      SnapshotTable.scanPrunedBloom(spark, root, "k", "37")
        .filter(col("k") === 37L))
    var clean = Seq.empty[org.apache.spark.sql.DataFrame]
    assert(jobsDuring { clean = frames() } == 0,
      "a DV-free snapshot read must plan without launching a job")
    assert(clean.map(_.count()) == Seq(400L, 400L, 11L, 1L))
    val (_, n, _) = SnapshotTable.deleteWhereDV(spark, root,
      col("k") % 10 === 3L)
    assert(n == 40L)
    var dv = Seq.empty[org.apache.spark.sql.DataFrame]
    assert(jobsDuring { dv = frames() } == 0,
      "a DV'd snapshot read must plan without launching a job")
    // k = 13 is tombstoned; k = 37 is not
    assert(dv.map(_.count()) == Seq(360L, 400L, 10L, 1L))
  }

  test("scan's schema is spark.read.parquet's over the same files, " +
      "nullability included: plain, live DV, evolved, size-less entries") {
    def same(root: String, entries: Seq[String]): Unit = {
      val got = SnapshotTable.scan(spark, new Path(root), entries).schema
      val want = spark.read.parquet(pathsOf(root, entries): _*).schema
      assert(got == want, s"scan schema\n$got\n!= spark.read.parquet\n$want")
    }
    // non-nullable writer columns (range ids, arrays, maps, structs)
    // exercise the nested asNullable
    val root = freshRoot()
    SnapshotTable.commit(spark, root,
      spark.range(0L, 200L).selectExpr("id as k", "cast(id as int) as i",
          "concat('v', id) as v", "array(id, id + 1) as arr",
          "map('a', id) as m", "named_struct('x', id, 'y', 'z') as st")
        .repartition(3),
      statsCols = Seq("k"))
    val plain = manifest(root, tip(root))
    same(root, plain)
    // a live DV: both the data side and the tombstone side
    SnapshotTable.deleteWhereDV(spark, root, col("k") < 5L)
    val withDv = manifest(root, tip(root))
    val (dvE, dataE) = withDv.partition(_.startsWith("_dv/"))
    assert(dvE.nonEmpty)
    same(root, dataE)
    same(root, dvE)
    // widened by evolveAddColumns (a nullable and a non-null literal)
    SnapshotTable.evolveAddColumns(spark, root,
      Seq("tag" -> lit("t"), "score" -> lit(null).cast("double")))
    val evolved = manifest(root, tip(root))
    assert(SnapshotTable.scan(spark, new Path(root), evolved).columns
      .toSeq.takeRight(2) == Seq("tag", "score"))
    same(root, evolved)
    // entries with no `!bytes` section (pre-size manifests): sizes come
    // from the filesystem, the schema is the same; published by hand so
    // the public read goes through them too
    val bare = plain.map(_.split('\t').head)
    same(root, bare)
    val v = tip(root) + 1
    Files.write(java.nio.file.Paths.get(f"$root/_manifests/v$v%09d.manifest"),
      bare.mkString("", "\n", "\n").getBytes("UTF-8"))
    assert(SnapshotTable.read(spark, root).schema ==
      spark.read.parquet(pathsOf(root, bare): _*).schema)
    assert(SnapshotTable.read(spark, root).count() == 200L)
  }

  test("deleteWhereDV's count is the tombstones it wrote") {
    val root = freshRoot()
    SnapshotTable.commit(spark, root,
      spark.range(0L, 300L).selectExpr("id as k", "id % 7 as g")
        .repartition(3))
    val (v, n, files) = SnapshotTable.deleteWhereDV(spark, root,
      col("g") === 2L)
    val dvE = manifest(root, v).filter(_.startsWith("_dv/"))
    assert(files == dvE.size && files > 0)
    assert(n == spark.read.parquet(pathsOf(root, dvE): _*).count())
    assert(n == 43L && SnapshotTable.read(spark, root).count() == 257L)
    // nothing matched: no commit, zero count
    assert(SnapshotTable.deleteWhereDV(spark, root, col("g") === 99L) ==
      ((v, 0L, 0)))
  }
}
