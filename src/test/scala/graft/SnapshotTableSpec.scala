package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.core.SnapshotTable

class SnapshotTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_snap_spec").toString + "/t"

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.select(col("k").cast("long"), col("v").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("commit/read/versions: full snapshots replace; time travel " +
      "within the retained window; an empty commit stays readable") {
    val root = freshRoot()
    val v1 = SnapshotTable.commit(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val v2 = SnapshotTable.commit(spark, root,
      Seq((1L, "a2"), (3L, "c")).toDF("k", "v"))
    assert(v1 == 1L && v2 == 2L)
    assert(SnapshotTable.versions(spark, root) == Seq(1L, 2L))
    assert(rows(SnapshotTable.read(spark, root)) ==
      Set((1L, "a2"), (3L, "c")))
    assert(rows(SnapshotTable.readVersion(spark, root, 1)) ==
      Set((1L, "a"), (2L, "b")))
    // an empty DataFrame commits as a schema-only snapshot (Spark
    // writes a zero-row part file) — a legal state that must read
    // back as 0 rows WITH schema, never as "no table"
    val v3 = SnapshotTable.commit(spark, root,
      Seq.empty[(Long, String)].toDF("k", "v"))
    assert(v3 == 3L && SnapshotTable.read(spark, root).count() == 0L)
    assert(SnapshotTable.read(spark, root).columns.toSeq == Seq("k", "v"))
  }

  test("append is manifest-only: version N+1 references version N's " +
      "data files verbatim, nothing is rewritten") {
    val root = freshRoot()
    SnapshotTable.commit(spark, root, Seq((1L, "a")).toDF("k", "v"))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataBefore = fs.listStatus(new Path(root, "data")).map(_.getPath.getName).toSet
    SnapshotTable.append(spark, root, Seq((2L, "b")).toDF("k", "v"))
    val dataAfter = fs.listStatus(new Path(root, "data")).map(_.getPath.getName).toSet
    // the old commit's nonce directory survives untouched and one new
    // nonce directory appears — the append wrote only its own rows
    assert(dataBefore.subsetOf(dataAfter) && dataAfter.size == dataBefore.size + 1)
    assert(rows(SnapshotTable.read(spark, root)) == Set((1L, "a"), (2L, "b")))
    // appending a DIFFERENT schema is refused loudly: one manifest
    // mixing file schemas would read nondeterministically
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.append(spark, root,
        Seq((3L, "c", 9L)).toDF("k", "v", "extra"))
    }
    assert(e.getMessage.contains("schema mismatch"))
  }

  test("read-under-commit isolation: a reader pinned at snapshot N " +
      "returns exactly N while commits N+1.. land") {
    val root = freshRoot()
    SnapshotTable.commit(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val pinned = SnapshotTable.read(spark, root) // file list pinned HERE
    SnapshotTable.commit(spark, root, Seq((1L, "CHANGED")).toDF("k", "v"))
    SnapshotTable.commit(spark, root, Seq((9L, "z")).toDF("k", "v"))
    // the pinned plan still reads snapshot 1's immutable files
    assert(rows(pinned) == Set((1L, "a"), (2L, "b")))
    assert(rows(SnapshotTable.read(spark, root)) == Set((9L, "z")))
  }

  test("crash mid-commit is invisible: orphan data files and a temp " +
      "manifest never change what readers see; vacuum reclaims them") {
    val root = freshRoot()
    SnapshotTable.commit(spark, root, Seq((1L, "a")).toDF("k", "v"))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a committer that died between writing data files and the
    // manifest rename: unreferenced data dir + an un-renamed temp manifest
    val orphan = new Path(root, "data/deadbeef0000")
    fs.mkdirs(orphan)
    val f = fs.create(new Path(orphan, "part-00000.parquet"), true)
    f.write(Array[Byte](1, 2, 3)); f.close()
    val tmp = fs.create(new Path(root, "_manifests/.tmp-deadbeef0000"), true)
    tmp.write("data/deadbeef0000/part-00000.parquet\n".getBytes); tmp.close()
    // readers: current version and content are untouched
    assert(SnapshotTable.versions(spark, root) == Seq(1L))
    assert(rows(SnapshotTable.read(spark, root)) == Set((1L, "a")))
    // default grace shields the fresh-looking orphan (it is
    // indistinguishable from an in-flight commit's pre-publish data);
    // past the grace, vacuum reclaims it
    val (mDel0, dDel0) = SnapshotTable.vacuum(spark, root, keepVersions = 2)
    assert(mDel0 == 0 && dDel0 == 0 && fs.exists(orphan),
      "a fresh unreferenced data dir must survive the default grace")
    val (mDel, dDel) = SnapshotTable.vacuum(spark, root, keepVersions = 2,
      stagingGraceMs = 0L)
    assert(mDel == 0 && dDel == 1)
    assert(!fs.exists(orphan) &&
      !fs.exists(new Path(root, "_manifests/.tmp-deadbeef0000")))
    assert(rows(SnapshotTable.read(spark, root)) == Set((1L, "a")))
  }

  test("vacuum trims history to keepVersions: old manifests AND their " +
      "now-unreferenced data go; pinned-in-window reads survive") {
    val root = freshRoot()
    SnapshotTable.commit(spark, root, Seq((1L, "a")).toDF("k", "v"))
    SnapshotTable.commit(spark, root, Seq((2L, "b")).toDF("k", "v"))
    SnapshotTable.commit(spark, root, Seq((3L, "c")).toDF("k", "v"))
    val (mDel, dDel) = SnapshotTable.vacuum(spark, root, keepVersions = 2,
      stagingGraceMs = 0L)
    assert(mDel == 1 && dDel == 1)
    assert(SnapshotTable.versions(spark, root) == Seq(2L, 3L))
    assert(rows(SnapshotTable.readVersion(spark, root, 2)) == Set((2L, "b")))
    val e = intercept[IllegalStateException] {
      SnapshotTable.readVersion(spark, root, 1)
    }
    assert(e.getMessage.contains("vacuumed") ||
      e.getMessage.contains("no committed manifest"))
  }

  test("upsertCycle: last-writer-wins across cycles, tieBreak within; " +
      "re-delivery publishes a new version with IDENTICAL content") {
    val root = freshRoot()
    // cycle 1: keys 1, 2 (key 1 has two rows; min tie-break survives)
    SnapshotTable.upsertCycle(
      Seq((1L, 10L, "c1-e10"), (1L, 11L, "c1-e11"), (2L, 20L, "c1-e20"))
        .toDF("k", "eid", "payload"),
      root, Seq("k"), Seq(col("eid")))
    // cycle 2: key 1 updated, key 3 new; key 2 untouched
    SnapshotTable.upsertCycle(
      Seq((1L, 30L, "c2-e30"), (3L, 31L, "c2-e31"))
        .toDF("k", "eid", "payload"),
      root, Seq("k"), Seq(col("eid")))
    def table(): Set[(Long, Long, String)] =
      SnapshotTable.read(spark, root).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val expected = Set((1L, 30L, "c2-e30"), (2L, 20L, "c1-e20"),
      (3L, 31L, "c2-e31"))
    assert(table() == expected)
    val vBefore = SnapshotTable.versions(spark, root).max
    // at-least-once replay of the final cycle: content must not move
    SnapshotTable.upsertCycle(
      Seq((1L, 30L, "c2-e30"), (3L, 31L, "c2-e31"))
        .toDF("k", "eid", "payload"),
      root, Seq("k"), Seq(col("eid")))
    assert(table() == expected)
    assert(SnapshotTable.versions(spark, root).max == vBefore + 1)
    // a single cycle on an empty table resolves its own duplicates:
    // the tieBreak winner is the key's only row
    val first = freshRoot()
    SnapshotTable.upsertCycle(
      Seq((1L, 11L, "e11"), (1L, 10L, "e10"), (2L, 20L, "e20"))
        .toDF("k", "eid", "payload"),
      first, Seq("k"), Seq(col("eid")))
    assert(SnapshotTable.read(spark, first).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet ==
      Set((1L, 10L, "e10"), (2L, 20L, "e20")))
  }

  test("scanPruned bounds are INCLUSIVE on both ends: probes at a " +
      "file's exact min/max keep it, one past drop it") {
    val root = freshRoot()
    // two files with deterministic stats: k in [0,9] and [10,19]
    SnapshotTable.commit(spark, root,
      spark.range(10).selectExpr("id as k").coalesce(1),
      statsCols = Seq("k"))
    SnapshotTable.append(spark, root,
      spark.range(10, 20).selectExpr("id as k").coalesce(1),
      statsCols = Seq("k"))
    def kept(lo: Long, hi: Long): Int =
      SnapshotTable.pruneCounts(spark, root, "k", lo, hi)._2
    assert(kept(9, 10) == 2)   // touches file 1's max AND file 2's min
    assert(kept(9, 9) == 1)    // exactly file 1's max
    assert(kept(10, 15) == 1)  // strictly inside file 2
    assert(kept(20, 99) == 0)  // one past file 2's max
    assert(kept(-5, -1) == 0)  // below file 1's min
    // and the kept==0 read is an empty frame, not an error
    assert(SnapshotTable.scanPruned(spark, root, "k", 20L, 99L).count() == 0L)
  }

  test("category stats + scanPrunedEq: an equality probe opens only " +
      "files recording the value; over-cap columns never prune; " +
      "values round-trip through URL encoding") {
    val root = freshRoot()
    // 60 rows over 6 categories, clustered so each of 3 files holds 2
    val df = spark.range(60)
      .selectExpr("id as k", "concat('grp,|#', id % 6) as c")
      .repartition(3, col("c"))
    SnapshotTable.commit(spark, root, df, categoryCols = Seq("c"))
    val (total, kept) = SnapshotTable.pruneCountsEq(spark, root, "c", "grp,|#2")
    assert(total == 3 && kept < total && kept >= 1, s"kept $kept of $total")
    val rows = SnapshotTable.scanPrunedEq(spark, root, "c", "grp,|#2")
      .filter(col("c") === "grp,|#2").collect().map(_.getLong(0)).toSet
    assert(rows == (0L until 60L).filter(_ % 6 == 2).toSet)
    // a value absent everywhere prunes ALL files but stays readable
    assert(SnapshotTable.scanPrunedEq(spark, root, "c", "nope").count() == 0L)
    // over-cap: > CategoryCap distinct values in one file -> no
    // section -> the file is never pruned on that column
    val root2 = freshRoot()
    SnapshotTable.commit(spark, root2,
      spark.range(100).selectExpr("id as k", "concat('v', id) as c")
        .coalesce(1),
      categoryCols = Seq("c"))
    val (t2, k2) = SnapshotTable.pruneCountsEq(spark, root2, "c", "nope")
    assert(t2 == 1 && k2 == 1, s"over-cap file must never prune: $k2/$t2")
  }

  test("commitZOrdered: both dimensions prune — a range predicate on " +
      "EITHER column skips files") {
    val root = freshRoot()
    // 4096 points on a 64x64 grid; 16 z-ordered files = 16x16 tiles
    val grid = spark.range(4096)
      .selectExpr("id % 64 as x", "id div 64 as y", "id as payload")
    SnapshotTable.commitZOrdered(spark, root, grid, "x", "y", nFiles = 16)
    val (tx, kx) = SnapshotTable.pruneCounts(spark, root, "x", 0L, 7L)
    val (ty, ky) = SnapshotTable.pruneCounts(spark, root, "y", 0L, 7L)
    assert(tx == 16 && kx < tx, s"x: kept $kx of $tx")
    assert(ty == 16 && ky < ty, s"y: kept $ky of $ty")
    // and the pruned scans lose nothing
    val xs = SnapshotTable.scanPruned(spark, root, "x", 0L, 7L)
      .filter(col("x") <= 7).count()
    assert(xs == 8 * 64, s"x rows $xs")
    val ys = SnapshotTable.scanPruned(spark, root, "y", 0L, 7L)
      .filter(col("y") <= 7).count()
    assert(ys == 64 * 8, s"y rows $ys")
  }

  test("compactSnapshot: the rewrite is just another version — rows " +
      "identical, fewer files, pinned readers unaffected; no-op when " +
      "already compact") {
    val root = freshRoot()
    // 8 tiny files via round-robin repartition
    SnapshotTable.commit(spark, root,
      spark.range(64).selectExpr("id as k", "id as v").repartition(8))
    val fragmented = SnapshotTable.read(spark, root) // pinned on v1
    val v = SnapshotTable.compactSnapshot(spark, root,
      targetFileBytes = Long.MaxValue) // everything fits one file
    assert(v.map(_._1).contains(2L))
    // binpack accounting: all 8 under-threshold files rewrote, none
    // was fat enough to keep
    assert(v.map(v3 => (v3._2, v3._3)).contains((8, 0)))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // compacted version lists exactly one data file
    val files2 = SnapshotTable.readVersion(spark, root, 2L)
      .select(input_file_name()).distinct().count()
    assert(files2 == 1L, s"expected 1 compacted file, got $files2")
    assert(SnapshotTable.readVersion(spark, root, 2L)
      .collect().map(_.getLong(0)).sorted.toSeq == (0L until 64L))
    // the pinned fragmented reader still reads its 8 files
    assert(fragmented.select(input_file_name()).distinct().count() == 8L)
    // compacting the compacted table is a no-op
    assert(SnapshotTable.compactSnapshot(spark, root,
      targetFileBytes = Long.MaxValue).isEmpty)
    assert(fs.exists(new Path(root, "_manifests/v000000002.manifest")))
  }

  test("manifest stats + scanPruned: a range predicate opens only the " +
      "files that can match; stat-less entries are never pruned") {
    val root = freshRoot()
    // 4 range-disjoint files on k: [0..24][25..49][50..74][75..99]
    val df = spark.range(100).selectExpr("id as k", "id * 2 as v")
      .repartitionByRange(4, col("k"))
    SnapshotTable.commit(spark, root, df, statsCols = Seq("k"))
    // range-partition cut points are sampling-derived, so pin the
    // PROPERTY (a mid-range predicate skips at least one file), not
    // the exact split
    val (total, kept) = SnapshotTable.pruneCounts(spark, root, "k", 30L, 60L)
    assert(total == 4 && kept < total && kept >= 1, s"total $total kept $kept")
    // pruned scan + the real row filter == the full-table filter
    val pruned = SnapshotTable.scanPruned(spark, root, "k", 30L, 60L)
      .filter(col("k").between(30, 60)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pruned == (30L to 60L).map(k => (k, k * 2)).toSet)
    // an out-of-range predicate prunes everything but stays readable
    // (schema-only empty result, not an error)
    assert(SnapshotTable.scanPruned(spark, root, "k", 1000L, 2000L)
      .count() == 0L)
    // append WITHOUT stats: the new entries are never pruned (superset
    // guarantee), the old entries keep pruning
    SnapshotTable.append(spark, root,
      Seq((500L, 0L)).toDF("k", "v"))
    val (t2, k2) = SnapshotTable.pruneCounts(spark, root, "k", 30L, 60L)
    assert(t2 == 5 && k2 == kept + 1, s"t2 $t2 k2 $k2") // stat-kept + 1 stat-less
    val withNew = SnapshotTable.scanPruned(spark, root, "k", 400L, 600L)
      .filter(col("k").between(400, 600)).collect()
    assert(withNew.map(_.getLong(0)).toSeq == Seq(500L))
  }

  test("diff: keyed insert/update/delete changelog between versions; " +
      "identical keys emit nothing; null-safe column compare") {
    val root = freshRoot()
    SnapshotTable.commit(spark, root,
      Seq((1L, Some("a"), 10L), (2L, None, 20L), (3L, Some("c"), 30L),
        (4L, Some("d"), 40L)).toDF("k", "v", "n"))
    SnapshotTable.commit(spark, root,
      Seq((2L, None, 20L),          // unchanged (null-safe: None == None)
        (3L, Some("c2"), 30L),      // update (v changed)
        (4L, Some("d"), 41L),       // update (n changed)
        (5L, None, 50L)).toDF("k", "v", "n")) // insert (null value col)
    val d = SnapshotTable.diff(spark, root, 1L, 2L, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)), r.getLong(3))).toSet
    assert(d == Set(
      (1L, "delete", Some("a"), 10L),  // carries last-seen values
      (3L, "update", Some("c2"), 30L), // carries NEW values
      (4L, "update", Some("d"), 41L),
      (5L, "insert", None, 50L)))
    // schema drift between the diffed pair is refused loudly
    SnapshotTable.commit(spark, root,
      Seq((1L, "x")).toDF("k", "v"))
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.diff(spark, root, 2L, 3L, Seq("k"))
    }
    assert(e.getMessage.contains("schema changed"))
  }

  test("changesSince: ordered changelog across retained steps; a key " +
      "updated twice appears per step; caught-up is empty; behind-" +
      "vacuum is loud") {
    val root = freshRoot()
    SnapshotTable.commit(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    SnapshotTable.commit(spark, root, Seq((1L, "a2"), (3L, "c")).toDF("k", "v"))
    SnapshotTable.commit(spark, root, Seq((1L, "a3"), (3L, "c")).toDF("k", "v"))
    val got = SnapshotTable.changesSince(spark, root, 1L, Seq("k"))
      .collect().map(r => (r.getLong(3), r.getLong(0), r.getString(1),
        r.getString(2))).toSet
    assert(got == Set(
      (2L, 1L, "update", "a2"), (2L, 2L, "delete", "b"),
      (2L, 3L, "insert", "c"),
      (3L, 1L, "update", "a3")), s"got $got")
    // caught up: empty with the changelog schema
    val up = SnapshotTable.changesSince(spark, root, 3L, Seq("k"))
    assert(up.count() == 0L &&
      up.columns.toSeq == Seq("k", "change", "v", "version"))
    // a consumer behind the vacuum horizon must re-bootstrap, loudly
    SnapshotTable.vacuum(spark, root, keepVersions = 2)
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.changesSince(spark, root, 1L, Seq("k"))
    }
    assert(e.getMessage.contains("retained window"))
    // inside the window it still works
    assert(SnapshotTable.changesSince(spark, root, 2L, Seq("k"))
      .count() == 1L)
  }

  test("changelog algebra: applying changesSince(1) as ordered patches " +
      "to snapshot 1 reconstructs the current snapshot exactly " +
      "(seeded-random upsert cycles)") {
    val root = freshRoot()
    // deterministic pseudo-random cycles over a 30-key space
    def mix(z0: Long): Long = {
      var z = z0 * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z ^ (z >>> 31)
    }
    def cycle(c: Long) = (0L until 30L)
      .filter(k => (mix(c * 100 + k) & 3) != 0) // ~3/4 of keys per cycle
      .map(k => (k, s"v${mix(c * 31 + k) & 0xFF}"))
    SnapshotTable.commit(spark, root, cycle(1).toDF("k", "v"))
    for (c <- 2L to 4L)
      SnapshotTable.upsertCycle(cycle(c).toDF("k", "v"), root, Seq("k"))
    // replay: fold the ordered changelog over snapshot 1 driver-side
    val base = SnapshotTable.readVersion(spark, root, 1L).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val patches = SnapshotTable.changesSince(spark, root, 1L, Seq("k"))
      .collect()
      .map(r => (r.getLong(3), r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    val rebuilt = patches.foldLeft(base) { case (st, (_, k, change, v)) =>
      if (change == "delete") st - k else st + (k -> v)
    }
    val current = SnapshotTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rebuilt == current, s"rebuilt ${rebuilt.size} keys, " +
      s"current ${current.size}")
    assert(patches.nonEmpty && current.size >= 25) // non-vacuous
  }

  test("commit race: two concurrent writers interleave and every " +
      "commit lands at a distinct version with intact content " +
      "(exclusive lock claims make version sharing impossible)") {
    val root = freshRoot()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    def writer(tag: String) = scala.concurrent.Future {
      (1 to 4).map { i =>
        SnapshotTable.commit(spark, root,
          Seq((i.toLong, tag)).toDF("k", "v"))
      }
    }
    val va = writer("a"); val vb = writer("b")
    val all = scala.concurrent.Await.result(va,
        scala.concurrent.duration.Duration(180, "s")) ++
      scala.concurrent.Await.result(vb,
        scala.concurrent.duration.Duration(180, "s"))
    pool.shutdown()
    // 8 commits -> versions 1..8, no version shared, none lost
    assert(all.toSet == (1L to 8L).toSet, s"got versions $all")
    assert(SnapshotTable.versions(spark, root) == (1L to 8L))
    // every version's manifest points at intact single-writer content
    val seen = (1L to 8L).map { v =>
      val rows = SnapshotTable.readVersion(spark, root, v).collect()
      assert(rows.length == 1, s"v$v torn: ${rows.length} rows")
      rows.head.getString(1)
    }
    assert(seen.count(_ == "a") == 4 && seen.count(_ == "b") == 4)
  }

  test("version claims on the local filesystem are exclusive: two " +
      "claimers that both saw the lock absent get one claim between them") {
    val rootP = new Path(freshRoot())
    // a local FS whose exists() holds each lock probe until both
    // claimers have probed — both pass Hadoop's exists-then-create
    // check before either creates the lock
    val bothProbed = new java.util.concurrent.CyclicBarrier(2)
    val fs = new org.apache.hadoop.fs.RawLocalFileSystem {
      override def exists(p: Path): Boolean = {
        val found = super.exists(p)
        if (p.getName.endsWith(".lock"))
          bothProbed.await(60, java.util.concurrent.TimeUnit.SECONDS)
        found
      }
    }
    fs.initialize(java.net.URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(rootP, "_manifests"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val claims = Seq.fill(2)(scala.concurrent.Future(
        SnapshotTable.claimVersion(fs, rootP, 1L)))
      val won = claims.map(scala.concurrent.Await.result(_,
        scala.concurrent.duration.Duration(120, "s")))
      assert(won.count(identity) == 1, s"claims won: $won")
    } finally pool.shutdownNow()
  }

  test("streaming upsertSink on the snapshot layout: micro-batches " +
      "commit versions; the final table matches the batch merge") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = freshRoot()
    val ckpt = Files.createTempDirectory("graft_snap_ckpt").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String)]
    val q = SnapshotTable.upsertSink(
      input.toDF().toDF("k", "eid", "payload"), root, ckpt,
      Seq("k"), Seq(col("eid")))
    try {
      input.addData(Seq((1L, 10L, "b0"), (2L, 20L, "b0")))
      q.processAllAvailable()
      input.addData(Seq((1L, 30L, "b1"), (3L, 31L, "b1")))
      q.processAllAvailable()
    } finally q.stop()
    val got = SnapshotTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == Set((1L, 30L, "b1"), (2L, 20L, "b0"), (3L, 31L, "b1")))
    assert(SnapshotTable.versions(spark, root) == Seq(1L, 2L))
  }

  test("upsertSink compactEvery: the sink compacts its own fragments " +
      "on cadence, a tracked compaction records an EMPTY feed step so " +
      "the CDC chain stays gap-free, and the content is untouched") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = freshRoot()
    val ckpt = Files.createTempDirectory("graft_snap_ckptc").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String)]
    val q = SnapshotTable.upsertSink(
      input.toDF().toDF("k", "eid", "payload"), root, ckpt,
      Seq("k"), Seq(col("eid")), trackChanges = true, compactEvery = 2)
    try {
      // four triggers with disjoint keys: every upsert appends files,
      // batches 2 and 4 are followed by an inline binpack pass
      for (b <- 0L until 4L) {
        input.addData(Seq((b * 2, 10L + b, s"b$b"), (b * 2 + 1, 20L + b, s"b$b")))
        q.processAllAvailable()
      }
    } finally q.stop()
    // versions: 4 upserts + 2 compaction commits = 6
    assert(SnapshotTable.versions(spark, root).size == 6,
      s"expected 6 versions, got ${SnapshotTable.versions(spark, root)}")
    // the table compacted: the tip references fewer files than the
    // 4-upsert accumulation would have
    assert(SnapshotTable.dataFiles(spark, root).size <
      SnapshotTable.history(spark, root)
        .orderBy(col("version")).select("n_files").collect()
        .map(_.getInt(0)).max,
      "compaction never reduced the file count")
    val got = SnapshotTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet
    assert(got == (0L until 8L).map(k => (k, s"b${k / 2}")).toSet)
    // CDC chain gap-free across the compaction commits, and the
    // compaction steps are EMPTY (no row ever changed by them)
    val feed = SnapshotTable.readChanges(spark, root, 0L)
    assert(feed.filter(col("change") =!= "insert").count() == 0L)
    assert(feed.count() == 8L,
      "compaction feed steps must be empty; upserts exactly 8 inserts")
  }

  test("exclusive version claims: a foreign (crashed) claim is SKIPPED, " +
      "never shared or wedged over — the commit lands at the next free " +
      "number and the hole stays harmless") {
    val root = freshRoot()
    SnapshotTable.commit(spark, root, Seq((1L, "a")).toDF("k", "v"))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // forge the TOCTOU scenario the old verify-retry could lose: a
    // second committer claimed v2 (and, say, crashed before renaming)
    fs.create(new Path(root, "_manifests/v000000002.lock"), false).close()
    val v = SnapshotTable.commit(spark, root, Seq((2L, "b")).toDF("k", "v"))
    assert(v == 3L, s"expected the claimed number to be skipped, got v$v")
    // readers resolve through the hole; v2 simply never existed
    assert(SnapshotTable.versions(spark, root) == Seq(1L, 3L))
    assert(rows(SnapshotTable.read(spark, root)) == Set((2L, "b")))
    // vacuum keeps claims ABOVE the tip (live or crashed committers)
    // and reclaims spent locks at/below it
    fs.create(new Path(root, "_manifests/v000000009.lock"), false).close()
    SnapshotTable.vacuum(spark, root, keepVersions = 1)
    assert(fs.exists(new Path(root, "_manifests/v000000009.lock")))
    assert(!fs.exists(new Path(root, "_manifests/v000000002.lock")))
  }

  test("validated cycles serialize: two concurrent upsertCyclers rebase " +
      "instead of losing the earlier merge — zero lost rows and a " +
      "gap-free version sequence") {
    val root = freshRoot()
    SnapshotTable.commit(spark, root, Seq((0L, "base")).toDF("k", "v"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    def cycler(tag: String, ks: Range) = scala.concurrent.Future {
      ks.foreach { i =>
        SnapshotTable.upsertCycle(
          Seq((i.toLong, tag)).toDF("k", "v"), root, Seq("k"))
      }
    }
    val fa = cycler("a", 1 to 5); val fb = cycler("b", 11 to 15)
    scala.concurrent.Await.result(fa,
      scala.concurrent.duration.Duration(300, "s"))
    scala.concurrent.Await.result(fb,
      scala.concurrent.duration.Duration(300, "s"))
    pool.shutdown()
    // the lost-update shape this protocol closes: pre-validation, a
    // cycler merging against a stale base would drop the other's keys
    val want = Set(0L -> "base") ++
      (1 to 5).map(i => i.toLong -> "a") ++
      (11 to 15).map(i => i.toLong -> "b")
    assert(rows(SnapshotTable.read(spark, root)) == want,
      "a concurrent cycler's merge was lost")
    // validated publishes land at exactly base+1: no version holes
    assert(SnapshotTable.versions(spark, root) == (1L to 11L))
  }

  test("a crashed claim at base+1 wedges validated cycles LOUDLY with " +
      "remediation, never as a silent skip; an unvalidated commit can " +
      "skip past the hole and cycles then resume") {
    val root = freshRoot()
    SnapshotTable.commit(spark, root, Seq((1L, "a")).toDF("k", "v"))
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // forge a committer that claimed v2 and crashed before renaming
    fs.create(new Path(root, "_manifests/v000000002.lock"), false).close()
    val e = intercept[RuntimeException] {
      SnapshotTable.upsertCycle(
        Seq((2L, "b")).toDF("k", "v"), root, Seq("k"))
    }
    assert(e.getMessage.contains("no manifest appeared"),
      s"wrong failure: ${e.getMessage}")
    // the documented escape hatch: an unvalidated commit skips the
    // hole, and the next validated cycle proceeds from the new tip
    SnapshotTable.commit(spark, root, Seq((1L, "a")).toDF("k", "v"))
    val v = SnapshotTable.upsertCycle(
      Seq((2L, "b")).toDF("k", "v"), root, Seq("k"))
    assert(v == 4L && rows(SnapshotTable.read(spark, root)) ==
      Set((1L, "a"), (2L, "b")))
  }

  test("concurrent appends both survive into the tip: the manifest " +
      "union is a read-modify-write, so appends validate and rebase " +
      "like cycles") {
    val root = freshRoot()
    SnapshotTable.commit(spark, root, Seq((0L, "base")).toDF("k", "v"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    def appender(tag: String, ks: Range) = scala.concurrent.Future {
      ks.foreach { i =>
        SnapshotTable.append(spark, root,
          Seq((i.toLong, tag)).toDF("k", "v"))
      }
    }
    val fa = appender("a", 1 to 4); val fb = appender("b", 11 to 14)
    scala.concurrent.Await.result(fa,
      scala.concurrent.duration.Duration(300, "s"))
    scala.concurrent.Await.result(fb,
      scala.concurrent.duration.Duration(300, "s"))
    pool.shutdown()
    val want = Set(0L -> "base") ++
      (1 to 4).map(i => i.toLong -> "a") ++
      (11 to 14).map(i => i.toLong -> "b")
    assert(rows(SnapshotTable.read(spark, root)) == want,
      "a concurrent append's files were dropped from the tip")
    assert(SnapshotTable.versions(spark, root) == (1L to 9L))
  }

  test("append refuses a same-named column of a DIFFERENT type — the " +
      "mixed-schema manifest a name-only check would let through") {
    val root = freshRoot()
    SnapshotTable.commit(spark, root, Seq((1L, "a")).toDF("k", "v"))
    val e = intercept[IllegalArgumentException] {
      // same column NAMES, but k is now a string: reads would depend
      // on which file Spark samples for the schema
      SnapshotTable.append(spark, root, Seq(("1", "b")).toDF("k", "v"))
    }
    assert(e.getMessage.contains("schema mismatch") &&
      e.getMessage.contains("k:"))
  }

  test("vacuum staging grace: a FRESH staging entry (a live committer's " +
      "in-flight write) survives the sweep; an aged orphan is reclaimed") {
    val root = freshRoot()
    SnapshotTable.commit(spark, root, Seq((1L, "a")).toDF("k", "v"))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fresh = new Path(root, "_staging/live-commit")
    val aged = new Path(root, "_staging/crashed-long-ago")
    fs.mkdirs(fresh); fs.mkdirs(aged)
    // age the orphan past the grace window (2 days back)
    fs.setTimes(aged, System.currentTimeMillis() - 48L * 3600 * 1000, -1)
    SnapshotTable.vacuum(spark, root, keepVersions = 2)
    assert(fs.exists(fresh), "a fresh in-flight staging write was reclaimed")
    assert(!fs.exists(aged), "an aged staging orphan survived vacuum")
    // grace 0 = the old unconditional sweep, explicitly opted into
    SnapshotTable.vacuum(spark, root, keepVersions = 2, stagingGraceMs = 0L)
    assert(!fs.exists(fresh))
  }

  test("evolveAddColumns: the migration commit materializes the default " +
      "into every old row, old versions keep the narrow schema, and the " +
      "old-schema append refusal flips to the NEW schema") {
    val root = freshRoot()
    SnapshotTable.commit(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val v2 = SnapshotTable.evolveAddColumns(spark, root,
      Seq("src" -> lit("legacy")))
    assert(v2 == 2L)
    val cur = SnapshotTable.read(spark, root)
      .select(col("k").cast("long"), col("v"), col("src"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(cur == Set((1L, "a", "legacy"), (2L, "b", "legacy")))
    // time travel untouched
    assert(SnapshotTable.readVersion(spark, root, 1L).columns.sorted
      .sameElements(Array("k", "v")))
    // the OLD (narrow) schema is now the one append refuses
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.append(spark, root, Seq((3L, "c")).toDF("k", "v"))
    }
    assert(e.getMessage.contains("schema mismatch"))
    SnapshotTable.append(spark, root,
      Seq((3L, "c", "batch2")).toDF("k", "v", "src"))
    assert(SnapshotTable.read(spark, root).count() == 3L)
    // an existing column cannot be "added" — that's a rewrite, not
    // an evolution
    val e2 = intercept[IllegalArgumentException] {
      SnapshotTable.evolveAddColumns(spark, root, Seq("v" -> lit("x")))
    }
    assert(e2.getMessage.contains("already exists"))
  }

  test("commitZOrdered with categoryCols: the z-ordered layout records " +
      "category sets too, so an equality probe on the slice column " +
      "prunes files alongside the range stats") {
    val root = freshRoot()
    // lang rides a's HIGH bits (k / 1024), so the z-order rectangles
    // (narrow a-span per file) each hold one or two lang values —
    // the realistic "slice column correlates with the layout" shape;
    // a lang uncorrelated with the z-key would land in every file and
    // correctly prune nothing
    val df = spark.range(0, 4096).toDF("k")
      .select(col("k").cast("long").as("a"),
        pmod(col("k") * 2654435761L, lit(4096)).cast("long").as("b"),
        concat(lit("lang"), (col("k") / 1024).cast("long")).as("lang"))
    SnapshotTable.commitZOrdered(spark, root, df, "a", "b", nFiles = 16,
      categoryCols = Seq("lang"))
    val (total, kept) = SnapshotTable.pruneCountsEq(spark, root,
      "lang", "lang2")
    assert(kept < total, s"category sets pruned nothing: $kept of $total")
    val got = SnapshotTable.scanPrunedEq(spark, root, "lang", "lang2")
      .filter(col("lang") === "lang2").count()
    assert(got == 1024L, s"superset contract broke: $got rows")
  }

  test("stored change feed: tracked commits record bootstrap + per-step " +
      "diffs; readChanges(0) replays them; an UNTRACKED middle commit " +
      "breaks the chain loudly; vacuum past the window breaks it loudly") {
    val root = freshRoot()
    SnapshotTable.commit(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      changeKeys = Seq("k"))
    SnapshotTable.commit(spark, root, Seq((1L, "a2"), (3L, "c")).toDF("k", "v"),
      changeKeys = Seq("k"))
    assert(SnapshotTable.changeVersions(spark, root) == Seq(1L, 2L))
    val feed = SnapshotTable.readChanges(spark, root, 0L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(feed == Set(
      (1L, "insert", "a", 1L), (2L, "insert", "b", 1L),
      (1L, "update", "a2", 2L), (2L, "delete", "b", 2L),
      (3L, "insert", "c", 2L)))
    // a consumer already at v1 gets only the step
    assert(SnapshotTable.readChanges(spark, root, 1L).count() == 3L)
    // caught up: empty with the feed schema
    val caughtUp = SnapshotTable.readChanges(spark, root, 2L)
    assert(caughtUp.count() == 0L &&
      caughtUp.columns.toSeq == Seq("k", "change", "v", "version"))
    // an UNTRACKED commit lands, then a tracked one: the chain has a
    // gap and every consumer behind it must fail into a re-bootstrap
    SnapshotTable.commit(spark, root, Seq((4L, "d")).toDF("k", "v"))
    SnapshotTable.commit(spark, root, Seq((4L, "d"), (5L, "e")).toDF("k", "v"),
      changeKeys = Seq("k"))
    val e = intercept[RuntimeException] {
      SnapshotTable.readChanges(spark, root, 2L).collect()
    }
    assert(e.getMessage.contains("GAP"))
    // a consumer at the gap's far side reads on fine
    assert(SnapshotTable.readChanges(spark, root, 3L).count() > 0L)
    // vacuum to the newest version only: the early feed is gone and a
    // slow consumer fails loudly instead of silently missing steps
    SnapshotTable.vacuum(spark, root, keepVersions = 1)
    val e2 = intercept[RuntimeException] {
      SnapshotTable.readChanges(spark, root, 0L).collect()
    }
    assert(e2.getMessage.contains("GAP"))
  }

  test("deleteWhere is copy-on-write: only files holding matching rows " +
      "are rewritten, untouched entries keep their stats verbatim, " +
      "tracked deletes land in the change feed, no-match is a no-op") {
    val root = freshRoot()
    // the delete key clustered, so it lives in few files
    val df = spark.range(0, 64).toDF("i")
      .select(col("i").cast("long").as("k"),
        concat(lit("g"), pmod(col("i"), lit(4))).as("g"))
      .repartition(4, col("g"))
    SnapshotTable.commit(spark, root, df,
      categoryCols = Seq("g"), changeKeys = Seq("k"))
    val (v2, rew, kept0) = SnapshotTable.deleteWhere(spark, root,
      col("g") === "g2", changeKeys = Seq("k"), categoryCols = Seq("g"))
    assert(v2 == 2L && rew >= 1 && kept0 >= 1,
      s"copy-on-write did not hold: v$v2 rewrote $rew kept $kept0")
    val cur = SnapshotTable.read(spark, root)
    assert(cur.count() == 48L &&
      cur.filter(col("g") === "g2").count() == 0L)
    // the tracked changelog is exactly the 16 deletions
    val feed = SnapshotTable.readChanges(spark, root, 1L)
    assert(feed.count() == 16L &&
      feed.filter(col("change") =!= "delete").count() == 0L)
    // untouched files kept their category stats: a surviving slice
    // still equality-prunes
    val (t, k2) = SnapshotTable.pruneCountsEq(spark, root, "g", "g1")
    assert(k2 < t, s"stats lost in the rewrite: kept $k2 of $t")
    // a predicate matching nothing publishes nothing
    val (v3, r3, _) = SnapshotTable.deleteWhere(spark, root,
      col("g") === "nope")
    assert(v3 == 2L && r3 == 0 &&
      SnapshotTable.versions(spark, root).max == 2L)
  }

  test("deleteWhere keeps NOT-TRUE rows: a row where the predicate " +
      "evaluates to NULL (null in the probed column) survives the " +
      "rewrite and never enters the change feed") {
    val root = freshRoot()
    // k=0..5 in one file; v is null for even k — deleting v === "x3"
    // must drop ONLY k=3, not the nulls sharing its file
    val df = Seq[(Long, Option[String])](
      0L -> None, 1L -> Some("x1"), 2L -> None,
      3L -> Some("x3"), 4L -> None, 5L -> Some("x5")
    ).toDF("k", "v").coalesce(1)
    SnapshotTable.commit(spark, root, df, changeKeys = Seq("k"))
    val (v2, rew, _) = SnapshotTable.deleteWhere(spark, root,
      col("v") === "x3", changeKeys = Seq("k"))
    assert(v2 == 2L && rew == 1)
    val cur = SnapshotTable.read(spark, root)
    assert(cur.count() == 5L, "null-predicate rows were silently dropped")
    assert(cur.filter(col("v").isNull).count() == 3L)
    val feed = SnapshotTable.readChanges(spark, root, 1L)
    assert(feed.count() == 1L &&
      feed.select("k").as[Long].head() == 3L,
      "the changelog propagated more than the requested delete")
  }

  test("upsertTargeted rewrites ONLY files holding batch keys: result " +
      "identical to upsertCycle's full merge, untouched entries " +
      "referenced verbatim with stats preserved, and the stored feed " +
      "step matches the full-diff feed") {
    val rootT = freshRoot(); val rootC = freshRoot()
    def mkBase() = spark.range(0, 64).toDF("i")
      .select(col("i").cast("long").as("k"),
        concat(lit("v"), col("i")).as("v"))
      .repartitionByRange(4, col("k"))
    SnapshotTable.commit(spark, rootT, mkBase(),
      statsCols = Seq("k"), changeKeys = Seq("k"))
    SnapshotTable.commit(spark, rootC, mkBase(),
      statsCols = Seq("k"), changeKeys = Seq("k"))
    // updates hit one file's range (k=1..3), inserts are new keys;
    // k=1 is duplicated within the batch to exercise the tieBreak
    val batch = Seq((1L, "dup-lo"), (1L, "dup-hi"), (2L, "u2"),
      (3L, "u3"), (100L, "n100"), (101L, "n101")).toDF("k", "v")
    val (v, rew, kept) = SnapshotTable.upsertTargeted(batch, rootT,
      Seq("k"), Seq(col("v")), statsCols = Seq("k"), trackChanges = true)
    SnapshotTable.upsertCycle(batch, rootC,
      Seq("k"), Seq(col("v")), Seq("k"), trackChanges = true)
    assert(v == 2L)
    // only the file whose range holds k=1..3 was rewritten
    assert(rew == 1 && kept == 3, s"targeted COW: rewrote $rew kept $kept")
    assert(rows(SnapshotTable.read(spark, rootT)) ==
      rows(SnapshotTable.read(spark, rootC)),
      "targeted merge diverged from the full-rewrite merge")
    // untouched entries survive by NAME into the new manifest
    def files(root: String, ver: Long) =
      SnapshotTable.readVersion(spark, root, ver)
        .select(input_file_name()).distinct()
        .collect().map(_.getString(0)).toSet
    assert((files(rootT, 1L) intersect files(rootT, 2L)).size == kept,
      "untouched files were not referenced verbatim")
    // ...with their stats: a range probe into an untouched file's keys
    // still prunes the rewritten + appended files
    val (tot, keptFiles) = SnapshotTable.pruneCounts(spark, rootT, "k", 40, 41)
    assert(keptFiles < tot, s"stats lost: kept $keptFiles of $tot")
    // the batch-scoped feed step equals the full-diff feed: 3 updates
    // (k=1 resolved to the tieBreak winner), 2 inserts, zero deletes
    def feed(root: String) = SnapshotTable.readChanges(spark, root, 1L)
      .select("k", "change", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(feed(rootT) == feed(rootC), "targeted feed step diverged")
    assert(feed(rootT) == Set((1L, "update", "dup-hi"),
      (2L, "update", "u2"), (3L, "update", "u3"),
      (100L, "insert", "n100"), (101L, "insert", "n101")))
  }

  test("upsertTargeted on a bloom-recorded key column: the driver-side " +
      "bloom probe narrows candidates for a small batch; merge result " +
      "and second-cycle feed chain stay exact") {
    val root = freshRoot()
    // unclustered commit (hash partitions) — ranges are useless here,
    // blooms are the pruning path
    val base = spark.range(0, 64).toDF("i")
      .select(concat(lit("d"), col("i")).as("k"),
        col("i").cast("long").as("n"))
      .repartition(8)
    SnapshotTable.commit(spark, root, base,
      bloomCols = Seq("k"), changeKeys = Seq("k"))
    val b1 = Seq(("d7", 700L), ("d8", 800L)).toDF("k", "n")
    val (v2, rew1, _) = SnapshotTable.upsertTargeted(b1, root, Seq("k"),
      bloomCols = Seq("k"), trackChanges = true)
    assert(v2 == 2L && rew1 >= 1 && rew1 <= 2)
    // a second cycle inserting a brand-new key touches NOTHING (the
    // blooms prove no file can hold it) — zero rewrites, pure append
    val b2 = Seq(("d999", 9990L)).toDF("k", "n")
    val (v3, rew2, kept2) = SnapshotTable.upsertTargeted(b2, root,
      Seq("k"), bloomCols = Seq("k"), trackChanges = true)
    assert(v3 == 3L && rew2 == 0, s"new-key upsert rewrote $rew2 files")
    assert(kept2 > 0)
    val got = SnapshotTable.read(spark, root)
      .filter(col("k").isin("d7", "d8", "d999"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("d7", 700L), ("d8", 800L), ("d999", 9990L)))
    assert(SnapshotTable.read(spark, root).count() == 65L)
    // the chain is gap-free across targeted cycles
    val feed = SnapshotTable.readChanges(spark, root, 1L)
    assert(feed.count() == 3L &&
      feed.filter(col("change") === "insert").count() == 1L)
  }

  test("upsertTargeted range pre-prune is castability-safe: a batch " +
      "mixing long-castable and non-castable string keys still finds " +
      "every file — no silent key duplication") {
    val root = freshRoot()
    // numeric-string keys range-clustered by their long cast, plus one
    // legacy key whose cast is null, stats recorded on the key column
    val base = (1 to 64).map(i => (i.toString, s"v$i")).toDF("k", "v")
      .unionByName(Seq(("legacy-1", "old")).toDF("k", "v"))
      .repartitionByRange(4, expr("try_cast(k AS BIGINT)"))
    SnapshotTable.commit(spark, root, base, statsCols = Seq("k"))
    // the castable key's range (500) is beyond every file's stats — a
    // prune keyed on castable min/max alone would skip legacy-1's file
    // and duplicate the key instead of replacing it
    val batch = Seq(("500", "new500"), ("legacy-1", "refreshed"))
      .toDF("k", "v")
    SnapshotTable.upsertTargeted(batch, root, Seq("k"),
      statsCols = Seq("k"))
    val cur = SnapshotTable.read(spark, root)
    val legacy = cur.filter(col("k") === "legacy-1")
      .collect().map(_.getString(1)).toSeq
    assert(legacy == Seq("refreshed"),
      s"legacy key must be replaced exactly once, got $legacy")
    assert(cur.count() == 66L)
  }

  test("deleteWhereDV is merge-on-read: zero data files rewritten, " +
      "result identical to the COW delete, NULL-predicate rows kept, " +
      "time travel intact, tracked deletes in the feed, no-match no-op") {
    val rootDv = freshRoot(); val rootCow = freshRoot()
    def mkBase() = spark.range(0, 64).toDF("i")
      .select(col("i").cast("long").as("k"),
        concat(lit("g"), pmod(col("i"), lit(4))).as("g"),
        when(pmod(col("i"), lit(8)) === 0, lit(null).cast("string"))
          .otherwise(concat(lit("p"), col("i"))).as("p"))
      .repartition(4, col("g"))
    SnapshotTable.commit(spark, rootDv, mkBase(), changeKeys = Seq("k"))
    SnapshotTable.commit(spark, rootCow, mkBase(), changeKeys = Seq("k"))
    // predicate is NULL where p is null — those rows must survive both
    val cond = col("p").startsWith("p1") && col("g") === "g2"
    val (v2, n, dvFiles) = SnapshotTable.deleteWhereDV(spark, rootDv,
      cond, changeKeys = Seq("k"))
    SnapshotTable.deleteWhere(spark, rootCow, cond, changeKeys = Seq("k"))
    assert(v2 == 2L && n > 0 && dvFiles >= 1)
    def all(root: String) = SnapshotTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(all(rootDv) == all(rootCow),
      "merge-on-read diverged from copy-on-write on the same predicate")
    // ZERO data rewrites: v2's manifest references exactly v1's data
    // files (parsed fs-level — input_file_name cannot span the DV
    // anti-join's two sources)
    def dataFiles(root: String, v: Long): Set[String] = {
      val fs = new Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val in = fs.open(new Path(root, f"_manifests/v$v%09d.manifest"))
      val txt = try scala.io.Source.fromInputStream(in).mkString
        finally in.close()
      txt.split("\n").map(_.trim).filter(_.nonEmpty)
        .map(_.split('\t').head).filterNot(_.startsWith("_dv/")).toSet
    }
    assert(dataFiles(rootDv, 1L) == dataFiles(rootDv, 2L),
      "the DV delete rewrote or dropped a data file")
    // time travel: v1 still shows the deleted rows
    assert(SnapshotTable.readVersion(spark, rootDv, 1L).count() == 64L)
    // the feed carries exactly the deletes
    val feed = SnapshotTable.readChanges(spark, rootDv, 1L)
    assert(feed.count() == n &&
      feed.filter(col("change") =!= "delete").count() == 0L)
    // pruned scans apply the tombstones too (scan is a superset, the
    // caller's row filter composes on top)
    val got = SnapshotTable.scanPrunedEq(spark, rootDv, "g", "g2")
      .filter(col("g") === "g2").count()
    assert(got == SnapshotTable.read(spark, rootDv)
      .filter(col("g") === "g2").count())
    // no-match publishes nothing
    val (v3, n3, f3) = SnapshotTable.deleteWhereDV(spark, rootDv,
      col("g") === "nope")
    assert(v3 == 2L && n3 == 0L && f3 == 0 &&
      SnapshotTable.versions(spark, rootDv).max == 2L)
  }

  test("DV lifecycle composes: a second DV delete stacks, upsertTargeted " +
      "on a DV'd table neither resurrects nor re-counts tombstones, " +
      "compaction folds DVs into clean files, vacuum reclaims sidecars") {
    val root = freshRoot()
    val base = spark.range(0, 40).toDF("i")
      .select(col("i").cast("long").as("k"),
        concat(lit("v"), col("i")).as("v"))
      .repartitionByRange(4, col("k"))
    SnapshotTable.commit(spark, root, base, statsCols = Seq("k"))
    val (_, n1, _) = SnapshotTable.deleteWhereDV(spark, root, col("k") < 3)
    val (_, n2, _) = SnapshotTable.deleteWhereDV(spark, root,
      col("k") >= 37L)
    assert(n1 == 3L && n2 == 3L)
    assert(SnapshotTable.read(spark, root).count() == 34L)
    // upsert a key whose file carries tombstones: the tombstoned rows
    // stay gone, the live row updates, nothing resurrects
    val (_, rew, _) = SnapshotTable.upsertTargeted(
      Seq((5L, "v5-new"), (1L, "v1-back")).toDF("k", "v"), root, Seq("k"),
      statsCols = Seq("k"))
    assert(rew == 1, s"expected one touched file, rewrote $rew")
    val after = SnapshotTable.read(spark, root)
    assert(after.count() == 35L) // 34 live + k=1 re-inserted
    assert(after.filter(col("k") === 1L).select("v").head().getString(0)
      == "v1-back")
    assert(after.filter(col("k") === 2L).count() == 0L,
      "a tombstoned row resurrected through the targeted rewrite")
    // compaction folds: fewer files, no _dv references, rows identical
    val before = after.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val cv = SnapshotTable.compactSnapshot(spark, root,
      targetFileBytes = Long.MaxValue)
    assert(cv.nonEmpty, "DVs present must force a compaction pass")
    val folded = SnapshotTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(folded == before)
    // vacuum to the folded tip: the _dv sidecar directories go (grace
    // 0 — in this test nothing is in flight)
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    SnapshotTable.vacuum(spark, root, keepVersions = 1, stagingGraceMs = 0L)
    val dvHome = new Path(root, "_dv")
    assert(!fs.exists(dvHome) || fs.listStatus(dvHome).isEmpty,
      "vacuum left unreferenced deletion-vector sidecars")
    assert(SnapshotTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == before)
  }

  test("restore is a manifest-only rollback: the tip returns to an old " +
      "version's exact content referencing its files verbatim, the bad " +
      "version stays time-travelable, and a tracked restore feeds CDC " +
      "the net rollback diff") {
    val root = freshRoot()
    SnapshotTable.commit(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), changeKeys = Seq("k"))
    SnapshotTable.upsertCycle(
      Seq((2L, "b2"), (3L, "c")).toDF("k", "v"), root, Seq("k"),
      trackChanges = true)
    val v3 = SnapshotTable.restore(spark, root, 1L, changeKeys = Seq("k"))
    assert(v3 == 3L)
    assert(rows(SnapshotTable.read(spark, root)) ==
      Set((1L, "a"), (2L, "b")))
    // manifest-only: v3 is byte-identical to v1's manifest (entries,
    // stats, everything) — zero data was written or moved
    def manifest(v: Long): String = {
      val fs = new Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val in = fs.open(new Path(root, f"_manifests/v$v%09d.manifest"))
      try scala.io.Source.fromInputStream(in).mkString finally in.close()
    }
    assert(manifest(1L) == manifest(3L),
      "restore must republish the target manifest verbatim")
    // the rolled-back state remains auditable until vacuumed
    assert(rows(SnapshotTable.readVersion(spark, root, 2L)) ==
      Set((1L, "a"), (2L, "b2"), (3L, "c")))
    // CDC consumers see the rollback as a net diff, chain intact
    val feed = SnapshotTable.readChanges(spark, root, 2L)
      .select("k", "change", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(feed == Set((2L, "update", "b"), (3L, "delete", "c")))
  }

  test("updateWhere is a targeted COW repair: only files holding " +
      "TRUE-condition rows rewrite, NULL-condition rows pass through " +
      "unchanged, the feed is the touched diff, no-match is a no-op") {
    val root = freshRoot()
    val base = spark.range(0, 64).toDF("i")
      .select(col("i").cast("long").as("k"),
        concat(lit("g"), pmod(col("i"), lit(4))).as("g"),
        when(pmod(col("i"), lit(8)) === 0, lit(null).cast("string"))
          .otherwise(concat(lit("q"), pmod(col("i"), lit(16)))).as("q"),
        col("i").cast("long").as("n"))
      .repartition(4, col("g"))
    SnapshotTable.commit(spark, root, base,
      categoryCols = Seq("g"), changeKeys = Seq("k"))
    // q === "q2" hits k ∈ {2,18,34,50} — all in g2's single file; the
    // null-q rows sharing that file must pass through unchanged
    val (v2, rew, kept) = SnapshotTable.updateWhere(spark, root,
      col("q") === "q2", Seq("n" -> (col("n") + 1000L)),
      changeKeys = Seq("k"), categoryCols = Seq("g"))
    assert(v2 == 2L && rew == 1 && kept >= 2,
      s"targeted update: rewrote $rew kept $kept")
    val cur = SnapshotTable.read(spark, root)
    assert(cur.filter(col("n") >= 1000L).select("k").collect()
      .map(_.getLong(0)).toSet == Set(2L, 18L, 34L, 50L))
    assert(cur.filter(col("q").isNull && col("n") >= 1000L).count() == 0L,
      "a NULL-condition row was updated")
    assert(cur.count() == 64L)
    // the feed is exactly the four updates, with NEW values
    val feed = SnapshotTable.readChanges(spark, root, 1L)
    assert(feed.count() == 4L &&
      feed.filter(col("change") =!= "update").count() == 0L &&
      feed.select(org.apache.spark.sql.functions.min("n"))
        .head().getLong(0) == 1002L)
    // untouched files keep their category stats
    val (t, k2) = SnapshotTable.pruneCountsEq(spark, root, "g", "g1")
    assert(k2 < t)
    // nothing matched → nothing published
    val (v3, r3, _) = SnapshotTable.updateWhere(spark, root,
      col("q") === "zzz", Seq("n" -> lit(0L)))
    assert(v3 == 2L && r3 == 0 &&
      SnapshotTable.versions(spark, root).max == 2L)
  }

  test("readAsOf: wall-clock time travel resolves the newest version " +
      "committed at or before the instant; before-the-table is loud") {
    val root = freshRoot()
    SnapshotTable.commit(spark, root, Seq((1L, "a")).toDF("k", "v"))
    SnapshotTable.commit(spark, root, Seq((2L, "b")).toDF("k", "v"))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // pin deterministic commit instants (the publish rename's mtime)
    val t1 = 1700000000000L
    fs.setTimes(new Path(root, "_manifests/v000000001.manifest"), t1, -1)
    fs.setTimes(new Path(root, "_manifests/v000000002.manifest"),
      t1 + 60000L, -1)
    assert(SnapshotTable.versionAsOf(spark, root, t1) == 1L)
    assert(SnapshotTable.versionAsOf(spark, root, t1 + 30000L) == 1L)
    assert(SnapshotTable.versionAsOf(spark, root, t1 + 60000L) == 2L)
    assert(rows(SnapshotTable.readAsOf(spark, root, t1 + 30000L)) ==
      Set((1L, "a")))
    val e = intercept[IllegalStateException] {
      SnapshotTable.versionAsOf(spark, root, t1 - 1L)
    }
    assert(e.getMessage.contains("no retained version"))
  }

  test("history: one row per retained version with file/byte counts, " +
      "change-feed tracking, and pinning tags") {
    val root = freshRoot()
    SnapshotTable.commit(spark, root, Seq((1L, "a")).toDF("k", "v"))
    SnapshotTable.commit(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      changeKeys = Seq("k"))
    SnapshotTable.tag(spark, root, "rc1", 2L)
    SnapshotTable.tag(spark, root, "train-v1", 2L)
    val h = SnapshotTable.history(spark, root).collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(h.forall(r => r.getInt(2) >= 1 && r.getLong(3) > 0L))
    assert(!h(0).getBoolean(4) && h(1).getBoolean(4)) // tracked flags
    assert(h(0).getString(5) == "" && h(1).getString(5) == "rc1,train-v1")
  }

  test("tags are write-once retention leases: vacuum keeps tagged " +
      "versions readable past keepVersions; dropTag releases them") {
    val root = freshRoot()
    SnapshotTable.commit(spark, root, Seq((1L, "a")).toDF("k", "v"))
    SnapshotTable.tag(spark, root, "train-v1", 1L)
    SnapshotTable.commit(spark, root, Seq((2L, "b")).toDF("k", "v"))
    SnapshotTable.commit(spark, root, Seq((3L, "c")).toDF("k", "v"))
    SnapshotTable.vacuum(spark, root, keepVersions = 1)
    // the untagged middle went; the tagged corpus outlived the horizon
    assert(SnapshotTable.versions(spark, root) == Seq(1L, 3L))
    assert(rows(SnapshotTable.readTag(spark, root, "train-v1")) ==
      Set((1L, "a")))
    val e = intercept[RuntimeException] {
      SnapshotTable.tag(spark, root, "train-v1", 3L)
    }
    assert(e.getMessage.contains("immutable"))
    intercept[IllegalStateException] {
      SnapshotTable.readTag(spark, root, "no-such-tag")
    }
    // tagging a never-committed version is refused
    intercept[IllegalStateException] {
      SnapshotTable.tag(spark, root, "bad", 9L)
    }
    SnapshotTable.dropTag(spark, root, "train-v1")
    SnapshotTable.vacuum(spark, root, keepVersions = 1)
    assert(SnapshotTable.versions(spark, root) == Seq(3L))
  }

  test("bloom stats + scanPrunedBloom: a point probe opens only files " +
      "whose bloom may contain the value; a saturated column records " +
      "nothing and always keeps; absent probes prune") {
    val root = freshRoot()
    // 64 keys over 8 hash-clustered files — each file's bloom holds ~8
    // values, far under the 2048-bit default's 256-distinct cap
    val df = spark.range(0, 64).toDF("k")
      .select(col("k").cast("long").as("k"),
        concat(lit("v"), col("k")).as("v"))
      .repartition(8, pmod(col("k"), lit(8)))
    SnapshotTable.commit(spark, root, df, bloomCols = Seq("k"))
    // hash partitioning may leave some of the 8 partitions empty —
    // what matters is several files exist and the probe skips most
    val (total, kept) = SnapshotTable.pruneCountsBloom(spark, root, "k", "13")
    assert(total >= 2 && kept < total, s"bloom pruned nothing: $kept/$total")
    // superset contract: the pruned scan composed with the row filter
    // loses nothing
    val got = SnapshotTable.scanPrunedBloom(spark, root, "k", "13")
      .filter(col("k") === 13).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((13L, "v13")))
    // an absent value prunes (deterministic md5 double-hash bits; at 8
    // values per 2048-bit bloom a false keep is ~impossible)
    val (_, keptAbsent) = SnapshotTable.pruneCountsBloom(
      spark, root, "k", "99999")
    assert(keptAbsent == 0, s"absent probe kept $keptAbsent files")
    // SATURATION: 5000 distinct values > bits/8 — no section recorded,
    // every probe keeps the file (superset, manifest stays small)
    val rootSat = freshRoot()
    SnapshotTable.commit(spark, rootSat,
      spark.range(0, 5000).toDF("k").select(col("k").cast("long").as("k"),
        lit("x").as("v")).coalesce(1),
      bloomCols = Seq("k"))
    val (ts, ks) = SnapshotTable.pruneCountsBloom(
      spark, rootSat, "k", "99999")
    assert(ts == 1 && ks == 1, "saturated bloom should never prune")
  }

  test("applyChangesCycle: a changelog batch maintains a derived keyed " +
      "view — net state per key (highest version wins), deletes leave " +
      "the view, re-delivery is content-idempotent") {
    val root = freshRoot()
    def step(rows: Seq[(Long, String, String, Long)]): Unit = {
      SnapshotTable.applyChangesCycle(
        rows.toDF("k", "change", "v", "version"), root, Seq("k"),
        df => df.select(col("k"), upper(col("v")).as("u")))
      ()
    }
    step(Seq((1L, "insert", "a", 1L), (2L, "insert", "b", 1L)))
    // one micro-batch carrying TWO commits' steps for key 1 (update at
    // v2, delete at v3): only the net state may apply
    val b2 = Seq((1L, "update", "a2", 2L), (1L, "delete", "a2", 3L),
      (3L, "insert", "c", 3L))
    step(b2)
    def view(): Set[(Long, String)] =
      SnapshotTable.read(spark, root).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(view() == Set((2L, "B"), (3L, "C")))
    // at-least-once re-delivery: a new version, identical rows
    step(b2)
    assert(view() == Set((2L, "B"), (3L, "C")))
    assert(SnapshotTable.versions(spark, root) == Seq(1L, 2L, 3L))
  }

  test("applyChangesCycle threads manifest stats to the maintained view: " +
      "the CDC-driven materialized view range- and bloom-prunes with no " +
      "dedicated stats pass") {
    val root = freshRoot()
    def step(rows: Seq[(Long, String, String, Long)]): Unit = {
      SnapshotTable.applyChangesCycle(
        rows.toDF("k", "change", "v", "version"), root, Seq("k"),
        df => df.select(col("k"), upper(col("v")).as("u"))
          .repartitionByRange(4, col("k")),
        statsCols = Seq("k"), bloomCols = Seq("u"))
      ()
    }
    step((1L to 64L).map(i => (i, "insert", s"x$i", 1L)))
    step(Seq((1L, "update", "y1", 2L), (100L, "insert", "y100", 2L)))
    // range stats recorded by the MAINTAINER: a narrow key probe opens
    // a strict subset of the view's files
    val (tot, kept) = SnapshotTable.pruneCounts(spark, root, "k", 40, 41)
    assert(kept < tot && kept >= 1, s"view range stats: kept $kept of $tot")
    // bloom recorded on the DERIVED column too: an absent value prunes
    // everything a bloom was recorded for
    val (tb, kb) = SnapshotTable.pruneCountsBloom(spark, root, "u", "nope")
    assert(kb < tb, s"view bloom stats: kept $kb of $tb")
    // and the maintained content is still exact
    val got = SnapshotTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val want = ((2L to 64L).map(i => (i, s"X$i")) ++
      Seq((1L, "Y1"), (100L, "Y100"))).toSet
    assert(got == want)
  }

  test("tracked upsertCycle feed: trackChanges threads the cycle keys " +
      "through; the stored feed equals changesSince over the same window") {
    val root = freshRoot()
    SnapshotTable.upsertCycle(Seq((1L, 10L, "a")).toDF("k", "eid", "p"),
      root, Seq("k"), Seq(col("eid")), trackChanges = true)
    SnapshotTable.upsertCycle(
      Seq((1L, 20L, "a2"), (2L, 21L, "b")).toDF("k", "eid", "p"),
      root, Seq("k"), Seq(col("eid")), trackChanges = true)
    def canon(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long)] =
      df.select(col("k"), col("change"), col("version"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(canon(SnapshotTable.readChanges(spark, root, 1L)) ==
      canon(SnapshotTable.changesSince(spark, root, 1L, Seq("k"))))
  }

  test("manifest entries record file sizes: history's byte accounting " +
      "is manifest-only and matches the filesystem; pre-size entries " +
      "fall back") {
    val root = freshRoot()
    SnapshotTable.commit(spark, root,
      spark.range(0L, 100L).selectExpr("id as k", "md5(concat('v', id)) as v")
        .repartition(3), statsCols = Seq("k"))
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new Path(root, "_manifests/v000000001.manifest"))
    val lines = try scala.io.Source.fromInputStream(in).getLines().toList
      finally in.close()
    val realBytes = lines.map { l =>
      val rel = l.split('\t').head
      val sec = l.split('\t')(1)
      assert(sec.split(',').exists(_.startsWith("!")),
        s"entry lacks a size section: $l")
      fs.getFileStatus(new Path(root, rel)).getLen
    }.sum
    val histBytes = SnapshotTable.history(spark, root)
      .filter(col("version") === 1L).select("n_bytes").head().getLong(0)
    assert(histBytes == realBytes,
      s"manifest-recorded bytes $histBytes != filesystem $realBytes")
    // a hand-built pre-size entry (no sections at all) still accounts
    // via the filesystem fallback — rewrite the manifest without
    // sections and re-read
    val stripped = lines.map(_.split('\t').head)
    val out = fs.create(new Path(root, "_manifests/v000000001.manifest"),
      true)
    try out.write((stripped.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    val histBytes2 = SnapshotTable.history(spark, root)
      .filter(col("version") === 1L).select("n_bytes").head().getLong(0)
    assert(histBytes2 == realBytes, "pre-size fallback diverged")
  }

  test("tracked append: the feed is the appended rows as inserts " +
      "(O(batch), matching the manifest-diff twin), a colliding key " +
      "is refused loudly, and untracked appends stay file-level") {
    val root = freshRoot()
    SnapshotTable.commit(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), changeKeys = Seq("k"))
    SnapshotTable.append(spark, root,
      Seq((3L, "c"), (4L, "d")).toDF("k", "v"), changeKeys = Seq("k"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("k"), col("change"), col("v"), col("version"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3))).toSet
    val feed = canon(SnapshotTable.readChanges(spark, root, 1L))
    assert(feed == Set((3L, "insert", "c", 2L), (4L, "insert", "d", 2L)))
    // the O(batch) stored feed equals the O(table) manifest-diff twin
    assert(feed == canon(
      SnapshotTable.changesSince(spark, root, 1L, Seq("k"))))
    // a colliding tracked append would DUPLICATE the key (append is
    // file-level) — refused before any data is written
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.append(spark, root, Seq((2L, "x")).toDF("k", "v"),
        changeKeys = Seq("k"))
    }
    assert(e.getMessage.contains("already present"))
    assert(SnapshotTable.versions(spark, root) == Seq(1L, 2L))
    // a NULL key cannot be tracked
    val e2 = intercept[IllegalArgumentException] {
      SnapshotTable.append(spark, root,
        Seq((Option.empty[Long], "z")).toDF("k", "v"),
        changeKeys = Seq("k"))
    }
    assert(e2.getMessage.contains("NULL"))
    // untracked append keeps the file-level contract: the collision
    // is the caller's (documented) responsibility
    SnapshotTable.append(spark, root, Seq((2L, "x")).toDF("k", "v"))
    assert(SnapshotTable.read(spark, root).count() == 5L)
  }

  test("updateWhere applies ALL sets against the ORIGINAL row (SQL " +
      "UPDATE semantics): a condition referencing a set column and a " +
      "set RHS reading another set column both see pre-update values") {
    val root = freshRoot()
    SnapshotTable.commit(spark, root,
      Seq((1L, "pending", 0L, 10L), (2L, "done", 0L, 20L),
        (3L, "pending", 0L, 30L)).toDF("k", "status", "ts", "n"))
    // the canonical trap: SET status='done', ts=99 WHERE
    // status='pending' — a sequential withColumn chain rewrites
    // status first, the re-resolved condition then misses, and ts
    // silently stays 0; the third set reads `n` (not itself updated
    // here) plus `ts`, which MUST be the old ts (0), not 99
    val (v2, rew, _) = SnapshotTable.updateWhere(spark, root,
      col("status") === "pending",
      Seq("status" -> lit("done"), "ts" -> lit(99L),
        "n" -> (col("n") + col("ts"))))
    assert(v2 == 2L && rew >= 1)
    val got = SnapshotTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == Set((1L, "done", 99L, 10L), (2L, "done", 0L, 20L),
      (3L, "done", 99L, 30L)),
      s"sets resolved against updated columns: $got")
    // duplicate set columns are refused loudly (toMap would silently
    // keep one)
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.updateWhere(spark, root, col("k") === 1L,
        Seq("n" -> lit(1L), "n" -> lit(2L)))
    }
    assert(e.getMessage.contains("duplicate set column"))
  }

  test("applyChangesCycle is TARGETED: a small feed batch rewrites only " +
      "the view files holding its keys, references the rest verbatim " +
      "with stats intact, and a NULL feed key is refused loudly") {
    val root = freshRoot()
    def step(rows: Seq[(Long, String, String, Long)]) =
      SnapshotTable.applyChangesCycle(
        rows.toDF("k", "change", "v", "version"), root, Seq("k"),
        df => df.select(col("k"), upper(col("v")).as("u"))
          .repartitionByRange(4, col("k")),
        statsCols = Seq("k"))
    step((1L to 64L).map(i => (i, "insert", s"x$i", 1L)))
    def files(v: Long): Set[String] =
      SnapshotTable.readVersion(spark, root, v)
        .select(input_file_name()).distinct().collect()
        .map(_.getString(0)).toSet
    val v1Files = files(1L)
    assert(v1Files.size == 4)
    // a 3-key batch confined to the LOW key range: one file holds all
    // of them, the other three reference verbatim
    val (v2, rew, kept) = step(Seq((1L, "update", "y1", 2L),
      (2L, "delete", "x2", 2L), (3L, "update", "y3", 2L)))
    assert(v2 == 2L && rew == 1 && kept == 3,
      s"targeted view maintenance: rewrote $rew kept $kept")
    assert((v1Files intersect files(2L)).size == 3,
      "untouched view files must survive into v2 verbatim")
    // kept files keep their recorded range stats: a high-key probe
    // still opens a strict subset
    val (tot, keptF) = SnapshotTable.pruneCounts(spark, root, "k", 60L, 60L)
    assert(keptF < tot, s"view range stats after targeted cycle: " +
      s"$keptF of $tot")
    val got = SnapshotTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val want = ((4L to 64L).map(i => (i, s"X$i")) ++
      Seq((1L, "Y1"), (3L, "Y3"))).toSet
    assert(got == want)
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.applyChangesCycle(
        Seq((Option.empty[Long], "insert", "z", 3L))
          .toDF("k", "change", "v", "version"),
        root, Seq("k"), df => df.select(col("k"), col("v").as("u")))
    }
    assert(e.getMessage.contains("NULL"))
  }

  test("compactSnapshot binpacks: DV-bearing and under-threshold files " +
      "rewrite (tombstones folded), already-compact clean files are " +
      "referenced verbatim — one sidecar never forces a table rewrite") {
    val root = freshRoot()
    // md5 payloads: incompressible, so the 20k-row files are reliably
    // fat (hundreds of KiB) and the 50-row appends reliably small
    val fat1 = spark.range(0L, 20000L)
      .selectExpr("id as k", "md5(concat('v', id)) as v").coalesce(1)
    SnapshotTable.commit(spark, root, fat1)
    SnapshotTable.append(spark, root, spark.range(20000L, 20050L)
      .selectExpr("id as k", "md5(concat('v', id)) as v").coalesce(1))
    SnapshotTable.append(spark, root, spark.range(20050L, 20100L)
      .selectExpr("id as k", "md5(concat('v', id)) as v").coalesce(1))
    SnapshotTable.append(spark, root, spark.range(30000L, 50000L)
      .selectExpr("id as k", "md5(concat('v', id)) as v").coalesce(1))
    // a point delete lands a tombstone in fat file 1
    val (_, nDel, dvAdded) = SnapshotTable.deleteWhereDV(spark, root,
      col("k") === 25L)
    assert(nDel == 1L && dvAdded == 1)
    assert(SnapshotTable.dvFileCount(spark, root) == 1)
    // manifest-derived file list: input_file_name() is unavailable on
    // the DV-joined read plan (the documented multi-source boundary)
    def files(): Set[String] = SnapshotTable.dataFiles(spark, root).toSet
    val before = files()
    // target 64 KiB: both 20k-row files are fat (>= 48 KiB), the two
    // 50-row appends are small; fat file 1 must rewrite anyway (it
    // carries the tombstone), fat file 2 must survive verbatim
    val res = SnapshotTable.compactSnapshot(spark, root,
      targetFileBytes = 64L * 1024)
    assert(res.isDefined, "tombstones + small files must compact")
    val (_, rew, kept) = res.get
    assert(rew == 3 && kept == 1, s"binpack: rewrote $rew kept $kept")
    val after = files()
    assert((before intersect after).size == 1,
      "exactly the clean fat file must survive into the new manifest " +
        "verbatim")
    // tombstones folded: no sidecar referenced, the deleted row gone,
    // everything else intact
    assert(SnapshotTable.dvFileCount(spark, root) == 0)
    val ks = SnapshotTable.read(spark, root).select("k").collect()
      .map(_.getLong(0)).toSet
    assert(!ks.contains(25L) && ks.size == 40099 &&
      ks.contains(49999L) && ks.contains(20099L))
  }

  test("compactSnapshot sheds ALL-STALE sidecars with a manifest-only " +
      "commit: no data rewrite, reads stop paying the DV anti-join") {
    val root = freshRoot()
    SnapshotTable.commit(spark, root, spark.range(0L, 40L)
      .selectExpr("id as k", "concat('v', id) as v")
      .repartitionByRange(4, col("k")), statsCols = Seq("k"))
    SnapshotTable.deleteWhereDV(spark, root, col("k") === 5L)
    // a COW delete rewrites the same low-range file: the sidecar's
    // file name leaves the manifest — stale-but-harmless
    val (_, rewDel, _) = SnapshotTable.deleteWhere(spark, root,
      col("k") === 7L)
    assert(rewDel == 1)
    assert(SnapshotTable.dvFileCount(spark, root) == 1,
      "the stale sidecar is still referenced before compaction")
    def files(): Set[String] = SnapshotTable.dataFiles(spark, root).toSet
    val before = files()
    // targetFileBytes=1: nothing is under threshold, no LIVE
    // tombstones — the only work is dropping the stale sidecar refs
    val res = SnapshotTable.compactSnapshot(spark, root,
      targetFileBytes = 1L)
    assert(res.isDefined && res.get._2 == 0,
      s"manifest-only shed expected, got $res")
    assert(files() == before, "a manifest-only shed moved data")
    assert(SnapshotTable.dvFileCount(spark, root) == 0)
    assert(SnapshotTable.read(spark, root).count() == 38L)
    // and now fully clean: nothing to do at all
    assert(SnapshotTable.compactSnapshot(spark, root,
      targetFileBytes = 1L).isEmpty)
  }

  test("compactIfDvHeavy bounds DV read amplification by policy: under " +
      "the cap it does nothing, over it the targeted pass folds every " +
      "sidecar; fresh _dv dirs survive vacuum's default grace") {
    val root = freshRoot()
    SnapshotTable.commit(spark, root, spark.range(0L, 40L)
      .selectExpr("id as k", "concat('v', id) as v")
      .repartitionByRange(4, col("k")))
    for (k <- Seq(1L, 11L, 21L))
      SnapshotTable.deleteWhereDV(spark, root, col("k") === k)
    assert(SnapshotTable.dvFileCount(spark, root) == 3)
    assert(SnapshotTable.compactIfDvHeavy(spark, root, maxDvFiles = 4)
      .isEmpty, "under the cap must be a no-op")
    assert(SnapshotTable.dvFileCount(spark, root) == 3)
    val res = SnapshotTable.compactIfDvHeavy(spark, root, maxDvFiles = 2)
    assert(res.isDefined && SnapshotTable.dvFileCount(spark, root) == 0)
    assert(SnapshotTable.read(spark, root).count() == 37L)
    // the folded-away sidecar DIRS: unreferenced now, but younger than
    // the grace — a racing committer's pre-publish sidecar looks the
    // same, so default vacuum keeps them; grace 0 reclaims
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    SnapshotTable.vacuum(spark, root, keepVersions = 1)
    val dvHome = new Path(root, "_dv")
    assert(fs.exists(dvHome) && fs.listStatus(dvHome).nonEmpty,
      "a fresh unreferenced _dv dir must survive the default grace")
    SnapshotTable.vacuum(spark, root, keepVersions = 1,
      stagingGraceMs = 0L)
    assert(!fs.exists(dvHome) || fs.listStatus(dvHome).isEmpty)
  }

  /** The tip manifest's lines, read fs-level. */
  private def tipManifest(root: String): Seq[String] = {
    val v = SnapshotTable.versions(spark, root).last
    new String(Files.readAllBytes(java.nio.file.Paths.get(
      f"$root/_manifests/v$v%09d.manifest")), "UTF-8")
      .split("\n").map(_.trim).filter(_.nonEmpty).toSeq
  }

  test("compactSnapshot carries every folded file's category and Bloom " +
      "columns over, at the recorded Bloom width: equality and point " +
      "lookups still prune the compacted file") {
    val root = freshRoot()
    SnapshotTable.commit(spark, root,
      spark.range(0L, 64L).select(col("id").as("k"),
          concat(lit("c"), col("id") % 2).as("c"),
          concat(lit("p"), col("id")).as("p"))
        .repartition(4),
      categoryCols = Seq("c"), bloomCols = Seq("p"), bloomBits = 1024)
    val Some((_, rewritten, kept)) = SnapshotTable.compactSnapshot(spark,
      root, targetFileBytes = 1L << 26)
    assert(rewritten == 4 && kept == 0)
    val Seq(entry) = tipManifest(root)
    assert(entry.contains("\tc#c0|c1,p~1024:4:"), entry)
    assert(SnapshotTable.pruneCountsEq(spark, root, "c", "c9") == ((1, 0)))
    assert(SnapshotTable.pruneCountsBloom(spark, root, "p", "p99") ==
      ((1, 0)))
    assert(SnapshotTable.scanPrunedEq(spark, root, "c", "c1")
      .filter(col("c") === "c1").count() == 32L)
    assert(SnapshotTable.scanPrunedBloom(spark, root, "p", "p7")
      .filter(col("p") === "p7").select("k").as[Long].collect().toSeq ==
      Seq(7L))
  }

  test("a DATE stats column records null bounds instead of failing the " +
      "commit, and a DATE merge key upserts with no range pre-prune") {
    val root = freshRoot()
    def day(s: String) = lit(s).cast("date")
    SnapshotTable.commit(spark, root,
      spark.range(0L, 20L).select(
          date_add(day("2024-01-01"), col("id").cast("int")).as("d"),
          concat(lit("v"), col("id")).as("v"))
        .repartition(2),
      statsCols = Seq("d"))
    val entries = tipManifest(root)
    assert(entries.size == 2 && entries.forall(_.contains("\td=:,")), entries)
    val (_, rewritten, _) = SnapshotTable.upsertTargeted(
      Seq(("2024-01-03", "new"), ("2024-03-01", "ins")).toDF("d", "v")
        .select(col("d").cast("date").as("d"), col("v")),
      root, Seq("d"), statsCols = Seq("d"))
    assert(rewritten == 1)
    val got = SnapshotTable.read(spark, root)
      .select(col("d").cast("string"), col("v")).as[(String, String)]
      .collect().toMap
    assert(got.size == 21 && got("2024-01-03") == "new" &&
      got("2024-03-01") == "ins" && got("2024-01-04") == "v3")
  }

  test("jobs per mutation on a fixed 4k-row, 8-file keyed table") {
    def table(): String = {
      val root = freshRoot()
      SnapshotTable.commit(spark, root,
        spark.range(0L, 4000L).select(col("id").as("k"),
            concat(lit("v"), col("id")).as("v"))
          .repartitionByRange(8, col("k")),
        statsCols = Seq("k"), changeKeys = Seq("k"))
      assert(SnapshotTable.dataFiles(spark, root).size == 8)
      root
    }
    def jobs(op: String => Unit): Int = {
      val root = table()
      jobsDuring(op(root))
    }
    val batch = Seq((1L, "u1"), (2L, "u2"), (4100L, "n4100")).toDF("k", "v")
    val changes = Seq((1L, "update", "u1", 2L), (3L, "delete", "v3", 2L),
      (4100L, "insert", "n4100", 2L)).toDF("k", "change", "v", "version")
    val got = Map(
      "upsertTargeted" -> jobs(SnapshotTable.upsertTargeted(batch, _,
        Seq("k"), statsCols = Seq("k"), trackChanges = true)),
      "applyChangesCycle" -> jobs(SnapshotTable.applyChangesCycle(changes,
        _, Seq("k"), identity, statsCols = Seq("k"))),
      "updateWhere" -> jobs(SnapshotTable.updateWhere(spark, _,
        col("k") < 10, Seq("v" -> lit("x")), changeKeys = Seq("k"),
        statsCols = Seq("k"))),
      "deleteWhereDV" -> jobs(SnapshotTable.deleteWhereDV(spark, _,
        col("k") === 5L, changeKeys = Seq("k"))),
      "deleteWhere" -> jobs(SnapshotTable.deleteWhere(spark, _,
        col("k") < 10, statsCols = Seq("k"))),
      "deleteWhere tracked" -> jobs(SnapshotTable.deleteWhere(spark, _,
        col("k") < 10, changeKeys = Seq("k"), statsCols = Seq("k"))),
      "upsertCycle" -> jobs(SnapshotTable.upsertCycle(batch, _, Seq("k"),
        statsCols = Seq("k"))),
      "compactSnapshot" -> jobs(SnapshotTable.compactSnapshot(spark, _,
        statsCols = Seq("k"))))
    // a tracked deleteWhere pays one job over the touched rows for its
    // feed, never a whole-table diff; applyChangesCycle joins its feed
    // keys as they come, already one row per key (a distinct() on them
    // would add three jobs)
    assert(got == Map("upsertTargeted" -> 13, "applyChangesCycle" -> 9,
      "updateWhere" -> 6, "deleteWhereDV" -> 3, "deleteWhere" -> 3,
      "deleteWhere tracked" -> 4, "upsertCycle" -> 2,
      "compactSnapshot" -> 1), got)
  }
}
