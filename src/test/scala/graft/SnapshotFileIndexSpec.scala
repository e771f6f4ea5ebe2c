package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.core.SnapshotTable
import graft.sources.SnapshotFileIndex

/** Transparent data skipping via the manifest-backed FileIndex
  * ([[graft.sources.SnapshotFileIndex]]): plain `.filter(...)` on
  * `SnapshotTable.read` must open ONLY the files whose recorded
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
    val t = SnapshotTable.read(spark, root)
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
    val t = SnapshotTable.read(spark, root)
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
    val t = SnapshotTable.read(spark, root)
    assert(t.count() == 99L, "the fallback must apply the tombstones")
    assert(t.filter(col("k") === 7L).count() == 0L)
    // after compaction folds the DV, transparent pruning returns
    SnapshotTable.compactSnapshot(spark, root,
      targetFileBytes = 1L, statsCols = Seq("k"))
    assert(SnapshotTable.dvFileCount(spark, root) == 0)
    val t2 = SnapshotTable.read(spark, root)
    assert(t2.count() == 99L)
    assert(scannedFiles(t2.filter(col("k") === 50L)) <
      scannedFiles(t2))
  }

  private object Aqe extends AdaptiveSparkPlanHelper

  /** The data-side scan of a snapshot plan (the deletion-vector side
    * scans `_dv/` entries), looked up through adaptive plans too. */
  private def dataScan(plan: SparkPlan): FileSourceScanExec = {
    val scans = Aqe.collect(plan) {
      case s: FileSourceScanExec if (s.relation.location match {
        case i: SnapshotFileIndex => !i.entries.exists(_.startsWith("_dv/"))
        case _ => false
      }) => s
    }
    assert(scans.size == 1, s"expected one data scan:\n$plan")
    scans.head
  }

  /** Base names of the files `df`'s data scan keeps: the index's
    * decision for the filters Spark pushed to that scan. */
  private def keptFiles(df: DataFrame): Set[String] = {
    val s = dataScan(df.queryExecution.sparkPlan)
    s.relation.location.asInstanceOf[SnapshotFileIndex].kept(s.dataFilters)
      .map(e => new Path(SnapshotTable.entryPath(e)).getName).toSet
  }

  /** The explicit pruning predicates the snapshot format had before
    * every skip went through `entryMayMatch`, copied as the reference:
    * recorded range intersects `[lo, hi]`, recorded category set holds
    * the value, recorded Bloom may hold the value's string form; an
    * entry without the section is kept. */
  private object Reference {
    def range(entries: Seq[String], c: String, lo: Long, hi: Long)
        : Seq[String] = entries.filter { e =>
      SnapshotTable.entryStats(e).get(c) match {
        case Some((mn, mx)) => mx.forall(_ >= lo) && mn.forall(_ <= hi)
        case None => true
      }
    }
    def category(entries: Seq[String], c: String, v: String)
        : Seq[String] = entries.filter { e =>
      SnapshotTable.entryCategories(e).get(c) match {
        case Some(vs) => vs.contains(v)
        case None => true
      }
    }
    def bloom(entries: Seq[String], c: String, v: String)
        : Seq[String] = entries.filter { e =>
      SnapshotTable.entryBlooms(e).get(c) match {
        case Some((m, k, bits)) =>
          SnapshotTable.bloomBitsOf(v, m, k).forall(bits.get)
        case None => true
      }
    }
  }

  test("differential: every scanPruned* wrapper keeps the files the " +
      "explicit predicates kept, pruneCounts* matches the executed " +
      "scan, rows match the filtered read — without and with a live DV") {
    val root = freshRoot()
    // the benchmark's table shape: 8 files range-clustered on k, range
    // stats on k, a category on flag, a 32768-bit Bloom on long partkey
    val flags = array(lit("A"), lit("N"), lit("R"))
    SnapshotTable.commit(spark, root,
      spark.range(0L, 32000L, 1L, 4).select(col("id").as("k"),
          (pmod(xxhash64(col("id"), lit(17L)), lit(50000L)) + 1L)
            .as("partkey"),
          element_at(flags,
            (pmod(xxhash64(col("id"), lit(23L)), lit(3L)) + 1L).cast("int"))
            .as("flag"))
        .repartitionByRange(8, col("k")),
      statsCols = Seq("k"), categoryCols = Seq("flag"),
      bloomCols = Seq("partkey"), bloomBits = 32768)
    val rnd = new scala.util.Random(8L)
    val present = SnapshotTable.read(spark, root)
      .select("partkey").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect()
    val ranges = Seq.fill(4) {
      val lo = rnd.nextInt(32000).toLong
      (lo, lo + (if (rnd.nextBoolean()) 0L else 200L))
    }
    val partkeys = Seq.fill(2)(present(rnd.nextInt(present.length))) ++
      Seq.fill(2)(1L + rnd.nextInt(50000))
    val keyProbe = rnd.nextInt(32000).toLong

    def check(): Unit = {
      val dataE = manifest(root, tip(root)).filterNot(_.startsWith("_dv/"))
      def names(es: Seq[String]): Set[String] =
        es.map(e => new Path(SnapshotTable.entryPath(e)).getName).toSet
      val all = SnapshotTable.read(spark, root).collect()
      val unfiltered = SnapshotTable.read(spark, root)
      unfiltered.collect()
      val total = dataScan(unfiltered.queryExecution.executedPlan)
        .metrics("numFiles").value
      assert(total == dataE.size)
      def same(label: String, wrapper: DataFrame, counts: (Int, Int),
               reference: Seq[String], exact: Boolean, pred: Column,
               rowPred: Row => Boolean): Long = {
        val kept = keptFiles(wrapper)
        if (exact) assert(kept == names(reference), label)
        else assert(kept.subsetOf(names(reference)), label)
        // every file that holds a matching row is kept
        val matching = spark.read.parquet(pathsOf(root, dataE): _*)
          .filter(pred).select(input_file_name()).distinct().collect()
          .map(r => new Path(r.getString(0)).getName).toSet
        assert(matching.subsetOf(kept), s"$label dropped a matching file")
        assert(counts == ((dataE.size, kept.size)), label)
        val rows = wrapper.collect().map(_.toSeq).toSet
        val opened = dataScan(wrapper.queryExecution.executedPlan)
          .metrics("numFiles").value
        assert(opened == counts._2, s"$label opened $opened files")
        assert(rows == all.filter(rowPred).map(_.toSeq).toSet, label)
        opened
      }
      ranges.foreach { case (lo, hi) =>
        val opened = same(s"k in [$lo, $hi]",
          SnapshotTable.scanPruned(spark, root, "k", lo, hi),
          SnapshotTable.pruneCounts(spark, root, "k", lo, hi),
          Reference.range(dataE, "k", lo, hi), exact = true,
          col("k").between(lo, hi),
          r => r.getLong(0) >= lo && r.getLong(0) <= hi)
        assert(opened < total, s"k in [$lo, $hi] opened $opened of $total")
      }
      partkeys.foreach { pk =>
        same(s"partkey = $pk",
          SnapshotTable.scanPrunedBloom(spark, root, "partkey", pk.toString),
          SnapshotTable.pruneCountsBloom(spark, root, "partkey", pk.toString),
          Reference.bloom(dataE, "partkey", pk.toString), exact = true,
          col("partkey") === pk, _.getLong(1) == pk)
        // a pushed long literal keeps the same Bloom file set
        assert(keptFiles(SnapshotTable.read(spark, root)
            .filter(col("partkey") === pk)) ==
          names(Reference.bloom(dataE, "partkey", pk.toString)))
      }
      Seq("A", "R", "Z").foreach { f =>
        same(s"flag = $f",
          SnapshotTable.scanPrunedEq(spark, root, "flag", f),
          SnapshotTable.pruneCountsEq(spark, root, "flag", f),
          Reference.category(dataE, "flag", f), exact = true,
          col("flag") === f, _.getString(2) == f)
      }
      // k carries range stats but no category: the equality probe
      // also range-prunes, so it keeps a subset of the category-only
      // reference (which keeps every file)
      same(s"k = $keyProbe",
        SnapshotTable.scanPrunedEq(spark, root, "k", keyProbe.toString),
        SnapshotTable.pruneCountsEq(spark, root, "k", keyProbe.toString),
        Reference.category(dataE, "k", keyProbe.toString), exact = false,
        col("k") === keyProbe, _.getLong(0) == keyProbe)
    }
    check()
    val (_, n, _) = SnapshotTable.deleteWhereDV(spark, root,
      col("k") % 997 === 5L)
    assert(n > 0 && SnapshotTable.dvFileCount(spark, root) > 0)
    check()
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

  /** The manifest entries `entries` of `root` as the two re-scan jobs
    * built them before the writer gathered sections itself: a
    * per-file `try_cast` min/max aggregation grouped by
    * `input_file_name`, then per-(file, column) distinct value sets
    * (unpivot, distinct, rank, cap, `collect_set`). Kept only as the
    * reference the write-time sections are compared against. */
  private def rescanEntries(root: String, entries: Seq[String],
                            statsCols: Seq[String],
                            categoryCols: Seq[String],
                            bloomCols: Seq[String],
                            bloomBits: Int): Seq[String] = {
    val rels = entries.map(_.split('\t').head)
    val written = spark.read.parquet(pathsOf(root, entries): _*)
    val bloomCap = bloomBits / 8
    val rangeByBase =
      if (statsCols.isEmpty) Map.empty[String, org.apache.spark.sql.Row]
      else {
        val aggs = statsCols.flatMap(c => Seq(
          min(expr(s"try_cast($c AS BIGINT)")).as(s"__mn_$c"),
          max(expr(s"try_cast($c AS BIGINT)")).as(s"__mx_$c")))
        written.groupBy(input_file_name().as("__f"))
          .agg(aggs.head, aggs.tail: _*)
          .collect()
          .map(r => new Path(r.getString(0)).getName -> r).toMap
      }
    val setColNames = (categoryCols ++ bloomCols).distinct
    val maxCap = math.max(if (categoryCols.nonEmpty) SnapshotTable.CategoryCap else 0,
      if (bloomCols.nonEmpty) bloomCap else 0)
    val setsByKey =
      if (setColNames.isEmpty) Map.empty[(String, String), Seq[String]]
      else {
        val pairs = written.select(
            input_file_name().as("__f"),
            explode(array(setColNames.map(c =>
              struct(lit(c).as("__c"),
                col(c).cast("string").as("__v"))): _*)).as("__e"))
          .select(col("__f"), col("__e.__c").as("__c"),
            col("__e.__v").as("__v"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("__f", "__c").orderBy(col("__v").asc_nulls_first)
        pairs.distinct()
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= maxCap + 2)
          .groupBy("__f", "__c")
          .agg(sort_array(collect_set(col("__v"))).as("__vs"))
          .collect()
          .map(r => (new Path(r.getString(0)).getName, r.getString(1)) ->
            r.getSeq[String](2)).toMap
      }
    rels.map { rel =>
      val base = rel.split('/').last
      val ranges = rangeByBase.get(base).toSeq.flatMap { r =>
        statsCols.zipWithIndex.map { case (c, i) =>
          val mn = if (r.isNullAt(1 + 2 * i)) "" else r.getLong(1 + 2 * i).toString
          val mx = if (r.isNullAt(2 + 2 * i)) "" else r.getLong(2 + 2 * i).toString
          s"$c=$mn:$mx"
        }
      }
      val cats = categoryCols.flatMap { c =>
        setsByKey.get((base, c)).flatMap { vs =>
          if (vs.size > SnapshotTable.CategoryCap) None
          else Some(s"$c#" + vs.map(
            java.net.URLEncoder.encode(_, "UTF-8")).mkString("|"))
        }
      }
      val blooms = bloomCols.flatMap { c =>
        setsByKey.get((base, c)).flatMap { vs =>
          if (vs.size > bloomCap) None
          else {
            val bs = new java.util.BitSet(bloomBits)
            vs.foreach(v => SnapshotTable.bloomBitsOf(v, bloomBits,
              SnapshotTable.BloomK).foreach(bs.set))
            Some(s"$c~$bloomBits:${SnapshotTable.BloomK}:" +
              java.util.Base64.getEncoder.withoutPadding
                .encodeToString(bs.toByteArray))
          }
        }
      }
      val len = new java.io.File(s"$root/$rel").length
      s"$rel\t${(ranges ++ cats ++ blooms :+ s"!$len").mkString(",")}"
    }
  }

  private def rowsIn(root: String, entry: String): Long =
    spark.read.parquet(pathsOf(root, Seq(entry)): _*).count()

  test("write-time manifest sections equal the two re-scan jobs' " +
      "sections line for line: zero-row files, all-null, over-cap and " +
      "saturated columns, typed category values, non-BMP and fullwidth " +
      "strings, maxRecordsPerFile splits") {
    val root = freshRoot()
    val statsCols = Seq("k", "s", "n", "dbl", "dec", "bool", "ts")
    val categoryCols = Seq("n", "big", "dbl", "flt", "dec", "bool", "ts",
      "dt", "u")
    val bloomCols = Seq("g", "big", "n", "u")
    val bloomBits = 64 // saturates past 8 distinct values per file
    def pick(vs: org.apache.spark.sql.Column*) =
      element_at(array(vs: _*), (col("id") % vs.size + 1).cast("int"))
    val df = spark.range(0L, 120L).select(
        col("id").as("k"),
        when(col("id") % 5 === 0, lit("legacy-1"))
          .otherwise(col("id").cast("string")).as("s"),
        lit(null).cast("string").as("n"),
        concat(lit("x"), col("id")).as("big"),
        (col("id") % 3).as("g"),
        pick(lit(0.25), lit(1e20), lit(-0.0), lit(Double.NaN), lit(-1.5))
          .as("dbl"),
        (col("id") % 3 / 8).cast("float").as("flt"),
        (col("id") % 3 / 7).cast("decimal(10,3)").as("dec"),
        (col("id") % 2 === 0).as("bool"),
        timestamp_seconds(col("id") % 3 * 86400 + 1).as("ts"),
        date_add(lit("2024-02-27").cast("date"),
          (col("id") % 4).cast("int")).as("dt"),
        pick(lit("\ud83d\ude00"), lit("\uff21"), lit("a"), lit("\u00e9"),
          lit(null).cast("string")).as("u"))
      .repartitionByRange(4, col("k"))
    def same(v: Long, sc: Seq[String], cc: Seq[String], bc: Seq[String],
             bits: Int): Seq[String] = {
      val got = manifest(root, v)
      assert(got == rescanEntries(root, got, sc, cc, bc, bits))
      got
    }
    val v1 = SnapshotTable.commit(spark, root, df, statsCols, categoryCols,
      bloomCols = bloomCols, bloomBits = bloomBits)
    val files = same(v1, statsCols, categoryCols, bloomCols, bloomBits)
    assert(files.size == 4)
    files.foreach { e =>
      assert(e.contains("\tk=") && e.contains(",s=") && e.contains(",n=:,"))
      assert(e.contains(",n#,") && e.contains(",n~64:4:,"), e)
      assert(!e.contains(",big#") && !e.contains(",big~"), e)
      assert(e.contains(",g~64:4:") && e.contains(",dt#2024-"), e)
    }
    // binary UTF8String order: fullwidth A (EF BC A1) before the emoji
    // (F0 9F 98 80), which a UTF-16 sort reverses
    assert(files.exists(_.contains(",u#" +
      Seq("a", "\u00e9", "\uff21", "\ud83d\ude00").map(
        java.net.URLEncoder.encode(_, "UTF-8")).mkString("|") + ",")))
    // one task split into several files
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "7")
    val v2 =
      try SnapshotTable.commit(spark, root, df, statsCols, categoryCols,
        bloomCols = bloomCols, bloomBits = bloomBits)
      finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    assert(same(v2, statsCols, categoryCols, bloomCols, bloomBits).size > 8)
    // 3 rows over 6 partitions: partition 0 writes a zero-row file
    import spark.implicits._
    val v3 = SnapshotTable.commit(spark, root,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").repartition(6),
      statsCols = Seq("k"), categoryCols = Seq("v"), bloomCols = Seq("k"))
    val small = same(v3, Seq("k"), Seq("v"), Seq("k"),
      SnapshotTable.DefaultBloomBits)
    val empty = small.filter(rowsIn(root, _) == 0L)
    assert(empty.nonEmpty && empty.forall(!_.contains("=")), small)
  }

  test("a commit recording range, category and Bloom sections " +
      "launches exactly the jobs of the same commit without them") {
    val df = spark.range(0L, 400L)
      .selectExpr("id as k", "concat('g', id % 4) as g")
      .repartition(4, col("g"))
    val bare = jobsDuring(SnapshotTable.commit(spark, freshRoot(), df))
    val sectioned = jobsDuring(SnapshotTable.commit(spark, freshRoot(), df,
      statsCols = Seq("k"), categoryCols = Seq("g"), bloomCols = Seq("k")))
    assert(sectioned == bare, s"$sectioned jobs with sections, $bare without")
  }

  test("data files carry the Spark row metadata df.write.parquet writes " +
      "for the same frame, nullability included") {
    val key = "org.apache.spark.sql.parquet.row.metadata"
    def metadataOf(paths: Seq[String]): Set[String] = paths.map { p =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(p),
          spark.sparkContext.hadoopConfiguration))
      try r.getFooter.getFileMetaData.getKeyValueMetaData.get(key)
      finally r.close()
    }.toSet
    val df = spark.range(0L, 60L)
      .selectExpr("id as k", "concat('v', id) as v",
        "cast(null as string) as n", "array(id, id + 1) as arr",
        "named_struct('x', id, 'y', 'z') as st", "coalesce(null, id) as c")
      .repartition(3)
    val ref = Files.createTempDirectory("graft_snapidx_ref").toString + "/p"
    df.write.parquet(ref)
    val want = metadataOf(new java.io.File(ref).listFiles.map(_.getPath)
      .filter(_.endsWith(".parquet")).toSeq)
    val root = freshRoot()
    SnapshotTable.commit(spark, root, df, statsCols = Seq("k"))
    val got = metadataOf(pathsOf(root, manifest(root, tip(root))))
    assert(want.size == 1 && got == want, s"$got\n!= df.write.parquet's\n$want")
  }
}
