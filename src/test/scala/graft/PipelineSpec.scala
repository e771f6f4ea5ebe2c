package graft

import java.io.FileOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType}

import graft.core.Config
import graft.operators.{Components, Pipeline}

/** End-to-end pipeline test over a synthetic mini-bucket: two
  * differently-shaped zip sources conformed onto shared components via
  * per-source compressors (the reference's a_vr_snapshot/a_ncvoter
  * pattern), exercising fetch planning, zip/charset load, header
  * normalization, quote repair, and cross-compressor union dedup. */
class PipelineSpec extends SparkSpec {

  private def writeZip(dir: Path, name: String, content: String,
                       charset: java.nio.charset.Charset): Unit = {
    val zos = new ZipOutputStream(new FileOutputStream(dir.resolve(name).toFile))
    zos.putNextEntry(new ZipEntry(name.stripSuffix(".zip") + ".txt"))
    zos.write(content.getBytes(charset))
    zos.closeEntry(); zos.close()
  }

  private val configYaml =
    """fetch:
      |  cycle_t:
      |    bucket1:
      |      include:
      |        - 'VR_Snapshot_.*\.zip$'
      |        - 'ncvoter_Statewide\.zip$'
      |compress:
      |  pack_vr:
      |    include:
      |      - '^vr_snapshot'
      |    components:
      |      c_person:
      |        subst:
      |          middle_name: midl_name
      |      c_contact:
      |        subst:
      |          full_phone: area_cd||phone_num
      |  pack_ncv:
      |    include:
      |      - '^ncvoter_statewide$'
      |    components:
      |      c_person: 1
      |      c_contact: 1
      |components:
      |  c_person:
      |    - last_name
      |    - middle_name
      |  c_contact:
      |    - full_phone
      |""".stripMargin

  test("full pipeline: plan, load, conform per compressor, cross-compressor merge") {
    val bucket = Files.createTempDirectory("graft_bucket")
    // VR snapshot shape: midl_name + area_cd/phone_num, UTF-16, dirty quotes
    writeZip(bucket, "VR_Snapshot_20240101.zip",
      "Last Name\tMidl Name\tArea Cd\tPhone Num\n" +
        "O\"BRIEN\tA\t919\t5550100\n" +
        "SMITH\tB\t704\t5550199\n",
      StandardCharsets.UTF_16)
    // ncvoter shape: middle_name + full_phone (pre-joined), LATIN1, clean.
    // SMITH/B and phone 7045550199 duplicate VR rows post-conformance.
    writeZip(bucket, "ncvoter_Statewide.zip",
      "Last Name\tMiddle Name\tFull Phone\n" +
        "SMITH\tB\t7045550199\n" +
        "GARCIA\tC\t3365550142\n",
      StandardCharsets.ISO_8859_1)
    // a file the include regexes must exclude
    Files.write(bucket.resolve("layout_notes.txt"), "ignore me".getBytes)

    val spec = Config.parse(configYaml)
    val result = Pipeline.run(spark, spec, "cycle_t",
      Map("bucket1" -> bucket.toString))

    assert(result.tables.keySet == Set("vr_snapshot_20240101", "ncvoter_statewide"))
    // quote repair applied on the dirty VR path
    val vr = result.tables("vr_snapshot_20240101")
    assert(vr.columns.toSeq == Seq("last_name", "midl_name", "area_cd", "phone_num"))
    assert(vr.filter(org.apache.spark.sql.functions.col("last_name") === "O'BRIEN").count() == 1)

    // c_contact: concat subst on VR side, identity on ncvoter side,
    // union-dedup drops the shared 7045550199.
    val contact = result.components("c_contact")
      .collect().map(_.getString(0)).sorted
    assert(contact.toSeq == Seq("3365550142", "7045550199", "9195550100"))

    // c_person: rename subst on VR side, identity on ncvoter; SMITH/B deduped.
    val person = result.components("c_person")
      .collect().map(r => (r.getString(0), r.getString(1))).sortBy(_.toString)
    assert(person.toSeq == Seq(("GARCIA", "C"), ("O'BRIEN", "A"), ("SMITH", "B")))
  }

  test("persist: tables and components land in a per-group database (catalog sink)") {
    val bucket = Files.createTempDirectory("graft_bucket3")
    writeZip(bucket, "ncvoter_Statewide.zip",
      "Last Name\tMiddle Name\tFull Phone\nSMITH\tB\t7045550199\n",
      StandardCharsets.ISO_8859_1)
    val spec = Config.parse(configYaml)
    graft.core.Catalog.resetDatabase(spark, "cycle_t")
    // one driver header read and one executor read by the table's save:
    // the components are built from the saved table, not the archive
    val opened = archivesOpenedDuring {
      Pipeline.run(spark, spec, "cycle_t", Map("bucket1" -> bucket.toString),
        persist = true)
    }
    assert(opened == 2, s"a persisting cycle opened the one archive $opened times")
    val tables = graft.core.Catalog.listUserTables(spark, "cycle_t")
    assert(tables.contains("ncvoter_statewide"))
    assert(tables.contains("c_person"))
    val persisted = spark.table("cycle_t.c_person").collect()
    assert(persisted.map(_.getString(0)).toSeq == Seq("SMITH"))
  }

  test("JDBC sink round-trips a component table (postgres hand-off shape)") {
    // embedded Derby stands in for postgres: same df.write.jdbc path,
    // batch inserts, truncate-on-overwrite semantics
    import spark.implicits._
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val df = Seq((1L, "SMITH"), (2L, "O'BRIEN"), (3L, "MÜLLER"))
      .toDF("person_id", "last_name")
    graft.core.Catalog.saveJdbc(df, url, "c_person", overwrite = true,
      batchSize = 2, numPartitions = Some(2))
    val back = graft.core.Catalog.readJdbc(spark, url, "c_person")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(back == Set((1L, "SMITH"), (2L, "O'BRIEN"), (3L, "MÜLLER")))
    // append mode accumulates; truncate-overwrite replaces content
    graft.core.Catalog.saveJdbc(df.limit(1), url, "c_person")
    assert(graft.core.Catalog.readJdbc(spark, url, "c_person").count() == 4)
    graft.core.Catalog.saveJdbc(df, url, "c_person", overwrite = true)
    assert(graft.core.Catalog.readJdbc(spark, url, "c_person").count() == 3)
  }

  test("compact merges small parquet files, preserves rows, skips when already compact") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_compact").toString + "/t"
    val df = (1L to 1000L).toDF("id")
    df.repartition(20).write.parquet(dir)
    val (before, after) = graft.core.Catalog.compact(spark, dir,
      targetFileBytes = 1L * 1024 * 1024)
    assert(before == 20 && after == 1)
    val back = spark.read.parquet(dir)
    assert(back.count() == 1000)
    assert(back.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0)
      == 500500L)
    // second pass is a no-op: already at or below the target file count
    val (b2, a2) = graft.core.Catalog.compact(spark, dir,
      targetFileBytes = 1L * 1024 * 1024)
    assert(b2 == 1 && a2 == 1)
  }

  test("recoverSwap repairs every crash window of the staged swap") {
    import spark.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def path(s: String) = new org.apache.hadoop.fs.Path(s)
    def writeTable(dir: String, ids: Seq[Long]): Unit =
      ids.toDF("id").coalesce(1).write.mode("overwrite").parquet(dir)
    def readIds(dir: String): Set[Long] =
      spark.read.parquet(dir).collect().map(_.getLong(0)).toSet

    // crash window 1: target renamed to bak, staging complete, neither
    // promoted — recovery must promote the staging successor
    val d1 = Files.createTempDirectory("graft_swap1").toString
    writeTable(s"$d1/t", Seq(1L))
    writeTable(s"$d1/t.staging", Seq(1L, 2L))
    fs.rename(path(s"$d1/t"), path(s"$d1/t.bak"))
    graft.core.Catalog.recoverSwap(fs, path(s"$d1/t"), path(s"$d1/t.staging"))
    assert(readIds(s"$d1/t") == Set(1L, 2L))
    assert(!fs.exists(path(s"$d1/t.bak")) && !fs.exists(path(s"$d1/t.staging")))

    // crash window 2: target moved aside, staging INCOMPLETE (no
    // _SUCCESS) — recovery must restore the bak, not promote garbage
    val d2 = Files.createTempDirectory("graft_swap2").toString
    writeTable(s"$d2/t", Seq(7L))
    fs.rename(path(s"$d2/t"), path(s"$d2/t.bak"))
    fs.mkdirs(path(s"$d2/t.staging")) // partial write, no _SUCCESS
    graft.core.Catalog.recoverSwap(fs, path(s"$d2/t"), path(s"$d2/t.staging"))
    assert(readIds(s"$d2/t") == Set(7L))

    // crash window 3: swap completed but bak not yet deleted — recovery
    // drops the orphan and leaves the table alone
    val d3 = Files.createTempDirectory("graft_swap3").toString
    writeTable(s"$d3/t", Seq(9L))
    writeTable(s"$d3/t.bak", Seq(8L))
    graft.core.Catalog.recoverSwap(fs, path(s"$d3/t"), path(s"$d3/t.staging"))
    assert(readIds(s"$d3/t") == Set(9L) && !fs.exists(path(s"$d3/t.bak")))

    // and the happy-path swap itself: target replaced, no residue
    val d4 = Files.createTempDirectory("graft_swap4").toString
    writeTable(s"$d4/t", Seq(1L))
    writeTable(s"$d4/t.staging", Seq(2L, 3L))
    graft.core.Catalog.swapInto(fs, path(s"$d4/t.staging"), path(s"$d4/t"))
    assert(readIds(s"$d4/t") == Set(2L, 3L))
    assert(!fs.exists(path(s"$d4/t.bak")) && !fs.exists(path(s"$d4/t.staging")))
  }

  test("crawlFrontier: politeness cap, global budget, staggered schedule") {
    import spark.implicits._
    // domain a: 5 candidates (cap 2 keeps the top-2 by priority);
    // domain b: 1; budget 3 then cuts the global tail
    val cands = Seq(
      ("u1", "a", 50L, 1L), ("u2", "a", 40L, 2L), ("u3", "a", 30L, 3L),
      ("u4", "a", 20L, 4L), ("u5", "a", 10L, 5L),
      ("u6", "b", 35L, 6L), ("u7", "c", 5L, 7L))
      .toDF("url", "domain", "priority", "id")
    val out = operators.Pipeline.crawlFrontier(cands, "url", "domain",
        "priority", "id", perDomainCap = 2, cycleCapacity = 3,
        crawlDelayS = 10)
      .collect().map(r => (r.getString(0), r.getInt(3), r.getInt(4),
        r.getLong(5))).sortBy(_._3)
    // global order: u1(50), u2(40), u6(35) — u3 loses to the domain
    // cap, u7 to the cycle budget
    assert(out.toSeq == Seq(("u1", 1, 1, 0L), ("u2", 2, 2, 10L),
      ("u6", 1, 3, 0L)))
  }

  test("crawlFrontier: ties break on id; deterministic across partitions") {
    import spark.implicits._
    val cands = (1 to 100).map(i =>
      (s"u$i", s"d${i % 9}", (i % 4).toLong, i.toLong))
      .toDF("url", "domain", "priority", "id")
    val a = operators.Pipeline.crawlFrontier(cands, "url", "domain",
      "priority", "id", 3, 15, 5).collect().map(_.toString).sorted
    val b = operators.Pipeline.crawlFrontier(cands.repartition(13), "url",
      "domain", "priority", "id", 3, 15, 5)
      .collect().map(_.toString).sorted
    assert(a.sameElements(b) && a.length == 15)
  }

  test("stage skip flags gate load and compress") {
    val bucket = Files.createTempDirectory("graft_bucket2")
    writeZip(bucket, "VR_Snapshot_20240101.zip",
      "A\tB\n1\t2\n", StandardCharsets.UTF_16)
    val spec = Config.parse(configYaml)
    var r: Pipeline.Result = null
    val jobs = jobsDuring {
      r = Pipeline.run(spark, spec, "cycle_t", Map("bucket1" -> bucket.toString),
        stages = Pipeline.Stages(load = true, compress = false))
    }
    assert(r.tables.nonEmpty && r.components.isEmpty)
    assert(jobs == 0, s"a load-only cycle launched $jobs jobs")
    val r2 = Pipeline.run(spark, spec, "cycle_t", Map("bucket1" -> bucket.toString),
      stages = Pipeline.Stages(load = false, compress = true))
    assert(r2.tables.isEmpty && r2.components.isEmpty)
  }

  /** The compress stage `Pipeline.run` had before the shared scan, kept
    * only as the reference: per compressor and component, each included
    * table conformed on its own, then one `Components.merge` per
    * component. */
  private def referenceComponents(spec: Config.PipelineSpec,
      tables: Map[String, DataFrame]): Map[String, DataFrame] = {
    val conformed: Seq[(String, DataFrame)] = spec.compressOrder.flatMap { cName =>
      val compressor = spec.compress(cName)
      val sourceNames = tables.keys.toSeq.sorted
        .filter(t => compressor.include.exists(_.r.findFirstIn(t).isDefined))
      for {
        component <- compressor.componentOrder
        columns = spec.components.getOrElse(component, Nil)
        if columns.nonEmpty
        subst = compressor.components.getOrElse(component, Map.empty)
        t <- sourceNames
      } yield component -> Components.conform(tables(t), columns, subst)
    }
    conformed.map(_._1).distinct.map { component =>
      component -> Components.merge(conformed.filter(_._1 == component).map(_._2))
    }.toMap
  }

  private def rowsOf(df: DataFrame): Seq[Seq[Option[Any]]] =
    df.collect().toSeq.map(_.toSeq.map(Option(_))).sortBy(_.toString)

  /** Each component equals the reference's as a multiset of rows, with
    * the same column names and types; nullability may only widen. */
  private def assertMatchesReference(spec: Config.PipelineSpec, r: Pipeline.Result): Unit = {
    val want = referenceComponents(spec, r.tables)
    assert(r.components.keySet == want.keySet)
    want.foreach { case (c, w) =>
      val got = r.components(c)
      assert(got.schema.map(f => f.name -> f.dataType) == w.schema.map(f => f.name -> f.dataType),
        s"$c: ${got.schema.simpleString} != ${w.schema.simpleString}")
      got.schema.zip(w.schema).foreach { case (g, f) =>
        assert(g.nullable || !f.nullable, s"$c.${f.name} narrowed to non-null")
      }
      assert(rowsOf(got) == rowsOf(w), c)
    }
  }

  test("differential: the shared compress scan equals the per-component " +
      "merge on the fixture bucket") {
    val spec = Config.parse(graft.sources.PipelineFixture.configYaml)
    val r = Pipeline.run(spark, spec, "cycle_t",
      Map("bucket1" -> graft.sources.PipelineFixture.ensure()))
    assertMatchesReference(spec, r)
  }

  test("differential: the shared compress scan equals the per-component " +
      "merge on widened types, partial and empty compressors, shared column " +
      "names, nulls and duplicates across sources and compressors") {
    val bucket = Files.createTempDirectory("graft_bucket_diff")
    val vrHeader = "Last Name\tMidl Name\tAge\tCity\n"
    // the shared row SMITH/B/40 repeats across both snapshots
    writeZip(bucket, "VR_Snapshot_20240101.zip", vrHeader +
      "O\"BRIEN\tA\t31\tCARY\n" + "SMITH\tB\t40\tAPEX\n" + "SMITH\tB\t40\tAPEX\n",
      StandardCharsets.UTF_16)
    writeZip(bucket, "VR_Snapshot_20240102.zip", vrHeader +
      "SMITH\tB\t40\tAPEX\n" + "LEE\t\t22\tDURHAM\n",
      StandardCharsets.UTF_16)
    // GARCIA has no middle name (an empty field parses to null); SMITH/B
    // duplicates the snapshots' c_person row
    writeZip(bucket, "ncvoter_Statewide.zip",
      "Last Name\tMiddle Name\tFull Phone\tAge\n" +
        "SMITH\tB\t7045550199\t40\n" + "GARCIA\t\t3365550142\t55\n",
      StandardCharsets.ISO_8859_1)
    // gains a null email column at load
    Files.write(bucket.resolve("Candidate_Listing_2024.csv"),
      "\"Last Name\",\"Phone\"\n\"SMITH\",\"7045550199\"\n\"O\"HARA\",\"9195550000\"\n"
        .getBytes(StandardCharsets.ISO_8859_1))
    // a clean TSV whose score is a string, one of them empty
    Files.write(bucket.resolve("extra.tsv"),
      "Last Name\tScore\nSMITH\t7\nNOBODY\t\n".getBytes(StandardCharsets.UTF_8))
    val yaml =
      """fetch:
        |  cycle_d:
        |    b:
        |      include:
        |        - '\.zip$'
        |        - '\.tsv$'
        |        - 'Candidate_Listing_.*\.csv$'
        |compress:
        |  pack_vr:
        |    include:
        |      - '^vr_snapshot'
        |    components:
        |      c_person:
        |        subst:
        |          middle_name: midl_name
        |      c_score:
        |        subst:
        |          score: CAST(age AS INT)
        |          tag: "'vr'"
        |  pack_vr_first:
        |    include:
        |      - '^vr_snapshot_20240101$'
        |    components:
        |      c_person:
        |        subst:
        |          middle_name: midl_name
        |  pack_none:
        |    include:
        |      - '^no_such_table$'
        |    components:
        |      c_person: 1
        |      c_contact: 1
        |  pack_ncv:
        |    include:
        |      - '^ncvoter_statewide$'
        |    components:
        |      c_person: 1
        |      c_contact:
        |        subst:
        |          email: "NULL"
        |      c_score:
        |        subst:
        |          score: CAST(age AS BIGINT)
        |          tag: "NULL"
        |  pack_cand:
        |    include:
        |      - '^candidate_listing'
        |    components:
        |      c_contact:
        |        subst:
        |          full_phone: phone
        |  pack_extra:
        |    include:
        |      - '^extra$'
        |    components:
        |      c_score:
        |        subst:
        |          tag: "'x'"
        |components:
        |  c_person:
        |    - last_name
        |    - middle_name
        |  c_contact:
        |    - last_name
        |    - full_phone
        |    - email
        |  c_score:
        |    - last_name
        |    - score
        |    - tag
        |""".stripMargin
    val spec = Config.parse(yaml)
    val r = Pipeline.run(spark, spec, "cycle_d", Map("b" -> bucket.toString))
    assert(r.tables.keySet == Set("vr_snapshot_20240101", "vr_snapshot_20240102",
      "ncvoter_statewide", "candidate_listing_2024", "extra"))
    assertMatchesReference(spec, r)
    // the cases are not vacuous: int, bigint and string scores widen
    // (ANSI: a string beside integers resolves to bigint), duplicates
    // collapse, nulls survive
    assert(r.components("c_score").schema.map(_.dataType) ==
      Seq(StringType, LongType, StringType))
    assert(r.components("c_person").count() == 4L)
    assert(r.components("c_contact").count() == 3L)
    assert(r.components("c_contact").filter(col("email").isNull).count() == 3L)
    assert(r.components("c_score").filter(col("score").isNull).count() == 1L)
  }

  test("a cycle opens each planned archive twice: one driver header read " +
      "and one executor read, however many components it writes") {
    val spec = Config.parse(graft.sources.PipelineFixture.configYaml)
    val bucket = graft.sources.PipelineFixture.ensure()
    val out = Files.createTempDirectory("graft_components_out")
    var written = 0
    val opened = archivesOpenedDuring {
      val r = Pipeline.run(spark, spec, "cycle_t", Map("bucket1" -> bucket))
      r.components.foreach { case (c, df) =>
        df.write.mode("overwrite").parquet(out.resolve(c).toString); written += 1
      }
    }
    val archives = graft.sources.Listing.planFiles(spark, bucket,
      spec.fetch("cycle_t")("bucket1").include.map(_.r))
    assert(written == 2 && archives.size == 2)
    assert(opened == 2L * archives.size, s"opened $opened times")
  }

  test("a cycle launches one job for the shared map stage and one per " +
      "component write, and persists nothing") {
    val spec = Config.parse(graft.sources.PipelineFixture.configYaml)
    val bucket = graft.sources.PipelineFixture.ensure()
    val out = Files.createTempDirectory("graft_components_jobs")
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    var r: Pipeline.Result = null
    // adaptive execution (on in this session) runs the map stage in run
    val runJobs = jobsDuring {
      r = Pipeline.run(spark, spec, "cycle_t", Map("bucket1" -> bucket))
    }
    val writeJobs = jobsDuring {
      r.components.foreach { case (c, df) =>
        df.write.mode("overwrite").parquet(out.resolve(c).toString)
      }
    }
    assert(r.components.size == 2)
    assert(runJobs == 1 && writeJobs == r.components.size,
      s"run $runJobs jobs, writes $writeJobs jobs")
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted)
  }

  test("with adaptive execution off, run launches no job and the first " +
      "component write runs the shared map stage for every component") {
    val spec = Config.parse(graft.sources.PipelineFixture.configYaml)
    val bucket = graft.sources.PipelineFixture.ensure()
    val out = Files.createTempDirectory("graft_components_noaqe")
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      var r: Pipeline.Result = null
      val runJobs = jobsDuring {
        r = Pipeline.run(spark, spec, "cycle_t", Map("bucket1" -> bucket))
      }
      var writeJobs = 0
      val opened = archivesOpenedDuring {
        writeJobs = jobsDuring {
          r.components.foreach { case (c, df) =>
            df.write.mode("overwrite").parquet(out.resolve(c).toString)
          }
        }
      }
      assert(runJobs == 0 && writeJobs == r.components.size,
        s"run $runJobs jobs, writes $writeJobs jobs")
      // each of the two archives is read once, by the first write's map stage
      assert(opened == 2L, s"the writes opened $opened archives")
    } finally spark.conf.set(key, before)
  }

  test("SharedScans.relations: each frame reads its slice of partitions; " +
      "slices that miss a partition give every frame the whole result") {
    import org.apache.spark.sql.graftbridge.SharedScans
    val df = spark.range(0, 40).withColumn("p", (col("id") % 4).cast("int"))
      .repartitionById(4, col("p"))
    val frames = SharedScans.relations(df, "slices", Seq(0 until 1, 1 until 4))
    assert(frames.map(_.collect().map(_.getInt(1)).toSet) == Seq(Set(0), Set(1, 2, 3)))
    assert(frames.map(_.count()) == Seq(10L, 30L))
    val whole = SharedScans.relations(df, "slices", Seq(0 until 2))
    assert(whole.map(_.count()) == Seq(40L))
  }
}
