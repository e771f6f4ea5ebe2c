package graft

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.sources.{Listing, RawTable, ZipSource}

class IngestSpec extends SparkSpec {

  private def writeZip(dir: Path, name: String, content: String,
                       charset: Charset): String = {
    val f = dir.resolve(name).toFile
    val zos = new ZipOutputStream(new FileOutputStream(f))
    zos.putNextEntry(new ZipEntry(name.stripSuffix(".zip") + ".txt"))
    zos.write(content.getBytes(charset))
    zos.closeEntry(); zos.close()
    f.getAbsolutePath
  }

  test("tableName derivation: basename, first-dot strip, lowercase") {
    assert(RawTable.tableName("/a/b/VR_Snapshot_20240514.zip") == "vr_snapshot_20240514")
    assert(RawTable.tableName("ncvoter_Statewide.zip") == "ncvoter_statewide")
    assert(RawTable.tableName("x/Candidate_Listing_2024.csv") == "candidate_listing_2024")
  }

  test("dispatch picks encoding/sep/repair by filename pattern") {
    assert(RawTable.dispatch("VR_Snapshot_20240514.zip").encoding == "UTF-16")
    // vintage keys off the LAST underscore token (reference ${base##*_})
    assert(RawTable.dispatch("VR_Snapshot_20060101.zip").encoding == "ISO-8859-1")
    assert(RawTable.dispatch("VR_Snapshot_NC_20060101.zip").encoding == "ISO-8859-1")
    assert(RawTable.dispatch("VR_Snapshot_2006_something.zip").encoding == "UTF-16")
    assert(RawTable.dispatch("Candidate_Listing_2024.csv").extraNullColumns == Seq("email"))
    assert(RawTable.dispatch("unknown.tsv") == graft.sources.SourceSpec())
  }

  test("zip lines: UTF-16 TSV round-trips through streaming decode") {
    val dir = Files.createTempDirectory("graft_zip")
    val content = "County ID\tNCID\n1\tAB123\n2\tCD456\n"
    val p = writeZip(dir, "VR_Snapshot_20240514.zip", content, StandardCharsets.UTF_16)
    val lines = ZipSource.lines(spark, Seq(p), StandardCharsets.UTF_16).collect()
    assert(lines.toSeq == Seq("County ID\tNCID", "1\tAB123", "2\tCD456"))
  }

  test("full load: zip + charset + header normalization + all-string schema") {
    val dir = Files.createTempDirectory("graft_load")
    val content = "County ID\tLast Name\n32\tO\"BRIEN\n11\tSMITH\n"
    val p = writeZip(dir, "VR_Snapshot_20240101.zip", content, StandardCharsets.UTF_16)
    val (name, df) = RawTable.load(spark, p)
    assert(name == "vr_snapshot_20240101")
    assert(df.columns.toSeq == Seq("county_id", "last_name"))
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
    val rows = df.orderBy("county_id").collect().map(_.toSeq)
    assert(rows.toSeq == Seq(Seq("11", "SMITH"), Seq("32", "O'BRIEN")))
  }

  test("csv load with repair and email column (Candidate_Listing path)") {
    val dir = Files.createTempDirectory("graft_csv")
    val f = dir.resolve("Candidate_Listing_2024.csv")
    // JOSÉ in ISO-8859-1: É = 0xC9, invalid as UTF-8 — proves the
    // charset-aware line reader is actually decoding LATIN1.
    Files.write(f, "Name,Office\nO\"HARA,Judge\nJOSÉ,Clerk\n"
      .getBytes(StandardCharsets.ISO_8859_1))
    val (name, df) = RawTable.load(spark, f.toString)
    assert(name == "candidate_listing_2024")
    assert(df.columns.toSeq == Seq("name", "office", "email"))
    val rows = df.orderBy("office").collect()
    assert(rows(1).getString(0) == "O'HARA" && rows(1).isNullAt(2))
    assert(rows(0).getString(0) == "JOSÉ")
  }

  test("audited read captures malformed rows instead of dropping them") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_audit")
    val f = dir.resolve("data.csv")
    Files.write(f, "a,b\n1,2\nnot_an_int,5\n3,4\n".getBytes(StandardCharsets.UTF_8))
    val schema = StructType(Seq(StructField("a", IntegerType), StructField("b", IntegerType)))
    // Spark disallows querying only the corrupt column off the raw
    // file — materialize first (cache), as its own error message advises.
    val df = RawTable.readCleanAudited(spark, f.toString,
      graft.sources.SourceSpec(sep = ","), schema).cache()
    val bad = df.filter(org.apache.spark.sql.functions.col("_corrupt_line").isNotNull)
      .collect()
    assert(bad.length == 1 && bad.head.getString(2).startsWith("not_an_int"))
    assert(df.filter(org.apache.spark.sql.functions.col("_corrupt_line").isNull).count() == 2)
  }

  test("hash sampling: deterministic, disjoint train/test split") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val df = (1L to 1000L).toDF("k")
    val s1 = graft.operators.Sampling.hashSample(df, col("k"), 0.2).collect().map(_.getLong(0)).toSet
    val s2 = graft.operators.Sampling.hashSample(df, col("k"), 0.2).collect().map(_.getLong(0)).toSet
    assert(s1 == s2)
    assert(s1.size > 100 && s1.size < 300) // ~20%
    val (train, test) = graft.operators.Sampling.trainTestSplit(df, col("k"), 0.25)
    val (tr, te) = (train.collect().map(_.getLong(0)).toSet, test.collect().map(_.getLong(0)).toSet)
    assert(tr.intersect(te).isEmpty)
    assert(tr.size + te.size == 1000)
  }

  test("manifest keys + include filter: regex OR, dir exclusion, dedup") {
    val dir = Files.createTempDirectory("graft_manifest")
    val manifest =
      """{"Versions": [
        |  {"Key": "data/ncvoter_Statewide.zip", "VersionId": "1"},
        |  {"Key": "data/ncvoter_Statewide.zip", "VersionId": "2"},
        |  {"Key": "data/", "VersionId": "3"},
        |  {"Key": "other/readme.md", "VersionId": "4"},
        |  {"Key": "Snapshots/VR_Snapshot_20240514.zip", "VersionId": "5"}
        |]}""".stripMargin
    val f = dir.resolve("versions.json")
    Files.write(f, manifest.getBytes(StandardCharsets.UTF_8))
    val keys = Listing.keys(spark, f.toString)
    val out = Listing.includeFilter(keys,
      Seq("_Statewide\\.zip$", "Snapshots/VR_Snapshot_"))
      .collect().map(_.getString(0)).sorted
    assert(out.toSeq == Seq("Snapshots/VR_Snapshot_20240514.zip", "data/ncvoter_Statewide.zip"))
  }

  test("planFiles prunes by pattern before any scan") {
    val dir = Files.createTempDirectory("graft_plan")
    Files.write(dir.resolve("keep_Statewide.zip"), Array[Byte](1))
    Files.write(dir.resolve("skip.txt"), Array[Byte](1))
    val planned = Listing.planFiles(spark, dir.toString, Seq("_Statewide\\.zip$".r))
    assert(planned.size == 1 && planned.head.endsWith("keep_Statewide.zip"))
  }

  test("temporalPatterns: statewide + 2 snapshot years + 9 election years") {
    val p = Listing.temporalPatterns(2024)
    assert(p.contains("Snapshots/VR_Snapshot_2023"))
    assert(p.contains("Snapshots/VR_Snapshot_2024"))
    assert(p.count(_.startsWith("Elections/")) == 9)
    assert(p.contains("Elections/2016") && !p.contains("Elections/2015"))
  }

  test("TarSource: two-member gzip'd ustar concatenates across member " +
      "boundaries with per-member BOMs; non-regular members skip") {
    graft.sources.TarFixture.ensure()
    val lines = graft.sources.TarSource.lines(spark,
        Seq(graft.sources.TarFixture.tarGzPath),
        Charset.forName("UTF-16"))
      .collect()
    assert(lines.length == 5, lines.mkString("|"))
    assert(lines.head.startsWith("County ID"))
    assert(lines(3).contains("MÜLLER") && lines(4).contains("JONES"))
    // a directory member between two files is skipped whole
    val out = new ByteArrayOutputStream()
    out.write(graft.sources.TarFixture.member("a.txt",
      "h1\tv\nr1\tx\n".getBytes(StandardCharsets.UTF_8)))
    val dirHeader = graft.sources.TarFixture.member("d/", Array.emptyByteArray)
      .clone()
    dirHeader(156) = '5' // typeflag: directory — checksum now stale, so
    // rebuild it the way the writer does
    java.util.Arrays.fill(dirHeader, 148, 156, ' '.toByte)
    val sum = dirHeader.take(512).map(_ & 0xFF).sum
    System.arraycopy(f"$sum%06o  ".getBytes(StandardCharsets.US_ASCII), 0,
      dirHeader, 148, 8)
    out.write(dirHeader)
    out.write(graft.sources.TarFixture.member("b.txt",
      "r2\ty\n".getBytes(StandardCharsets.UTF_8)))
    out.write(new Array[Byte](1024))
    val p = Files.createTempFile("graft_tar_spec", ".tar")
    Files.write(p, out.toByteArray)
    val got = graft.sources.TarSource.lines(spark, Seq(p.toString),
      StandardCharsets.UTF_8).collect().toSeq
    assert(got == Seq("h1\tv", "r1\tx", "r2\ty"), got.mkString("|"))
  }

  test("TarSource.members: binary round-trip through a shard; an " +
      "oversized member fails loudly") {
    val payload = Array.tabulate[Byte](700)(i => (i % 251).toByte)
    val out = new ByteArrayOutputStream()
    out.write(graft.sources.TarFixture.member("bin.dat", payload))
    out.write(new Array[Byte](1024))
    val p = Files.createTempFile("graft_tar_bin", ".tar")
    Files.write(p, out.toByteArray)
    val got = graft.sources.TarSource.members(spark, Seq(p.toString))
      .collect()
    assert(got.length == 1 && got.head.getString(1) == "bin.dat")
    assert(got.head.getAs[Array[Byte]](2).toSeq == payload.toSeq)
    // a member past maxMemberBytes is a loud refusal, not a quiet OOM
    val e = intercept[org.apache.spark.SparkException] {
      graft.sources.TarSource.members(spark, Seq(p.toString),
        maxMemberBytes = 100L).collect()
    }
    assert(e.getMessage.contains("maxMemberBytes") ||
      Option(e.getCause).exists(_.getMessage.contains("maxMemberBytes")))
  }

  test("TarSource: a corrupted header checksum fails loudly, never " +
      "guesses at framing") {
    val bytes = graft.sources.TarFixture.archiveBytes.clone()
    bytes(148) = '7' // stomp the checksum field
    val p = Files.createTempFile("graft_tar_bad", ".tar")
    Files.write(p, bytes)
    val e = intercept[org.apache.spark.SparkException] {
      graft.sources.TarSource.lines(spark, Seq(p.toString),
        StandardCharsets.UTF_16).collect()
    }
    assert(e.getMessage.contains("checksum") ||
      Option(e.getCause).exists(_.getMessage.contains("checksum")),
      s"got: ${e.getMessage}")
  }

  /** Clone a fixture header block, mutate it, rebuild the checksum the
    * way the writer does — the dirHeader precedent above. */
  private def remint(block: Array[Byte])(mutate: Array[Byte] => Unit): Array[Byte] = {
    val h = block.clone()
    mutate(h)
    java.util.Arrays.fill(h, 148, 156, ' '.toByte)
    val sum = h.take(512).map(_ & 0xFF).sum
    System.arraycopy(f"$sum%06o  ".getBytes(StandardCharsets.US_ASCII), 0,
      h, 148, 8)
    h
  }

  test("TarSource.members: ustar prefix field joins into the member " +
      "name; a GNU 'L' long-name extension fails loudly") {
    val data = "x".getBytes(StandardCharsets.UTF_8)
    val withPrefix = remint(graft.sources.TarFixture.member("leaf.png", data)) { h =>
      val p = "shard0001/images".getBytes(StandardCharsets.US_ASCII)
      System.arraycopy(p, 0, h, 345, p.length)
    }
    val out = new ByteArrayOutputStream()
    out.write(withPrefix)
    out.write(new Array[Byte](1024))
    val p = Files.createTempFile("graft_tar_prefix", ".tar")
    Files.write(p, out.toByteArray)
    val got = graft.sources.TarSource.members(spark, Seq(p.toString)).collect()
    assert(got.length == 1 &&
      got.head.getString(1) == "shard0001/images/leaf.png", got.mkString("|"))
    // GNU 'L': skipping it would mis-key the NEXT member silently —
    // the walk must refuse instead
    val gnuL = remint(graft.sources.TarFixture.member(
      "././@LongLink", "a/very/long/path ".getBytes)) { h => h(156) = 'L' }
    val out2 = new ByteArrayOutputStream()
    out2.write(gnuL)
    out2.write(graft.sources.TarFixture.member("truncated.name", data))
    out2.write(new Array[Byte](1024))
    val p2 = Files.createTempFile("graft_tar_gnul", ".tar")
    Files.write(p2, out2.toByteArray)
    val e = intercept[org.apache.spark.SparkException] {
      graft.sources.TarSource.members(spark, Seq(p2.toString)).collect()
    }
    assert(e.getMessage.contains("long-name") ||
      Option(e.getCause).exists(_.getMessage.contains("long-name")),
      s"got: ${e.getMessage}")
  }

  test("TarSource.members: old-GNU magic ('ustar  \\0') does NOT enable " +
      "the prefix field — offset 345 holds atime there, and honoring it " +
      "would prepend garbage to the member name") {
    val data = "y".getBytes(StandardCharsets.UTF_8)
    val oldGnu = remint(graft.sources.TarFixture.member("plain.txt", data)) { h =>
      // old-GNU magic: "ustar  \0" spans 257..264 (no separate version)
      val m = Array[Byte]('u', 's', 't', 'a', 'r', ' ', ' ', 0)
      System.arraycopy(m, 0, h, 257, m.length)
      // --incremental archives put octal atime at 345: non-NUL bytes
      // that a loose 'ustar' check would read as a path prefix
      val atime = "12345670123 ".getBytes(StandardCharsets.US_ASCII)
      System.arraycopy(atime, 0, h, 345, atime.length)
    }
    val out = new ByteArrayOutputStream()
    out.write(oldGnu)
    out.write(new Array[Byte](1024))
    val p = Files.createTempFile("graft_tar_oldgnu", ".tar")
    Files.write(p, out.toByteArray)
    val got = graft.sources.TarSource.members(spark, Seq(p.toString)).collect()
    assert(got.length == 1 && got.head.getString(1) == "plain.txt",
      got.mkString("|"))
  }

  test("TarSource.members: a cap above Int.MaxValue is refused up " +
      "front (size.toInt would wrap, mis-framing a >2GiB member)") {
    val e = intercept[IllegalArgumentException] {
      graft.sources.TarSource.members(spark, Seq("/nonexistent.tar"),
        maxMemberBytes = Int.MaxValue.toLong + 1)
    }
    assert(e.getMessage.contains("Int.MaxValue"))
  }

  test("archive streams close at task end, not stream EOF: limit(1) " +
      "abandons the member iterator mid-archive without leaking") {
    graft.sources.TarFixture.ensure()
    val o0 = graft.sources.ArchiveStreamAudit.opened.get()
    val c0 = graft.sources.ArchiveStreamAudit.closed.get()
    // tar path: 5 data lines across two members; take 1 and abandon
    val one = graft.sources.TarSource.lines(spark,
      Seq(graft.sources.TarFixture.tarGzPath), Charset.forName("UTF-16"))
      .limit(1).collect()
    assert(one.length == 1)
    // zip path: same short-circuit through ZipSource.lines
    val dir = Files.createTempDirectory("graft_zip_leak")
    val zp = writeZip(dir, "leak_check.zip", "h\n" + ("r\n" * 5000),
      StandardCharsets.UTF_8)
    val zOne = ZipSource.lines(spark, Seq(zp), StandardCharsets.UTF_8)
      .limit(1).collect()
    assert(zOne.length == 1)
    // task-completion listeners run on the task thread before the job
    // returns, so by now every opened archive stream must be closed
    val dOpen = graft.sources.ArchiveStreamAudit.opened.get() - o0
    val dClose = graft.sources.ArchiveStreamAudit.closed.get() - c0
    assert(dOpen >= 2 && dClose == dOpen, s"opened $dOpen closed $dClose")
  }

  /** A zip of (entry name, bytes) entries, in order. */
  private def writeZipEntries(dir: Path, name: String,
                              entries: Seq[(String, Array[Byte])]): String = {
    val f = dir.resolve(name).toFile
    val zos = new ZipOutputStream(new FileOutputStream(f))
    entries.foreach { case (e, b) =>
      zos.putNextEntry(new ZipEntry(e)); zos.write(b); zos.closeEntry()
    }
    zos.close()
    f.getAbsolutePath
  }

  test("building RawTable.load for a zipped, a repaired plain and a clean " +
      "file, and the tar parse, launches no Spark job") {
    val dir = Files.createTempDirectory("graft_nojob")
    val zipped = writeZip(dir, "VR_Snapshot_20240101.zip",
      "County ID\tLast Name\n32\tO\"BRIEN\n11\tSMITH\n", StandardCharsets.UTF_16)
    val plain = dir.resolve("Candidate_Listing_2024.csv")
    Files.write(plain, "Name,Office\nO\"HARA,Judge\n"
      .getBytes(StandardCharsets.ISO_8859_1))
    val clean = dir.resolve("clean.tsv")
    Files.write(clean, "Id\tCity Name\n1\tRaleigh\n".getBytes(StandardCharsets.UTF_8))
    graft.sources.TarFixture.ensure()
    val tar = Seq(graft.sources.TarFixture.tarGzPath)
    val utf16 = Charset.forName("UTF-16")
    var frames = Seq.empty[org.apache.spark.sql.DataFrame]
    val jobs = jobsDuring {
      frames = Seq(zipped, plain.toString, clean.toString)
        .map(RawTable.load(spark, _)._2) :+
        RawTable.parseLines(spark, graft.sources.TarSource.lines(spark, tar, utf16),
          graft.sources.TarSource.header(spark, tar, utf16),
          graft.sources.SourceSpec(encoding = "UTF-16", repair = true))
    }
    assert(jobs == 0, s"building the frames launched $jobs jobs")
    assert(frames.map(_.columns.toSeq) == Seq(Seq("county_id", "last_name"),
      Seq("name", "office", "email"), Seq("id", "city_name"),
      Seq("county_id", "last_name", "note")))
    assert(frames.map(_.count()) == Seq(2L, 1L, 1L, 4L))
  }

  test("ZipSource and TarSource read each path in its own partition, in " +
      "path order, with no exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.{col, spark_partition_id}
    val dir = Files.createTempDirectory("graft_spread")
    val zips = (0 until 3).map(i => writeZip(dir, s"z$i.zip", s"h\nzip$i\n",
      StandardCharsets.UTF_8))
    val tars = (0 until 3).map { i =>
      val out = new ByteArrayOutputStream()
      out.write(graft.sources.TarFixture.member(s"m$i.txt",
        s"h\ntar$i\n".getBytes(StandardCharsets.UTF_8)))
      out.write(new Array[Byte](1024))
      val p = dir.resolve(s"t$i.tar"); Files.write(p, out.toByteArray); p.toString
    }
    val frames = Seq(
      ZipSource.lines(spark, zips, StandardCharsets.UTF_8).toDF("value"),
      graft.sources.TarSource.lines(spark, tars, StandardCharsets.UTF_8).toDF("value"),
      graft.sources.TarSource.members(spark, tars).select(col("archive").as("value")))
    frames.zip(Seq("zip", "tar", "t")).foreach { case (df, tag) =>
      assert(df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e }.isEmpty, df.queryExecution.executedPlan)
      val byPart = df.select(spark_partition_id(), col("value")).collect()
        .filter(_.getString(1).contains(tag))
        .map(r => r.getInt(0) -> r.getString(1)).toSeq
      assert(byPart.map(_._1) == Seq(0, 1, 2), byPart)
      assert(byPart.map(_._2).zipWithIndex.forall { case (v, i) => v.contains(s"$tag$i") },
        byPart)
    }
  }

  /** The load path this change replaced, kept only as the reference:
    * header discovery and parse by `DataFrameReader.csv(Dataset[String])`
    * over the same decoded lines. */
  private def referenceLoad(path: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val spec = RawTable.dispatch(path.substring(path.lastIndexOf('/') + 1))
    val cs = Charset.forName(spec.encoding)
    val lines =
      if (spec.zipped) ZipSource.lines(spark, Seq(path), cs)
      else if (spec.repair) ZipSource.textLines(spark, Seq(path), cs)
      else null
    val parsed =
      if (lines == null)
        spark.read.option("header", "true").option("sep", spec.sep)
          .option("encoding", spec.encoding).option("inferSchema", "false")
          .option("mode", "PERMISSIVE").option("quote", if (spec.quoted) "\"" else "")
          .csv(path)
      else {
        val repaired =
          if (spec.repair)
            lines.select(graft.sources.TextRepair.repairLine(col("value")).as("value")).as[String]
          else lines
        referenceParse(repaired, spec)
      }
    spec.extraNullColumns.foldLeft(graft.sources.TextRepair.normalizeHeader(parsed)) {
      (df, c) => graft.operators.Components.withNullColumn(df, c)
    }
  }

  private def referenceParse(lines: org.apache.spark.sql.Dataset[String],
                             spec: graft.sources.SourceSpec) =
    spark.read.option("header", "true").option("sep", spec.sep)
      .option("inferSchema", "false").option("mode", "PERMISSIVE")
      .option("quote", if (spec.quoted) "\"" else "")
      .csv(lines)

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[Seq[Option[Any]]] =
    df.collect().toSeq.map(_.toSeq.map(Option(_))).sortBy(_.toString)

  test("differential: RawTable.load equals the DataFrameReader.csv(Dataset) " +
      "parse on blank lines, repeated headers, odd header names, ragged " +
      "rows, quoted separators, BOMs, header-only and empty archives") {
    val dir = Files.createTempDirectory("graft_diff")
    val u16 = StandardCharsets.UTF_16
    val l1 = StandardCharsets.ISO_8859_1
    def utf16le(s: String): Array[Byte] =
      Array(0xFF.toByte, 0xFE.toByte) ++ s.getBytes(StandardCharsets.UTF_16LE)
    val header = "County ID\tLast Name\tNote"
    val cases: Seq[(String, String)] = Seq(
      "blank lines" -> writeZip(dir, "VR_Snapshot_20240101.zip",
        s"\n\n$header\n\n1\tO\"BRIEN\tx\n   \n\n2\tSMITH\the is \"5' 10\" tall\n\n", u16),
      "header repeated mid-file and in a second entry" ->
        writeZipEntries(dir, "VR_Snapshot_20240102.zip", Seq(
          "a.txt" -> s"$header\n1\tA\tx\n$header\n2\tB\ty\n".getBytes(u16),
          "b.txt" -> s"$header\n3\tC\tz\n".getBytes(u16))),
      "UTF-16LE BOM per entry, directory entry between" ->
        writeZipEntries(dir, "VR_Snapshot_20240103.zip", Seq(
          "a.txt" -> utf16le(s"$header\n1\tMÜLLER\tcafé\n"),
          "d/" -> Array.emptyByteArray,
          "b.txt" -> utf16le("2\tJONES\tsecond\n"))),
      "duplicate and empty header names" -> writeZip(dir,
        "VR_Snapshot_20240104.zip",
        "Name\tname\t\tB b\tb_b\tName\n1\t2\t3\t4\t5\t6\n", u16),
      "short and long rows" -> writeZip(dir, "VR_Snapshot_20240105.zip",
        s"$header\n1\n2\tB\n3\tC\tz\textra\tmore\n", u16),
      "header-only file" -> writeZip(dir, "VR_Snapshot_20240106.zip",
        s"$header\n", u16),
      "empty archive" -> writeZipEntries(dir, "VR_Snapshot_20240107.zip", Nil),
      "blank-only entry" -> writeZip(dir, "VR_Snapshot_20240108.zip",
        "\n  \n\n", u16),
      "LATIN1 clean zip, quote-blind" -> writeZip(dir, "ncvoter_Statewide.zip",
        "Voter Id\tNote\n1\t\"quoted, kept\"\n2\tJOSÉ\n", l1),
      "quoted CSV with embedded separators, repaired plain file" -> {
        val f = dir.resolve("Candidate_Listing_2024.csv")
        Files.write(f, ("\"Name\",\"Office\",Note\n\"SMITH, JOHN\",\"Judge, Dist 2\"," +
          "O\"HARA\n\n\"SHORT\"\n\"A\",\"B\",\"C\",\"D\"\n\"Name\",\"Office\",Note\n")
          .getBytes(l1))
        f.toString
      },
      "clean plain file" -> {
        val f = dir.resolve("clean.tsv")
        Files.write(f, s"\n$header\n1\tA\n\n2\tB\tz\tw\n   \n"
          .getBytes(StandardCharsets.UTF_8))
        f.toString
      })
    cases.foreach { case (name, path) =>
      val (_, got) = RawTable.load(spark, path)
      val want = referenceLoad(path)
      assert(got.schema == want.schema, s"$name: ${got.schema} != ${want.schema}")
      assert(rowsOf(got) == rowsOf(want), s"$name")
    }
    // the cases are not vacuous
    assert(RawTable.load(spark, cases(1)._2)._2.count() == 3L)
    assert(RawTable.load(spark, cases(3)._2)._2.columns.toSeq ==
      Seq("name0", "name1", "_c2", "b_b", "b_b", "name5"))
    assert(RawTable.load(spark, cases(6)._2)._2.columns.isEmpty)
  }

  test("differential: a tab-only line is blank by Java trim, as a file " +
      "scan drops it; the Dataset reader's SQL trim kept it as a null row") {
    import spark.implicits._
    val text = "a\tb\n1\t2\n\t\n \t \n3\t4\n"
    val dir = Files.createTempDirectory("graft_tabs")
    val zipped = writeZip(dir, "VR_Snapshot_20240101.zip", text, StandardCharsets.UTF_16)
    val clean = dir.resolve("clean.tsv")
    Files.write(clean, text.getBytes(StandardCharsets.UTF_8))
    val want = Seq(Seq(Some("1"), Some("2")), Seq(Some("3"), Some("4")))
    assert(rowsOf(RawTable.load(spark, zipped)._2) == want)
    assert(rowsOf(spark.read.option("header", "true").option("sep", "\t")
      .csv(clean.toString)) == want)
    val lines = text.split("\n", -1).toSeq.init
    val spec = graft.sources.SourceSpec()
    assert(rowsOf(referenceParse(lines.toDS(), spec)) ==
      (want :+ Seq(None, None) :+ Seq(Some(" "), Some(" "))).sortBy(_.toString))
    assert(rowsOf(referenceParse(lines.filter(_.trim.nonEmpty).toDS(), spec)) == want)
  }

  test("the shared compress scan's optimized and physical plans evaluate " +
      "each source's repair chain and CSV parse once per line") {
    import org.apache.spark.sql.catalyst.expressions.{CsvToStructs, Expression, RegExpReplace}
    import org.apache.spark.sql.catalyst.plans.QueryPlan
    import org.apache.spark.sql.execution.QueryExecution
    val bucket = graft.sources.PipelineFixture.ensure()
    // the bridge runs the shared scan as one SQL execution named
    // "compress <database>"; its QueryExecution reaches this listener
    val scans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "compress cycle_t") scans.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val r = try {
      val r = graft.operators.Pipeline.run(spark,
        graft.core.Config.parse(graft.sources.PipelineFixture.configYaml),
        "cycle_t", Map("bucket1" -> bucket))
      org.apache.spark.graftbridge.ListenerBus.drain(spark.sparkContext)
      r
    } finally spark.listenerManager.unregister(listener)
    def count(plan: QueryPlan[_])(pf: PartialFunction[Expression, Expression]): Int =
      plan.collect { case n: QueryPlan[_] => n.expressions.map(_.collect(pf).size).sum }.sum
    // one repaired source (the VR snapshot), two regexp_replace per chain
    val vr = r.tables("vr_snapshot_20240601").queryExecution.optimizedPlan
    assert(count(vr) { case e: RegExpReplace => e } == 2, vr)
    assert(scans.size == 1, s"${scans.size} shared scans")
    val qe = scans.peek()
    // both archives are parsed from lines; the VR snapshot alone is repaired
    Seq(qe.optimizedPlan, qe.sparkPlan).foreach { plan =>
      assert(count(plan) { case e: RegExpReplace => e } == 2, plan)
      assert(count(plan) { case e: CsvToStructs => e } == 2, plan)
    }
    // the components read the shared result, not the sources
    assert(r.components.size == 2)
    r.components.foreach { case (c, df) =>
      val plan = df.queryExecution.optimizedPlan
      assert(count(plan) { case e: RegExpReplace => e } == 0, s"$c\n$plan")
      assert(count(plan) { case e: CsvToStructs => e } == 0, s"$c\n$plan")
    }
  }

  test("planFiles walks nested directories with listStatus: files only, " +
      "patterns over the whole path, sorted, no located listing") {
    val root = Files.createTempDirectory("graft_walk")
    Seq("a/b/c", "empty", "x_Statewide.zip").foreach(d => Files.createDirectories(root.resolve(d)))
    val kept = Seq("z_Statewide.zip", "a/ncvoter_Statewide.zip", "a/b/c/VR_Snapshot_2024.zip")
    // decoys: non-matching names, a matching directory and a file under it
    val decoys = Seq("a/readme.txt", "a/b/VR_Snapshot_2024.zip.sha256", "x_Statewide.zip/inner.txt")
    (kept ++ decoys).foreach(f => Files.write(root.resolve(f), Array[Byte](1)))
    val patterns = Seq("_Statewide\\.zip$".r, "VR_Snapshot_.*\\.zip$".r)
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.nolocated.impl", classOf[graft.sources.NoLocatedStatusFs].getName)
    val want = kept.map(f => s"file:${root.resolve(f)}").sorted
    assert(Listing.planFiles(spark, root.toString, patterns) == want)
    assert(Listing.planFiles(spark, s"nolocated:$root", patterns) ==
      want.map(_.replaceFirst("^file:", "nolocated:")))
    assert(Listing.planFiles(spark, s"nolocated:$root", Nil).size == kept.size + decoys.size)
    // the file system refuses located listings, so a walk through
    // listFiles cannot pass the assertions above
    val fs = new org.apache.hadoop.fs.Path(s"nolocated:$root").getFileSystem(conf)
    intercept[UnsupportedOperationException] {
      fs.listFiles(new org.apache.hadoop.fs.Path(s"nolocated:$root"), true).hasNext
    }
  }
}
