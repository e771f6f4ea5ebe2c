package graft

import java.io.FileOutputStream
import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}

class ZipLinesSourceSpec extends SparkSpec {

  private def writeZip(dir: Path, name: String, entries: Seq[(String, String)],
                       charset: Charset): String = {
    val f = dir.resolve(name).toFile
    val zos = new ZipOutputStream(new FileOutputStream(f))
    entries.foreach { case (entry, content) =>
      zos.putNextEntry(new ZipEntry(entry))
      zos.write(content.getBytes(charset))
      zos.closeEntry()
    }
    zos.close()
    f.getAbsolutePath
  }

  test("ziplines: rows with provenance, UTF-16 decode, multi-entry") {
    val dir = Files.createTempDirectory("graft_zl")
    val p = writeZip(dir, "a.zip",
      Seq("x.txt" -> "héllo\nwörld\n", "y.txt" -> "second\n"),
      StandardCharsets.UTF_16)
    val df = spark.read.format("ziplines").option("charset", "UTF-16").load(p)
    assert(df.columns.toSeq == Seq("value", "path", "entry"))
    val rows = df.collect().map(r => (r.getString(0), r.getString(2)))
    assert(rows.toSeq == Seq(("héllo", "x.txt"), ("wörld", "x.txt"), ("second", "y.txt")))
    assert(rows.forall(_ => true) && df.select("path").distinct().count() == 1)
  }

  test("ziplines: one partition per archive, glob + directory resolution") {
    val dir = Files.createTempDirectory("graft_zl2")
    writeZip(dir, "a.zip", Seq("a.txt" -> "1\n2\n"), StandardCharsets.UTF_8)
    writeZip(dir, "b.zip", Seq("b.txt" -> "3\n"), StandardCharsets.UTF_8)
    Files.write(dir.resolve("ignore.txt"), "zz".getBytes)
    val byGlob = spark.read.format("ziplines").load(dir.toString + "/*.zip")
    assert(byGlob.rdd.getNumPartitions == 2)
    assert(byGlob.count() == 3)
    // a directory load picks only .zip members
    val byDir = spark.read.format("ziplines").load(dir.toString)
    assert(byDir.count() == 3)
  }

  test("ziplines: one partition per ENTRY via central directory") {
    val dir = Files.createTempDirectory("graft_zl5")
    val p = writeZip(dir, "multi.zip",
      (1 to 5).map(i => s"part$i.txt" -> s"line a $i\nline b $i\n"),
      StandardCharsets.UTF_8)
    val df = spark.read.format("ziplines").load(p)
    assert(df.rdd.getNumPartitions == 5)
    assert(df.count() == 10)
    // entry provenance survives the split and lines stay with their entry
    val byEntry = df.collect().groupBy(_.getString(2)).view.mapValues(_.length).toMap
    assert(byEntry == (1 to 5).map(i => s"part$i.txt" -> 2).toMap)
  }

  test("ziplines: sizeable deflated entries round-trip exactly") {
    val dir = Files.createTempDirectory("graft_zl6")
    val content = (1 to 5000).map(i => s"row $i with some repetitive text")
    val p = writeZip(dir, "big.zip",
      Seq("big.txt" -> (content.mkString("\n") + "\n"),
        "small.txt" -> "tail\n"),
      StandardCharsets.UTF_8)
    val df = spark.read.format("ziplines").load(p)
    assert(df.rdd.getNumPartitions == 2)
    val got = df.filter(org.apache.spark.sql.functions.col("entry") === "big.txt")
      .collect().map(_.getString(0))
    assert(got.length == 5000 && got.head == content.head && got.last == content.last)
  }

  test("ziplines: column pruning reaches the scan") {
    val dir = Files.createTempDirectory("graft_zl3")
    val p = writeZip(dir, "c.zip", Seq("c.txt" -> "only\n"), StandardCharsets.UTF_8)
    val pruned = spark.read.format("ziplines").load(p).select("value")
    val scans = pruned.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty)
    assert(scans.head.scan.readSchema().fieldNames.toSeq == Seq("value"))
    assert(pruned.collect().map(_.getString(0)).toSeq == Seq("only"))
  }

  test("ziplines: SQL surface via TVF-style temp view") {
    val dir = Files.createTempDirectory("graft_zl4")
    val p = writeZip(dir, "d.zip", Seq("d.txt" -> "sql row\n"), StandardCharsets.UTF_8)
    spark.read.format("ziplines").load(p).createOrReplaceTempView("zl")
    assert(spark.sql("SELECT value FROM zl").collect().head.getString(0) == "sql row")
  }

  test("ziplines: an EOCD whose directory size overruns the file falls " +
      "back to streaming instead of sizing a buffer from it") {
    val dir = Files.createTempDirectory("graft_zl7")
    val p = writeZip(dir, "e.zip",
      (1 to 3).map(i => s"e$i.txt" -> s"first $i\nsecond $i\n"),
      StandardCharsets.UTF_8)
    val path = new org.apache.hadoop.fs.Path(p)
    val conf = spark.sessionState.newHadoopConf()
    val want = spark.read.format("ziplines").load(p)
      .collect().map(r => (r.getString(0), r.getString(2))).sorted.toSeq
    assert(want.size == 6)
    assert(graft.sources.v2.CentralDirectory.entries(path, conf)
      .exists(_.size == 3))
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(p))
    // no archive comment: the EOCD is the final 22 bytes; cdSize is
    // the little-endian u32 at EOCD + 12
    val cdSizeAt = bytes.length - 22 + 12
    for (corrupt <- Seq(0x7FFFFFF0L, 0x80000010L)) {
      val b = bytes.clone()
      (0 until 4).foreach(j => b(cdSizeAt + j) = ((corrupt >>> (8 * j)) & 0xFF).toByte)
      val f = dir.resolve(f"corrupt_$corrupt%x.zip")
      Files.write(f, b)
      assert(graft.sources.v2.CentralDirectory.entries(
        new org.apache.hadoop.fs.Path(f.toString), conf).isEmpty,
        f"cdSize 0x$corrupt%x must not be trusted")
      val df = spark.read.format("ziplines").load(f.toString)
      assert(df.rdd.getNumPartitions == 1, "whole-archive streaming fallback")
      assert(df.collect().map(r => (r.getString(0), r.getString(2)))
        .sorted.toSeq == want)
    }
  }
}
