package graft

import graft.sources.WarcFixture

class WarcSourceSpec extends SparkSpec {

  private lazy val path = { WarcFixture.ensure(); WarcFixture.warcPath }

  test("reads every record with headers, offsets, and exact payload bytes") {
    val rows = spark.read.format("warc").load(path)
      .orderBy("record_offset").collect()
    assert(rows.length === 5)
    assert(rows.map(_.getAs[String]("warc_type")).toSeq ===
      Seq("warcinfo", "request", "response", "response", "response"))
    assert(rows(0).getAs[String]("target_uri") === null)
    assert(rows(2).getAs[String]("target_uri") === "http://www.example.com/a")
    assert(rows.map(_.getAs[Long]("record_offset")).toSeq ===
      rows.map(_.getAs[Long]("record_offset")).toSeq.sorted)
    // payload bytes are byte-faithful, UTF-8 multibyte included
    assert(new String(rows(4).getAs[Array[Byte]]("payload"), "UTF-8") ===
      WarcFixture.htmlC)
    assert(rows(3).getAs[Long]("content_length") ===
      WarcFixture.htmlB.getBytes("UTF-8").length.toLong)
  }

  test("tiny splits read the same records once each (false magic rejected)") {
    val whole = spark.read.format("warc").load(path)
      .select("record_offset", "warc_type", "target_uri", "content_length")
      .orderBy("record_offset").collect().toSeq
    // 64-byte splits put boundaries inside every record, including
    // inside htmlB's embedded \r\n\r\nWARC/1.0 fake magic — alignment
    // must reject the fake (no Content-Length) and neither lose nor
    // duplicate a record
    val split = spark.read.format("warc").option("splitSize", "64").load(path)
      .select("record_offset", "warc_type", "target_uri", "content_length")
      .orderBy("record_offset").collect().toSeq
    assert(split === whole)
  }

  test("warc.gz decodes to the same rows (whole-file partition)") {
    val plain = spark.read.format("warc").load(path)
      .select("record_offset", "warc_type", "content_length")
      .orderBy("record_offset").collect().toSeq
    val gz = spark.read.format("warc").load(WarcFixture.gzPath)
      .select("record_offset", "warc_type", "content_length")
      .orderBy("record_offset").collect().toSeq
    assert(gz === plain)
  }

  test("metadata-only projection skips payloads and still counts right") {
    val counts = spark.read.format("warc").load(path)
      .groupBy("warc_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts === Map("warcinfo" -> 1L, "request" -> 1L, "response" -> 3L))
  }

  test("permissive mode resyncs past a corrupt record; strict throws") {
    // a truncated record remnant between two good records: header line
    // without a colon -> parse failure exactly where strict must stop
    val good = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(new java.net.URI(
        "file://" + WarcFixture.warcPath)))
    // split after the second record's trailing \r\n\r\n: find the 3rd
    // occurrence of "WARC/1.0" (start of record 3)
    val text = new String(good, "ISO-8859-1")
    val rec3 = text.indexOf("WARC/1.0", text.indexOf("WARC/1.0",
      text.indexOf("WARC/1.0") + 1) + 1)
    assert(rec3 > 0)
    val corrupt = "WARC/1.0\r\nbroken header without colon\r\n\r\nremnant\r\n\r\n"
    val bytes = good.take(rec3) ++ corrupt.getBytes("ISO-8859-1") ++ good.drop(rec3)
    val dir = java.nio.file.Files.createTempDirectory("warc_corrupt")
    val p = dir.resolve("corrupt.warc")
    java.nio.file.Files.write(p, bytes)

    intercept[org.apache.spark.SparkException] {
      spark.read.format("warc").load(p.toString).count()
    }
    val rows = spark.read.format("warc").option("mode", "permissive")
      .load(p.toString)
      .select("warc_type", "target_uri").orderBy("record_offset").collect()
    assert(rows.length === 5, "all five real records survive the resync")
    assert(rows.map(_.getString(0)).toSeq ===
      Seq("warcinfo", "request", "response", "response", "response"))
  }

  test("streaming tails the landing directory: each new archive exactly once") {
    val land = java.nio.file.Files.createTempDirectory("warc_land")
    WarcFixture.ensure()
    def landFile(n: String): Unit =
      java.nio.file.Files.copy(java.nio.file.Paths.get(WarcFixture.warcPath),
        land.resolve(n))
    landFile("crawl_20260813_000001.warc")

    val q = spark.readStream.format("warc").load(land.toString)
      .groupBy("warc_type").count()
      .writeStream.format("memory").outputMode("complete")
      .queryName("warc_stream").start()
    try {
      q.processAllAvailable()
      val first = spark.table("warc_stream").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(first === Map("warcinfo" -> 1L, "request" -> 1L, "response" -> 3L))

      // a second archive lands (monotone name, atomic) — the watermark
      // offset must pick up exactly its records, no replays
      landFile("crawl_20260813_000002.warc")
      q.processAllAvailable()
      val second = spark.table("warc_stream").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(second === Map("warcinfo" -> 2L, "request" -> 2L, "response" -> 6L))
    } finally q.stop()
  }

  test("oversized payload fails loudly, not silently truncated") {
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.format("warc").option("maxPayloadBytes", "10").load(path)
        .count()
    }
    assert(e.getMessage.contains("maxPayloadBytes") ||
      Option(e.getCause).exists(_.getMessage.contains("maxPayloadBytes")))
  }
}
