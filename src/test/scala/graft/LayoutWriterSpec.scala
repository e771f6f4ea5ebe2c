package graft

import org.apache.spark.sql.functions._
import graft.core.Catalog

/** Write-path layout properties: Z-ordered files must span narrow
  * rectangles of BOTH dimensions (the precondition for min/max data
  * skipping), and token shards must land within one document of the
  * budget. */
class LayoutWriterSpec extends SparkSpec {
  test("writeZOrdered: every file is a narrow rectangle of both dimensions") {
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString
    val n = 1 << 14
    val df = spark.range(n).select(
      (col("id") % 128).as("a"),
      expr("id div 128 % 128").as("b"),
      col("id").as("payload"))
    Catalog.writeZOrdered(df, dir, "a", "b", nFiles = 16)
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.toString)
    assert(files.length >= 8, s"expected ~16 files, got ${files.length}")
    // global span is 127 in each dimension; a z-ordered file must span
    // a small fraction of each — a row-order or single-dim sort layout
    // would leave one dimension's span at ~full width in every file
    val spans = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(max("a") - min("a"), max("b") - min("b")).head()
      (r.getLong(0), r.getLong(1))
    }
    val avgA = spans.map(_._1).sum.toDouble / spans.length
    val avgB = spans.map(_._2).sum.toDouble / spans.length
    assert(avgA <= 70, s"avg a-span $avgA too wide for data skipping")
    assert(avgB <= 70, s"avg b-span $avgB too wide for data skipping")
    // the key column must not be stored
    assert(!spark.read.parquet(dir).columns.contains("__zkey"))
  }

  test("writeTokenShards: bin token sums within one doc of the budget") {
    val dir = java.nio.file.Files.createTempDirectory("tokshards").toString
    val docs = spark.range(500).select(
      col("id").as("doc_id"),
      (pmod(col("id") * 37, lit(190L)) + 10L).as("n_tok")) // 10..199 tokens
    Catalog.writeTokenShards(docs, "n_tok", "doc_id",
      budget = 1000L, path = dir, shards = 4)
    // partition-dir values are inferred as int; normalize to long
    val back = spark.read.parquet(dir)
      .withColumn("shard", col("shard").cast("long"))
      .withColumn("bin_idx", col("bin_idx").cast("long"))
    assert(back.count() === 500L) // nothing lost
    val maxDoc = 199L
    val sums = back.groupBy("shard", "bin_idx")
      .agg(sum("n_tok").as("toks"), max("bin_idx").as("b")).collect()
    val lastBin = back.groupBy("shard").agg(max("bin_idx").as("mx"))
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap
    sums.foreach { r =>
      val toks = r.getLong(2)
      assert(toks <= 1000L + maxDoc,
        s"bin ${r.get(0)}/${r.get(1)} overfilled: $toks")
      if (lastBin(r.get(0)) != r.getLong(3)) // ragged tails exempt
        assert(toks >= 1000L - maxDoc,
          s"non-tail bin ${r.get(0)}/${r.get(1)} underfilled: $toks")
    }
    // one file per bin: each bin directory holds exactly one parquet file
    val binDirs = new java.io.File(dir).listFiles.filter(_.isDirectory)
      .flatMap(_.listFiles.filter(_.isDirectory))
    assert(binDirs.nonEmpty)
    binDirs.foreach { d =>
      val pf = d.listFiles.count(_.getName.endsWith(".parquet"))
      assert(pf === 1, s"${d.getName}: $pf files, want 1")
    }
  }
}
