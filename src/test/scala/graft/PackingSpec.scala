package graft

import graft.operators.Packing

class PackingSpec extends SparkSpec {
  import spark.implicits._

  test("contiguous-fill packing: offsets and bins follow the running sum") {
    // single shard -> strictly sequential semantics are easy to pin
    val df = Seq((1L, 300L), (2L, 300L), (3L, 300L), (4L, 50L))
      .toDF("doc_id", "n_tok")
    val packed = Packing.packBins(df, "doc_id", "n_tok", budget = 512, shards = 1)
      .orderBy("doc_id")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("start_offset"),
        r.getAs[Long]("bin_idx")))
    // offsets 0, 300, 600, 900 -> bins 0, 0, 1, 1
    assert(packed.toSeq == Seq((1L, 0L, 0L), (2L, 300L, 0L), (3L, 600L, 1L), (4L, 900L, 1L)))
  }

  test("sharded packing: every doc assigned once, per-shard fill ≈ budget") {
    val df = (1L to 200L).map(i => (i, 64L)).toDF("doc_id", "n_tok")
    val packed = Packing.packBins(df, "doc_id", "n_tok", budget = 256, shards = 4)
    assert(packed.count() == 200)
    assert(packed.select("shard").distinct().count() == 4)
    val stats = Packing.binStats(packed, "n_tok")
    // every bin except possibly each shard's last holds exactly
    // budget/64 = 4 docs (uniform doc size -> perfect fill)
    val counts = stats.collect().map(r => (r.getAs[Long]("shard"),
      r.getAs[Long]("bin_idx"), r.getAs[Long]("n_docs")))
    val lastBin = counts.groupBy(_._1).map { case (s, bs) => s -> bs.map(_._2).max }
    counts.foreach { case (s, b, n) =>
      if (b < lastBin(s)) assert(n == 4L, s"shard $s bin $b had $n docs")
    }
    // deterministic across runs
    val again = Packing.packBins(df, "doc_id", "n_tok", budget = 256, shards = 4)
    assert(packed.orderBy("doc_id").collect().toSeq ==
      again.orderBy("doc_id").collect().toSeq)
  }

  test("contextWindows: straddlers split, windows fill to budget, docs tile fully") {
    // one shard: offsets 0,300,600,900 over a 950-token corpus; budget
    // 512 → doc 2 straddles windows 0/1 at offset 512 (in-doc token
    // 212); window 1 is the ragged tail [512, 950)
    val df = Seq((1L, 300L), (2L, 300L), (3L, 300L), (4L, 50L))
      .toDF("doc_id", "n_tok")
    val out = Packing.contextWindows(df, "doc_id", "n_tok", budget = 512, shards = 1)
      .orderBy("doc_id", "window_id")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("window_id"),
        r.getAs[Long]("seg_start"), r.getAs[Long]("seg_end")))
    assert(out.toSeq == Seq(
      (1L, 0L, 0L, 300L),
      (2L, 0L, 0L, 212L), (2L, 1L, 212L, 300L),
      (3L, 1L, 0L, 300L),
      (4L, 1L, 0L, 50L)))
    // segments per doc tile [0, n_tok)
    val perDoc = out.groupBy(_._1).view
      .mapValues(_.map(s => (s._3, s._4)).sorted.toList)
    perDoc.foreach { case (_, segs) =>
      segs.sliding(2).foreach {
        case List((_, e1), (s2, _)) => assert(e1 == s2); case _ =>
      }
    }
    // every full window's segments sum to exactly the budget
    val winFill = out.groupBy(_._2).view
      .mapValues(_.map(s => s._4 - s._3).sum).toMap
    assert(winFill(0L) == 512L)
    assert(winFill(1L) == 438L) // ragged tail [512, 950)
  }
}
