package graft

import org.apache.spark.sql.functions._
import graft.operators.{Bpe, Denoise}

/** Structural invariants of span corruption, proven on REAL encoded
  * fixture docs: substituting every sentinel's target span back into
  * the input stream must reproduce the original id stream exactly —
  * the denoising objective's defining property. */
class DenoiseSpec extends SparkSpec {

  test("spanCorrupt: sentinel-substitution reconstructs the original ids") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val merges = Bpe.trainMerges(docs, "text", rounds = 3)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val vocab = Bpe.vocab(docs, "text", merges)
    val vsz = vocab.size.toLong
    val rows = Bpe.encode(docs, "text", "doc_id", merges, vocab)
      .select(col("doc_id"), col("bpe_ids"),
        Denoise.spanCorrupt(col("bpe_ids"), col("doc_id"), vsz).as("x"))
      .select(col("bpe_ids"), col("x.input_ids"), col("x.target_ids"),
        col("x.n_spans"))
      .collect()
    assert(rows.nonEmpty)
    var totalSpans = 0L
    rows.foreach { r =>
      val orig = r.getSeq[Long](0)
      val input = r.getSeq[Long](1)
      val target = r.getSeq[Long](2)
      val nSpans = r.getLong(3)
      totalSpans += nSpans
      // targets parse as k groups, each led by sentinel vsz+k in order
      val spans = scala.collection.mutable.Map.empty[Long, Vector[Long]]
      var cur = -1L
      target.foreach { id =>
        if (id >= vsz) { cur = id; spans(cur) = Vector.empty }
        else spans(cur) :+= id
      }
      assert(spans.keySet === (0L until nSpans).map(vsz + _).toSet)
      // substitute each input sentinel with its span -> original stream
      val rebuilt = input.flatMap(id =>
        if (id >= vsz) spans(id) else Vector(id))
      assert(rebuilt === orig, "sentinel substitution must reconstruct")
    }
    // the 1-in-5 block draw must actually fire across the corpus
    assert(totalSpans > 0L, "no spans masked — the draw is broken")
  }

  test("spanCorrupt: a 1k-block doc completes in bounded time and reconstructs") {
    // 10k tokens = 1,250 blocks at blockLen=8 — the long-doc regime
    // where the pre-round-7 per-block ordinal (re-filtering
    // sequence(0, b-1), so O(nBlocks²) salted-md5 draws × 3 outputs)
    // took minutes. With the single mask pass + cumulative ordinals
    // it is one scan; the reconstruction invariant must still hold.
    import spark.implicits._
    val vsz = 50L
    val n = 10000
    val docs = Seq((7L, (0 until n).map(i => (i % vsz).toLong).toList))
      .toDF("doc_id", "bpe_ids")
    val t0 = System.nanoTime()
    val r = docs.select(col("bpe_ids"),
        Denoise.spanCorrupt(col("bpe_ids"), col("doc_id"), vsz).as("x"))
      .select(col("bpe_ids"), col("x.input_ids"), col("x.target_ids"),
        col("x.n_spans"))
      .collect().head
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 30, f"1k-block doc took $secs%.1f s — ordinal is quadratic again")
    val orig = r.getSeq[Long](0)
    val input = r.getSeq[Long](1)
    val target = r.getSeq[Long](2)
    val nSpans = r.getLong(3)
    assert(nSpans > 100, s"draw broken: only $nSpans of ~250 expected spans")
    // substitute every sentinel's span back -> original stream
    val spans = scala.collection.mutable.Map.empty[Long, Vector[Long]]
    var cur = -1L
    target.foreach { id =>
      if (id >= vsz) { cur = id; spans(cur) = Vector.empty }
      else spans(cur) :+= id
    }
    val rebuilt = input.flatMap(id => if (id >= vsz) spans(id) else Vector(id))
    assert(rebuilt === orig, "sentinel substitution must reconstruct")
  }

  test("mlmMask: labels recover originals, unselected positions untouched, 80/10/10 holds") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val merges = Bpe.trainMerges(docs, "text", rounds = 3)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val vocab = Bpe.vocab(docs, "text", merges)
    val vsz = vocab.size.toLong
    val rows = Bpe.encode(docs, "text", "doc_id", merges, vocab)
      .select(col("doc_id"), col("bpe_ids"),
        Denoise.mlmMask(col("bpe_ids"), col("doc_id"), vsz).as("x"))
      .collect()
    var nSel = 0L; var nTok = 0L; var nMaskTok = 0L; var nChanged = 0L
    rows.foreach { r =>
      val ids = r.getSeq[Long](1)
      val x = r.getStruct(2)
      val input = x.getSeq[Long](0); val labels = x.getSeq[Long](1)
      assert(input.length == ids.length && labels.length == ids.length)
      ids.indices.foreach { i =>
        if (labels(i) == -100L)
          assert(input(i) == ids(i), "unselected positions must be untouched")
        else {
          assert(labels(i) == ids(i), "labels carry the ORIGINAL id")
          assert(input(i) == vsz || (input(i) >= 0 && input(i) < vsz),
            "masked input is the sentinel or a real vocab id")
          nSel += 1
          if (input(i) == vsz) nMaskTok += 1
          else if (input(i) != ids(i)) nChanged += 1
        }
      }
      nTok += ids.length
      assert(x.getLong(2) == ids.count(_ => true) - labels.count(_ == -100L))
    }
    // rates over the whole fixture stream: selection ~15%, of which
    // ~80% sentinel; wide deterministic bounds (one fixed draw)
    val selRate = nSel.toDouble / nTok
    assert(selRate > 0.12 && selRate < 0.18, s"selection rate $selRate")
    val maskShare = nMaskTok.toDouble / nSel
    assert(maskShare > 0.7 && maskShare < 0.9, s"sentinel share $maskShare")
    assert(nChanged > 0, "the 10% random-replacement arm must actually fire")
  }

  test("spanCorruptExamples: the explode plan is bit-identical to the Column form") {
    import spark.implicits._
    // shapes that exercise every branch: multi-block with a partial
    // tail, an EMPTY stream, single-token (order-0 block), and one
    // long doc so several blocks mask (ordinals beyond 0)
    val enc = Seq(
      (1L, (0L until 45L).map(i => i % 13)),
      (2L, Seq.empty[Long]),
      (3L, Seq(7L)),
      (4L, (0L until 200L).map(i => (i * 3) % 11)))
      .toDF("doc_id", "bpe_ids")
    val viaColumn = enc
      .select(col("doc_id"),
        Denoise.spanCorrupt(col("bpe_ids"), col("doc_id"), 13L).as("x"))
      .select(col("doc_id"), col("x.input_ids"), col("x.target_ids"),
        col("x.n_spans"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val viaExplode = Denoise.spanCorruptExamples(enc, "bpe_ids", "doc_id", 13L)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(viaExplode.keySet == Set(1L, 2L, 3L, 4L))
    Seq(1L, 2L, 3L, 4L).foreach { id =>
      val a = viaColumn(id); val b = viaExplode(id)
      assert(a.getSeq[Long](1) == b.getSeq[Long](1), s"input_ids doc $id")
      assert(a.getSeq[Long](2) == b.getSeq[Long](2), s"target_ids doc $id")
      assert(a.getLong(3) == b.getLong(3), s"n_spans doc $id")
    }
    // the long doc must actually have several spans, or the ordinal
    // arithmetic was never exercised
    assert(viaExplode(4L).getLong(3) >= 2, "need multi-span coverage")
  }

  test("mlmMaskExamples: the explode plan is bit-identical to the Column form") {
    import spark.implicits._
    // hand-shaped corpus including an EMPTY id stream: the explode
    // plan must keep the doc (posexplode_outer), not drop it
    val enc = Seq(
      (1L, Seq(3L, 7L, 7L, 2L, 9L, 4L, 1L, 0L, 5L, 8L)),
      (2L, Seq.empty[Long]),
      (3L, (0L until 64L).map(i => i % 11)))
      .toDF("doc_id", "bpe_ids")
    val viaColumn = enc
      .select(col("doc_id"),
        Denoise.mlmMask(col("bpe_ids"), col("doc_id"), 11L).as("x"))
      .select(col("doc_id"), col("x.input_ids"), col("x.labels"),
        col("x.n_masked"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val viaExplode = Denoise.mlmMaskExamples(enc, "bpe_ids", "doc_id", 11L)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(viaExplode.keySet == Set(1L, 2L, 3L))
    Seq(1L, 2L, 3L).foreach { id =>
      val a = viaColumn(id); val b = viaExplode(id)
      assert(a.getSeq[Long](1) == b.getSeq[Long](1), s"input_ids doc $id")
      assert(a.getSeq[Long](2) == b.getSeq[Long](2), s"labels doc $id")
      assert(a.getLong(3) == b.getLong(3), s"n_masked doc $id")
    }
  }

  test("fim: PSM segments reassemble to the original stream") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val merges = Bpe.trainMerges(docs, "text", rounds = 2)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val vocab = Bpe.vocab(docs, "text", merges)
    val vsz = vocab.size.toLong
    val rows = Bpe.encode(docs, "text", "doc_id", merges, vocab)
      .select(col("bpe_ids"),
        Denoise.fim(col("bpe_ids"), col("doc_id"), vsz).as("x"))
      .select(col("bpe_ids"), col("x.fim_ids"), col("x.fim_lo"), col("x.fim_hi"))
      .collect()
    var nonTrivial = 0
    rows.foreach { r =>
      val orig = r.getSeq[Long](0)
      val fim = r.getSeq[Long](1)
      val (lo, hi) = (r.getLong(2), r.getLong(3))
      // parse [PRE]p[SUF]s[MID]m by sentinel positions
      assert(fim.head === vsz)
      val iSuf = fim.indexOf(vsz + 1)
      val iMid = fim.indexOf(vsz + 2)
      val pre = fim.slice(1, iSuf)
      val suf = fim.slice(iSuf + 1, iMid)
      val mid = fim.drop(iMid + 1)
      assert(pre.length === lo && mid.length === hi - lo)
      assert((pre ++ mid ++ suf) === orig, "PSM must reassemble")
      if (mid.nonEmpty && pre.nonEmpty && suf.nonEmpty) nonTrivial += 1
    }
    assert(nonTrivial > 0, "every split degenerate — the draw is broken")
  }

  test("needleProbes: needle sits at the drawn depth, haystack words survive intact") {
    import spark.implicits._
    val docs = (1L to 80L).map(i =>
      (i, (0 until 30).map(k => s"w${i}_$k").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Denoise.needleProbes(docs, "doc_id", "text", ctxWords = 20)
      .collect()
    assert(out.length == 80)
    val depths = out.map(_.getInt(1)).toSet
    assert(depths.subsetOf((0 to 100 by 10).toSet) && depths.size >= 5,
      s"eleven fixed rungs, several drawn: $depths")
    for (r <- out) {
      val id = r.getLong(0); val depth = r.getInt(1); val ans = r.getLong(2)
      val ctx = r.getString(3).split(" ").toSeq
      val hay = (0 until 20).map(k => s"w${id}_$k") // ctxWords cap applies
      val pos = depth * 20 / 100
      assert(ctx == hay.take(pos) ++
        Seq("the", "magic", "number", "is", ans.toString) ++ hay.drop(pos),
        s"doc $id depth $depth")
      assert(ans >= 0 && ans < 100000)
    }
    // short docs keep their full (shorter) haystack
    val short = Denoise.needleProbes(
      Seq((1L, "a b c")).toDF("doc_id", "text"), "doc_id", "text", 20)
      .collect().head
    assert(short.getString(3).split(" ").length == 3 + 5)
  }
}
