package graft.operators

import graft.SparkSpec

/** Skew-guard property tests over synthetic hub-heavy / mega-cluster
  * corpora — the 100 TB failure shapes in miniature: a stopword-like
  * shingle shared by half the corpus (sum-of-df² candidate blowup) and
  * a boilerplate near-dup cluster whose LSH bucket yields m²/2 pairs.
  * Asserts the guards keep candidate counts linear WITHOUT giving up
  * exactness where exactness is promised. */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("PPJoin stays exact on a hub-heavy corpus (hub shingle in 50% of docs)") {
    // 4000 docs; even ids carry the hub word (2020 docs incl. planted
    // copies). A naive inverted-index join would generate
    // C(2020,2) ≈ 2M candidates from the hub alone; the rarity-ordered
    // prefix filter never lets the hub (highest df) into a prefix.
    val base = (0 until 4000).map { i =>
      val words = (0 until 8).map(k => s"w${i}_$k")
      val text = (if (i % 2 == 0) "hub" +: words else s"solo$i" +: words)
        .mkString(" ")
      (i.toLong, text)
    }
    // 20 planted near-dups of even bases: last word swapped →
    // J = 8/10 = 0.8 exactly (9-word sets, 8 shared)
    val planted = (0 until 40 by 2).map { i =>
      val words = (0 until 7).map(k => s"w${i}_$k")
      ((10000 + i).toLong, ("hub" +: words :+ s"x$i").mkString(" "))
    }
    val docs = (base ++ planted).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
      threshold = 0.75, n = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expected = (0 until 40 by 2).map(i => (i.toLong, (10000 + i).toLong)).toSet
    assert(pairs == expected,
      s"hub corpus broke PPJoin exactness: got ${pairs.size} pairs")
  }

  test("LSH maxBucketSize drops mega-cluster buckets, keeps small ones intact") {
    // 500 identical boilerplate docs → one signature → every band
    // bucket has 500 members → 32 × C(500,2) ≈ 4M candidate pairs
    // uncapped. The cap removes those buckets entirely; a planted
    // 2-doc near-dup bucket is untouched.
    val boiler = (0 until 500).map(i =>
      (i.toLong, "the same boilerplate footer text repeated on every page"))
    val plantedA = (1000L, "unique planted document about alpine marmots and glaciers")
    val plantedB = (1001L, "unique planted document about alpine marmots and glaciers")
    val distinct = (0 until 100).map(i =>
      (2000L + i, s"distinct document $i with its very own words d${i}a d${i}b d${i}c"))
    val docs = (boiler ++ Seq(plantedA, plantedB) ++ distinct).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", numHashes = 128, n = 3)

    val capped = Dedup.lshCandidates(sigs, bands = 32, rowsPerBand = 4,
      maxBucketSize = 64).as[(Long, Long)].collect().toSet
    assert(capped.contains((1000L, 1001L)), "planted pair lost by the cap")
    assert(!capped.exists(p => p._1 < 500 && p._2 < 500),
      "mega-cluster pairs leaked through the cap")
    assert(capped.size < 1000,
      s"candidate count not linear under the cap: ${capped.size}")

    // uncapped on a smaller cluster: the quadratic blowup is REAL —
    // this is what the cap is protecting against
    val smallBoiler = (0 until 50).map(i =>
      (i.toLong, "the same boilerplate footer text repeated on every page"))
    val smallSigs = Dedup.minhashSignatures(
      (smallBoiler ++ Seq(plantedA, plantedB)).toDF("doc_id", "text"),
      "doc_id", "text", numHashes = 128, n = 3)
    val uncapped = Dedup.lshCandidates(smallSigs, bands = 32, rowsPerBand = 4)
      .as[(Long, Long)].collect().toSet
    assert(uncapped.count(p => p._1 < 50 && p._2 < 50) == 50 * 49 / 2,
      "uncapped mega-cluster should emit all C(m,2) pairs")
  }

  test("capBuckets drops only over-sized buckets, row-exact elsewhere") {
    val rows = (0 until 100).map(i => (i.toLong, "big", 0L)) ++ // 100-row bucket
      (0 until 5).map(i => (200L + i, "small", 1L)) ++          // 5-row bucket
      Seq((300L, "single", 2L))
    val df = rows.toDF("id", "bucket", "bh")
    val kept = Dedup.capBuckets(df, Seq("bucket", "bh"), maxBucketSize = 10)
      .select("id").as[Long].collect().toSet
    assert(kept == ((0 until 5).map(200L + _).toSet + 300L))
    // Int.MaxValue = uncapped passthrough, no window in the plan
    val all = Dedup.capBuckets(df, Seq("bucket", "bh"), Int.MaxValue)
    assert(all.count() == rows.size)
  }

  test("embedding LSH bucket cap bounds identical-vector clusters") {
    val dims = 16
    val identical = (0 until 200).map { i =>
      (i.toLong, Array.tabulate(dims)(d => math.sin(d + 1.0)))
    }
    val planted = Seq(
      (1000L, Array.tabulate(dims)(d => math.cos(d + 1.0))),
      (1001L, Array.tabulate(dims)(d => math.cos(d + 1.0) * 1.001)))
    val emb = (identical ++ planted).toDF("vec_id", "emb")
    val pairs = Similarity.lshCosinePairs(emb, "vec_id", "emb",
      threshold = 0.9, dims = dims, maxBucketSize = 32)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1000L, 1001L)), "planted near-dup lost by the cap")
    assert(!pairs.exists(p => p._1 < 200 && p._2 < 200),
      "identical-vector mega-cluster leaked through the cap")
  }
}
