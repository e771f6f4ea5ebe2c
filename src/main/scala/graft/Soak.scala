package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale soak: the dedup/ANN/curation subset at ~10× sf0.1 volume
  * (50k documents / 50k embeddings), exercising the skew guards —
  * `maxBucketSize`, rarity-ordered prefixes, AQE skew splitting —
  * under real memory pressure instead of by plan shape alone.
  *
  * The 10× corpus is synthetic replication of the sf0.1 fixture with
  * deterministic perturbation chosen to be ADVERSARIAL for dedup: every
  * document gains 9 copies (two thirds exact, one third near-dup with a
  * marker suffix), so every LSH bucket holds a ~10-doc cluster and the
  * cluster graph has ~5k components of size ~10 — the "mega-cluster"
  * regime the guards exist for, at a volume where recall shortcuts or
  * quadratic blowups become visible as wall time, shuffle and spill.
  * Embeddings likewise gain 9 near-copies (one coordinate nudged per
  * copy), stressing ANN bucket collision handling.
  *
  * `runMain graft.Soak [sfDir] [workDir]` — generates the corpus into
  * workDir once (reused on re-run), executes each operator through the
  * noop sink, and prints one summary line per operator plus a final
  * JSON line: wall seconds, shuffle MB, spill MB, output rows. Results
  * are recorded in BASELINE.md's SOAK section.
  */
object Soak {

  /** Deterministic 64-bit mix for the media generators. */
  private def mix(seed: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z ^ (z >>> 31)
  }

  /** Map-side PNG for the image near-dup soak: 192×128 gray. The
    * luminance pattern is PER-CLIQUE (id/10) and PER-CELL of the dHash
    * grid — a clique-seeded random level per 24×16 cell plus shared
    * per-pixel noise — so each clique's dHash is a distinct ~random
    * 64-bit word (cliques land in distinct buckets; a single global
    * pattern, e.g. one gradient, would collapse all 2000 images into
    * ONE mega-bucket and the banded join into an all-pairs). Copies
    * share the pattern exactly; each adds a uniform brightness shift
    * (invariant under dHash's within-image comparisons) plus a small
    * boost of one grid cell, flipping at most that cell's near-tie
    * comparisons — genuine few-bit near-dups, not byte-dups. Noise
    * makes the PNGs poorly compressible (tens of KB each). */
  private[graft] def soakPng(id: Long): Array[Byte] = {
    val clique = id / 10; val copy = (id % 10).toInt
    val w = 192; val h = 128
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val px = (copy % 8) * 24 // tweak patch: one 24×16 grid cell
    val py = (copy % 4) * 32
    var y = 0
    while (y < h) {
      val cy = y / 16
      var x = 0
      while (x < w) {
        val cell = cy * 8 + x / 24
        val cellBase = 20 + ((mix(clique * 1000003L + cell) >>> 56).toInt * 3) / 4
        val noise = ((mix(clique * 977L + y.toLong * w + x) >>> 58).toInt - 32) / 2
        val patch = if (x >= px && x < px + 24 && y >= py && y < py + 16) copy * 4 else 0
        val v = math.min(255, math.max(0, cellBase + noise + copy + patch))
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Map-side WAV for the audio near-dup soak: 6500 mono 16-bit
    * frames = 65 fingerprint windows of 100; the per-window amplitude
    * envelope is clique-seeded and shared by the 10 copies, each copy
    * scales ONE window's amplitude by ~10% — flipping at most the two
    * adjacent louder-than-previous bits. ~13 KB each → ~26 MB. */
  private[graft] def soakWav(id: Long): Array[Byte] = {
    import javax.sound.sampled._
    val clique = id / 10; val copy = (id % 10).toInt
    val samples = new Array[Short](6500)
    var wdw = 0
    while (wdw < 65) {
      val amp0 = 200 + ((mix(clique * 7919L + wdw) >>> 52).toInt % 1800 + 1800) % 1800
      val amp = if (wdw == (copy * 5 + 7) % 65) amp0 + amp0 / 10 else amp0
      var i = 0
      while (i < 100) { samples(wdw * 100 + i) = amp.toShort; i += 1 }
      wdw += 1
    }
    val raw = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      raw(2 * i) = (samples(i) & 0xFF).toByte
      raw(2 * i + 1) = ((samples(i) >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(raw), fmt, samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Map-side raw-DIB AVI for the video near-dup soak: 8 frames of
    * 96×64, clique = id/10 seeds per-(frame, dHash-cell) gray levels
    * shared by all 10 copies (clique frame hashes agree); each copy
    * brightens one cell per frame — few-bit per-frame perturbations,
    * the image-soak discipline extended to the frame sequence.
    * ~150 KB per video → ~75 MB of video bytes across 500. */
  private[graft] def soakAvi(id: Long): Array[Byte] = {
    val clique = id / 10; val copy = (id % 10).toInt
    val w = 96; val h = 64 // dHash cells: ~10.7×8 px
    val frames = (0 until 8).map { f => (x: Int, y: Int) =>
      val cell = (y / 8) * 9 + math.min(8, x * 9 / w)
      val base = 20 + ((mix(clique * 7907L + f * 101L + cell) >>> 56).toInt * 3) / 4
      val px = ((copy + f) % 8) * 12; val py = ((copy + f) % 4) * 16
      val patch = if (x >= px && x < px + 12 && y >= py && y < py + 16) copy * 4 else 0
      math.min(255, base + copy + patch)
    }
    graft.sources.MediaFixture.aviBytes(w, h, frames)
  }

  /** Map-side MJPEG AVI for the compressed-video soak: 6 frames of
    * 144×64 whose luminance is CONSTANT per 8×8 JPEG block (flat
    * blocks carry only a DC coefficient, so the lossy codec is
    * effectively exact and the few-bit clique discipline survives
    * compression). Clique = id/10 seeds the per-(frame, block) levels
    * shared by all 10 copies; each copy boosts ONE block per frame by
    * 24 levels — that block's dHash cell mean moves ~12, flipping at
    * most its two neighbor comparisons. ~3 KB/frame via the JDK
    * encoder; decode is [[operators.Jpeg]]'s T.81 DC path. */
  private[graft] def soakMjpeg(id: Long): Array[Byte] = {
    val clique = id / 10; val copy = (id % 10).toInt
    val w = 144; val h = 64
    val frames = (0 until 6).map { f => (x: Int, y: Int) =>
      val bx = x / 8; val by = y / 8
      val base = 20 +
        ((mix(clique * 131071L + f * 257L + by * 18 + bx) >>> 56).toInt * 3) / 4
      val patch = if (bx == (copy + f) % 18 && by == (copy + 2 * f) % 8) 24 else 0
      math.min(255, base + patch)
    }
    graft.sources.MediaFixture.mjpegAviBytes(w, h, frames)
  }

  /** Animated GIF for the LZW video soak — same clique/copy design as
    * [[soakMjpeg]] (clique-seeded gray per dHash-grid cell, one
    * copy-tweaked cell per frame), through the root-codes-only
    * encoder, so candidates land in per-clique buckets and the LZW
    * decoder runs over ~real-sized frames map-side. */
  private[graft] def soakGif(id: Long): Array[Byte] = {
    val clique = id / 10; val copy = (id % 10).toInt
    val w = 96; val h = 64
    val frames = (0 until 6).map { f => (x: Int, y: Int) =>
      val bx = x / 12; val by = y / 8
      val base = 20 +
        ((mix(clique * 131071L + f * 257L + by * 8 + bx) >>> 56).toInt * 3) / 4
      val patch = if (bx == (copy + f) % 8 && by == (copy + 2 * f) % 8) 24 else 0
      math.min(255, base + patch)
    }
    graft.sources.MediaFixture.gifAnimBytes(w, h, frames)
  }

  /** DTMF dial WAV for the demodulation soak: 6 id-derived keys per
    * recording from the full 16-key pad. */
  /** MPEG-1 Layer I soak blob: the SAME clique envelope derivation as
    * [[soakWav]] — so wav id k and mp1 id k fingerprint identically
    * (the energy-delta bits compare window amplitudes, which both
    * formats carry exactly) — authored by the fixture's spec-correct
    * Layer I encoder and decoded by [[Mpeg.layer1SubbandPcm]]. */
  private[graft] def soakMp1(id: Long): Array[Byte] = {
    val clique = id / 10; val copy = (id % 10).toInt
    graft.sources.MediaFixture.mp1Bytes { wdw =>
      val amp0 = 200 + ((mix(clique * 7919L + wdw) >>> 52).toInt % 1800 + 1800) % 1800
      if (wdw == (copy * 5 + 7) % 65) amp0 + amp0 / 10 else amp0
    }
  }

  private[graft] def soakDial(id: Long): Array[Byte] = {
    val pad = "123456789*0#ABCD"
    val digits = (0 until 6).map { i =>
      pad(((mix(id * 31 + i) >>> 40) & 15).toInt)
    }.mkString
    graft.sources.MediaFixture.dtmfWav(digits)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val workDir = if (args.length > 1) args(1) else "/tmp/graft_soak"
    val spark = core.Session.local("graft-soak")
    val docsPath = s"$workDir/documents10x.parquet"
    val embPath = s"$workDir/embeddings10x.parquet"

    if (!new java.io.File(docsPath).exists()) {
      val docs = core.Tables.documents(spark, sfDir)
      val n = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
      docs.crossJoin(spark.range(10).toDF("copy"))
        .select(
          (col("doc_id") + col("copy") * n).as("doc_id"),
          col("source"),
          when(col("copy") === 0 ||
              pmod(col("doc_id") + col("copy"), lit(3)) =!= 0, col("text"))
            .otherwise(concat(col("text"), lit(" soakmarker"), col("copy")))
            .as("text"))
        .repartition(32)
        .write.mode("overwrite").parquet(docsPath)
    }
    if (!new java.io.File(embPath).exists()) {
      val emb = core.Tables.embeddings(spark, sfDir)
      val n = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
      emb.crossJoin(spark.range(10).toDF("copy"))
        .select(
          (col("vec_id") + col("copy") * n).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i === pmod(col("copy"), lit(64)).cast("int"),
              x + col("copy").cast("float") * lit(0.001f))
              .otherwise(x)).as("embedding"))
        .repartition(32)
        .write.mode("overwrite").parquet(embPath)
    }

    val docs10 = spark.read.parquet(docsPath)
    val emb10 = spark.read.parquet(embPath)
    val nDocs = docs10.count()
    println(s"[soak] corpus: $nDocs docs, ${emb10.count()} embeddings")

    // optional diagnostic subset (the bench-filter convention):
    // SPARK_GRAFT_SOAK_FILTER=regex runs only matching rows — skipped
    // rows report -1 everywhere so a filtered record can never be
    // mistaken for a full soak
    val soakFilter = sys.env.get("SPARK_GRAFT_SOAK_FILTER").map(_.r)
    def run(name: String)(df: => DataFrame): (String, Double, Double, Double) = {
      if (soakFilter.exists(_.findFirstIn(name).isEmpty))
        return (name, -1.0, -1.0, -1.0)
      val r = core.Metrics.profile(spark)(df)
      r.error.foreach(e => throw e)
      val wall = r.wallS.get
      val (shuf, spill) = (r.shuffleBytes / 1e6, r.spillBytes / 1e6)
      println(f"[soak] $name%-28s ${wall}%8.2f s  shuffle ${shuf}%10.1f MB  spill ${spill}%10.1f MB")
      (name, wall, shuf, spill)
    }

    import operators._
    val results = Seq(
      run("exact_dedup") {
        Dedup.exact(docs10, "doc_id", Seq("text"))
      },
      run("minhash_lsh_capped") {
        // maxBucketSize ENGAGED (vs the oracle-exact uncapped default):
        // with ~10-doc clusters in every bucket, the cap must bound the
        // self-join without collapsing recall through the other bands
        Dedup.lshCandidates(
          Dedup.minhashSignatures(docs10, "doc_id", "text", 128, 3),
          bands = 32, rowsPerBand = 4, maxBucketSize = 64)
      },
      run("minhash_dedup_verified") {
        Dedup.minhashDedup(docs10, "doc_id", "text", threshold = 0.8)
      },
      run("duplicate_clusters") {
        Dedup.duplicateClusters(
          Dedup.minhashDedup(docs10, "doc_id", "text", threshold = 0.8))
      },
      run("ngram_jaccard_pairs") {
        Dedup.jaccardPairs(docs10, "doc_id", "text", threshold = 0.8)
      },
      run("passage_dedup") {
        Dedup.passageDedup(docs10, "doc_id", "text", k = 20)
      },
      run("dup_spans_strip") {
        Dedup.stripDuplicateSpans(docs10, "doc_id", "text", k = 8)
      },
      run("ann_lsh_topk") {
        Similarity.lshTopK(emb10, emb10.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 5, dims = 64)
      },
      run("ann_hamming_topk") {
        Similarity.hammingTopK(emb10, emb10.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 5)
      },
      run("curation_run") {
        Curation.run(docs10, "doc_id", "text",
          Curation.Config(nearDupThreshold = Some(0.8),
            dupSpanTokens = Some(8)))
      },
      run("domain_cap_thinned") {
        // the 10x corpus has 20 sources x 2.5k docs each — every domain
        // is "hot" relative to cap 50, so the prefix pre-thinning (and
        // its shortfall audit) engages on all of them
        Sampling.domainCapThinned(docs10, "source", col("doc_id"), cap = 50)
      },
      run("token_budget") {
        Sampling.tokenBudget(
          docs10.withColumn("n_tokens",
            graft.functions.TextAnalysis.tokenCount(col("text"))),
          "source", col("doc_id"), col("n_tokens"), budget = 20000L)
      },
      run("curriculum_order") {
        Sampling.curriculumOrder(
          docs10.withColumn("phase", pmod(col("doc_id"), lit(3)).cast("int")),
          col("phase"), col("doc_id"))
      },
      run("snapshot_delta") {
        Delta.churn(
          docs10.filter(col("doc_id") % 7 =!= 0),
          docs10.filter(col("doc_id") % 5 =!= 0)
            .withColumn("text", when(col("doc_id") % 11 === 0,
              upper(col("text"))).otherwise(col("text"))),
          "doc_id", Seq("text", "source"))
      },
      run("web_curation") {
        // the full front door at 10x: HTML wrap -> main-text extraction
        // (incl. the numeric-entity decode pass) -> robots gate ->
        // token-count gate -> per-registrable-domain cap. All gates are
        // scan-embedded; the only shuffle is the domain-cap window.
        import graft.functions.{TextAnalysis, Web}
        val page = concat(lit("<html><head><title>"), col("source"),
          lit("</title><script>a(\"<i>\");</script></head><body><h1>"),
          col("source"), lit("</h1><p>"), col("text"),
          lit(" 90&#176; &amp;x</p></body></html>"))
        val path = when(col("doc_id") % 4 === 0,
            concat(lit("/admin/p"), col("doc_id").cast("string")))
          .when(col("doc_id") % 4 === 1,
            concat(lit("/tmp/x"), col("doc_id").cast("string")))
          .otherwise(concat(lit("/public/z"), col("doc_id").cast("string")))
        val robots = lit("User-agent: *\nDisallow: /admin\nDisallow: /tmp/")
        val url = concat(lit("https://www."), col("source"), lit(".co.uk"), path)
        val staged = docs10.select(col("doc_id"),
            Web.htmlText(page).as("main_text"),
            path.as("url_path"), url.as("url"))
          .filter(!Web.robotsBlocked(col("url_path"), Web.robotsDisallows(robots)))
          .withColumn("n_tokens", TextAnalysis.tokenCount(col("main_text")))
          .filter(col("n_tokens") >= 30)
          .withColumn("domain", Web.registeredDomain(Web.urlHost(col("url"))))
        Sampling.domainCap(staged, "domain", col("doc_id"), cap = 150)
      },
      run("bpe_train8") {
        // 8 merge rounds over the 10x corpus: ONE corpus aggregation,
        // then 8 vocab-table rounds (pair-count shuffle + top-1 argmax
        // each) — wall time should be corpus-pass + 8 small rounds, not
        // 8 corpus passes; driver state stays one row per round
        Bpe.trainMerges(docs10, "text", rounds = 8)
      },
      run("bpe_encode") {
        // the dataloader path at 10x: train 3 rounds, then the encode
        // map pass emitting real id sequences — zero shuffle expected
        val merges = Bpe.trainMerges(docs10, "text", rounds = 3)
          .orderBy("round").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        val vocab = Bpe.vocab(docs10, "text", merges)
        Bpe.encode(docs10, "text", "doc_id", merges, vocab)
      },
      run("span_corrupt") {
        // denoising examples over the 10x id stream: train + encode +
        // corrupt — the whole objective materialization, zero shuffle
        // beyond the bounded training rounds
        val merges = Bpe.trainMerges(docs10, "text", rounds = 3)
          .orderBy("round").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        val vocab = Bpe.vocab(docs10, "text", merges)
        import org.apache.spark.sql.functions.col
        Bpe.encode(docs10, "text", "doc_id", merges, vocab)
          .select(col("doc_id"),
            Denoise.spanCorrupt(col("bpe_ids"), col("doc_id"),
              vocab.size.toLong).as("x"))
      },
      run("chat_render") {
        // conversation assembly at 10x: 1000 conversations x ~50 turns
        // — ONE conversation-keyed shuffle of (turn, role, msg) structs
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.expressions.Window
        val turns = docs10
          .select(pmod(col("doc_id"), lit(1000L)).as("conv_id"), col("doc_id"),
            array_join(slice(split(col("text"), " "), 1, 10), " ").as("msg"))
          .withColumn("turn", row_number().over(
            Window.partitionBy(col("conv_id")).orderBy(col("doc_id"))))
          .withColumn("role",
            when(pmod(col("turn"), lit(2)) === 1, lit("user"))
              .otherwise(lit("assistant")))
        PostTraining.renderChat(turns, "conv_id", "turn", "role", "msg")
      },
      run("sft_mask") {
        // label masking over the 10x word-structured encode: train +
        // encodeWords + mask — zero shuffle beyond the training rounds
        import org.apache.spark.sql.functions._
        val merges = Bpe.trainMerges(docs10, "text", rounds = 3)
          .orderBy("round").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        val vocab = Bpe.vocab(docs10, "text", merges)
        val ew = Bpe.encodeWords(docs10, "text", "doc_id", merges, vocab)
        PostTraining.lossMask(ew, "doc_id", "bpe_word_ids",
          pmod(col("doc_id"), lit(7L)) + 1)
      },
      run("dpo_pairs") {
        // preference mining at 10x: 5000 prompts x ~10 candidates,
        // both extreme windows over ONE prompt-key exchange
        import org.apache.spark.sql.functions._
        PostTraining.dpoPairs(
          docs10.select(pmod(col("doc_id"), lit(5000L)).as("prompt_id"),
            col("doc_id"),
            graft.functions.TextAnalysis.qualityScore(col("text")).as("score")),
          "prompt_id", "doc_id", "score")
      },
      run("kcore_peel6") {
        // six peel rounds over a ~1M-edge deterministic graph — the
        // degree agg + semi-join loop at real volume, checkpointed
        import org.apache.spark.sql.functions._
        val ids = docs10.sparkSession.range(1000000L)
        Graph.kCore(ids.select(
            pmod(col("id") * 2654435761L, lit(20000L)).as("src"),
            pmod(col("id") * 40503L + 17L, lit(20000L)).as("dst")),
          k = 60, rounds = 6)
      },
      run("ngram_novelty") {
        // the collect_set plan at 10x: ~10M exploded trigram rows
        // collapse through ONE g-keyed aggregation with bounded
        // per-gram source sets — the shuffle ships partial sets, not
        // the raw gram stream
        import org.apache.spark.sql.functions._
        // ws materialized BEFORE the lambda (invariant subtrees are
        // not hoisted out of HOFs — an inline split re-tokenizes per
        // element; the q_ngram_novelty 4.15 → 1.18 s fix)
        val grams = docs10
          .select(col("source"), split(col("text"), " ").as("ws"))
          .select(col("source"),
            explode(expr(
              "case when size(ws) < 3 then array() " +
                "else transform(sequence(1, size(ws) - 2), " +
                "i -> concat_ws('_', element_at(ws, i), " +
                "element_at(ws, i + 1), " +
                "element_at(ws, i + 2))) end")).as("g"))
        grams.groupBy("g").agg(collect_set(col("source")).as("srcs"))
          .select(explode(col("srcs")).as("source"),
            size(col("srcs")).as("nsrc"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("nsrc") === 1, 1L).otherwise(0L)).as("n_exclusive"))
      },
      run("personalized_pagerank5") {
        // seed-teleport diffusion over the same 1M-edge graph as the
        // k-core soak: five integer fixed-point rounds
        import org.apache.spark.sql.functions._
        val ids = docs10.sparkSession.range(1000000L)
        Graph.personalizedPageRank(ids.select(
            pmod(col("id") * 2654435761L, lit(20000L)).as("src"),
            pmod(col("id") * 40503L + 17L, lit(20000L)).as("dst")),
          seeds = (0L until 20L).toSeq, iterations = 5)
      },
      run("image_near_dup") {
        // 2000 PNGs (~60 MB of image bytes) generated MAP-SIDE in 200
        // near-dup cliques of 10 — few-bit dHash perturbations, the
        // text-SimHash adversarial regime at media scale. Decode +
        // hash are scan-stage; the banded pigeonhole join ships only
        // (id, band, slice) rows, so the shuffle_mb column IS the
        // image-bytes-never-shuffle proof
        val spark2 = docs10.sparkSession
        import spark2.implicits._
        val blobs = spark2.range(2000).repartition(32)
          .map(id => Multimodal.MediaBlob(id, "png", soakPng(id)))
        Multimodal.imageNearDupPairs(blobs, maxHamming = 3)
      },
      run("audio_near_dup") {
        // 2000 WAVs (~26 MB of PCM bytes), 200 envelope cliques of 10
        // with one-window amplitude perturbations — same discipline,
        // third modality: audio bytes never shuffle
        val spark2 = docs10.sparkSession
        import spark2.implicits._
        val blobs = spark2.range(2000).repartition(32)
          .map(id => Multimodal.MediaBlob(id, "wav", soakWav(id)))
        Multimodal.audioNearDupPairs(blobs, maxHamming = 3)
      },
      run("mp1_crossformat_near_dup") {
        // 1000 WAVs + 1000 MPEG-1 Layer I twins of the same 100
        // envelope cliques: the transform-codec leg decodes its
        // bitstream map-side and rides the identical banding join —
        // pairs BRIDGE the two formats, and audio bytes never shuffle
        val spark2 = docs10.sparkSession
        import spark2.implicits._
        val blobs = spark2.range(2000).repartition(32)
          .map { id =>
            if (id < 1000) Multimodal.MediaBlob(id, "wav", soakWav(id))
            else Multimodal.MediaBlob(id, "mp1", soakMp1(id - 1000))
          }
        Multimodal.audioNearDupPairs(blobs, maxHamming = 3)
      },
      run("video_near_dup") {
        // 500 raw-DIB AVIs (~75 MB of video bytes) in 50 cliques of 10
        // — decode + per-frame dHash map-side, candidates via the
        // frame-indexed pigeonhole banding; only (id, idx, hash, band,
        // slice) rows shuffle, video bytes never do
        val spark2 = docs10.sparkSession
        import spark2.implicits._
        val blobs = spark2.range(500).repartition(32)
          .map(id => Multimodal.MediaBlob(id, "avi", soakAvi(id)))
        Multimodal.videoNearDupPairs(blobs, maxHamming = 3,
          minMatchingFrames = 4)
      },
      run("winnow_fingerprints") {
        // MOSS winnowing at 10x: ~13M k-gram hashes from 50k docs
        // through the frame-min window + min-value equi-join; every
        // shuffle is doc- or (doc, hash)-keyed
        Dedup.winnowFingerprints(docs10, "doc_id", "text", k = 5, w = 4)
      },
      run("hard_negative_ann") {
        // the DPR composition at 10x: LSH top-50 dense candidates for
        // ~135 queries, exact BM25 re-rank ONLY on candidate pairs
        // (the semi-join precedes the contribution sum)
        import org.apache.spark.sql.expressions.Window
        // planes grows with log|corpus| (the rrf_fusion_ann scaladoc
        // rule): 10 planes = 1024 buckets over 50k vectors
        val cand = Similarity.lshTopK(emb10,
            emb10.filter(pmod(col("vec_id"), lit(370L)) === 0),
            "vec_id", "embedding", k = 50, dims = 64, planes = 10)
          .select(col("query_id"), col("neighbor_id").as("doc_id"))
        val terms = docs10.filter(pmod(col("doc_id"), lit(370L)) === 0)
          .select(col("doc_id").as("query_id"),
            explode(slice(split(col("text"), " "), 1, 5)).as("t"))
          .distinct()
        Queries.bm25Scores(docs10, terms, Some(cand))
          .filter(col("doc_id") =!= col("query_id"))
          .withColumn("rank", row_number().over(Window.partitionBy("query_id")
            .orderBy(desc("bm25"), asc("doc_id"))))
          .filter(col("rank") <= 3)
      },
      run("quantile_normalize") {
        // Cross-source calibration at 10x: both ranks ride the
        // range-partitioned groupedPositions exchanges (never a
        // one-task-per-source window); score = token count (cheap,
        // deterministic) so the row isolates the rank machinery
        Sampling.quantileNormalize(
          docs10.select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).cast("double").as("score")),
          "source", "score", "doc_id")
      },
      run("pmi_phrases") {
        // collocation mining at 10x: two decomposable count
        // aggregations + TakeOrdered; minCount prunes the hapax tail
        // before the unigram joins
        NgramLM.pmiPhrases(docs10, "doc_id", "text", minCount = 50L,
          topK = 50)
      },
      run("hard_negative_mine") {
        // Exhaustive BM25 hard-negative scoring at 10x docs: ~135
        // queries (every 370th doc's first-5-words) against 50k docs
        // through the re-planned bm25Scores kernel — the (doc, term)
        // aggregate builds behind the broadcast query-vocabulary
        // semi-filter, df broadcasts back from its per-term count, and
        // the query fan-out touches AGGREGATED rows only (never the
        // occurrences x queries token blowup). The cluster-exclusion
        // leg is soaked separately (duplicate_clusters); this row
        // isolates the scoring + per-query top-3 rank.
        import org.apache.spark.sql.expressions.Window
        val terms = docs10.filter(pmod(col("doc_id"), lit(370L)) === 0)
          .select(col("doc_id").as("query_id"),
            explode(slice(split(col("text"), " "), 1, 5)).as("t"))
          .distinct()
        Queries.bm25Scores(docs10, terms)
          .filter(col("doc_id") =!= col("query_id"))
          .withColumn("rank", row_number().over(Window.partitionBy("query_id")
            .orderBy(desc("bm25"), asc("doc_id"))))
          .filter(col("rank") <= 3)
      },
      run("bitext_ann") {
        // ANN bitext mining at 10x: 10k x 10k corpora (even/odd halves
        // of the perturbed embeddings — true near-identical matches
        // exist across the halves by construction). NOTHING broadcasts:
        // candidates come from the per-side banded tables (256 buckets
        // per table at planesPerTable=8, ~40 ids per bucket), exact
        // margin re-rank on candidates only
        Similarity.bitextMarginPairsAnn(
          emb10.filter(col("vec_id") % 2 === 0),
          emb10.filter(col("vec_id") % 2 === 1),
          "vec_id", "embedding", dims = 64, planesPerTable = 8, tables = 4)
      },
      run("kcenter_select8") {
        // 8 farthest-point rounds over 20k vectors: each is one corpus
        // map pass against <=8 broadcast centers through the fused
        // vec_sqdist kernel + a TakeOrdered top-1; driver state is 8
        // vectors. Zero shuffle expected - selection is scan+top-1
        Embeddings.kCenterGreedy(emb10, "vec_id", "embedding", k = 8)
      },
      run("coverage_select5") {
        // 5 greedy max-coverage rounds over the 10x corpus's exploded
        // trigram table (localCheckpointed once): per round one
        // anti-join against the distributed covered set + one count
        // agg + top-1
        Sampling.coverageSelect(docs10, "doc_id", "text", k = 5)
      },
      run("thread_paths8") {
        // tree flattening at 10x: 1000 heap-shaped 50-message trees
        // (25k leaves), 8 walk rounds — each one frontier equi-join
        // against the reusable (id, parent) exchange
        import org.apache.spark.sql.functions.{col, expr}
        val t = docs10.select(col("doc_id"),
          expr("CASE WHEN doc_id % 50 = 0 THEN CAST(NULL AS BIGINT) " +
            "ELSE (doc_id div 50) * 50 + (doc_id % 50 - 1) div 2 END").as("parent"))
        PostTraining.threadPaths(t, "doc_id", "parent", maxDepth = 8)
      },
      run("winnow_overlap") {
        // the MOSS pair report at 10x: fingerprints from 50k docs,
        // df <= 20 hub cap BEFORE the fp-keyed self-join — the 10x
        // corpus raises every common gram's df, so the cap carries
        // the whole load; only (id, fp) int pairs shuffle
        Dedup.winnowOverlap(docs10, "doc_id", "text",
          k = 5, w = 4, maxDf = 20L, minShared = 3L)
      },
      run("winnow_overlap_skew") {
        // ADVERSARIAL hub skew: 2,000 docs share one identical
        // boilerplate preamble, so each of its winnowed fingerprints
        // has df ~2000 = maxDf x 100 pre-cap — a naive fp-keyed
        // self-join would form ~2M pairs PER FINGERPRINT. The df <= 20
        // exclusion BEFORE the join must bound the candidate set to
        // the unique-tail fingerprints; the recorded shuffle size is
        // the proof that the cap (not corpus luck) carries the load.
        val boiler = "all users must accept the standard terms of " +
          "service and the privacy policy before continuing to the " +
          "site contents as described in the legal notice section "
        val skew = docs10.filter(col("doc_id") < 2000)
          .select(col("doc_id"),
            concat(lit(boiler), col("text")).as("text"))
        Dedup.winnowOverlap(skew, "doc_id", "text",
          k = 5, w = 4, maxDf = 20L, minShared = 3L)
      },
      run("edit_distance_join") {
        // Ed-Join at 10x: ~15M occurrence-keyed 3-grams from 50k docs,
        // constant 7-gram rarity prefixes, candidates from the prefix
        // equi-join + length band. The 10x corpus's byte-identical
        // copy sets (~7 copies per doc) are genuine dist-0 cliques, so
        // verification runs ~100k real levenshtein calls — the
        // adversarial regime for candidate volume
        Dedup.editDistancePairs(docs10, "doc_id", "text",
          maxDist = 2, q = 3)
      },
      run("edit_distance_skew") {
        // ADVERSARIAL gram skew for Ed-Join: the same 2,000-doc shared
        // preamble makes every preamble q-gram's occurrence key carry
        // df ~2000 — if those grams ever reached the candidate join it
        // would be a 2000^2 blow-up. The 7-gram RARITY prefix (sorted
        // by df, ubiquitous grams never selected) is the bound under
        // test; shuffle size recorded as the evidence.
        val boiler = "all users must accept the standard terms of " +
          "service and the privacy policy before continuing to the " +
          "site contents as described in the legal notice section "
        val skew = docs10.filter(col("doc_id") < 2000)
          .select(col("doc_id"),
            concat(lit(boiler), col("text")).as("text"))
        Dedup.editDistancePairs(skew, "doc_id", "text", maxDist = 2, q = 3)
      },
      run("kn_lm_score") {
        // Kneser-Ney at 10x: fit on the %10 slice (5k docs), score all
        // 50k — three vocabulary-keyed joins + the sorted-fold roll-up
        val m = NgramLM.fitKN(
          docs10.filter(pmod(col("doc_id"), lit(10L)) === 0),
          "doc_id", "text")
        NgramLM.scoreKN(docs10, "doc_id", "text", m)
      },
      run("naive_bayes") {
        // 20-class source routing at 10x: two token-keyed count aggs,
        // a 20-row broadcast class table, the (class, token) x corpus
        // left join and the per-doc argmax
        Classifier.naiveBayes(
          docs10.filter(pmod(col("doc_id"), lit(10L)) === 0)
            .select(col("source").as("label"), col("text")),
          docs10, "doc_id", "text", "label")
      },
      run("label_propagation4") {
        // 4 synchronous LPA rounds over the same 1M-edge graph as the
        // k-core soak: per round one neighbor-keyed join + two id-keyed
        // aggs shuffling (id, label, count) triples only
        val ids = docs10.sparkSession.range(1000000L)
        Graph.labelPropagation(ids.select(
            pmod(col("id") * 2654435761L, lit(20000L)).as("src"),
            pmod(col("id") * 40503L + 17L, lit(20000L)).as("dst")),
          rounds = 4)
      },
      run("bleu_rouge") {
        // generation eval at 10x: 50k (candidate, reference) pairs,
        // four gram orders exploding in one pass per side, everything
        // pair-id-keyed
        val prs = docs10
          .select(col("doc_id"), col("text"), split(col("text"), " ").as("ws"))
          .select(col("doc_id"),
            concat(concat_ws(" ",
              expr("slice(ws, 1, greatest((size(ws)*4) div 5, 1))")),
              lit(" zqx zqy")).as("cand"),
            col("text").as("ref"))
        Eval.bleuRouge(prs, "doc_id", "cand", "ref")
      },
      run("abtt_component4") {
        // integer power iteration at 10x: 20k vectors, 4 rounds — each
        // one corpus map pass (dot against the broadcast-literal
        // direction) + bounded partial-vector collects; driver state
        // is 64 longs
        Embeddings.topComponentFixedPoint(emb10, "vec_id", "embedding",
          dim = 64, iterations = 4)._2
      },
      run("perceptron_train4") {
        // 4 integer-exact training rounds at 10x: each is one
        // map+aggregate corpus pass; driver state is 16 longs/round
        import org.apache.spark.sql.functions._
        val feats = graft.functions.TextAnalysis
          .hashedNgramFeatures(col("text"), dim = 16)
        val y = when(size(split(col("text"), " ")) >= 150, 1L).otherwise(-1L)
        val hist = Classifier.trainPerceptron(
          docs10.select(feats.as("f"), y.as("y")), col("f"), col("y"),
          dim = 16, rounds = 4)
        val spark2 = docs10.sparkSession
        import spark2.implicits._
        hist.flatMap { case (r, ws) =>
          ws.zipWithIndex.map { case (wv, j) => (r, j, wv) } }
          .toDF("round", "bucket", "w")
      },
      run("retrieval_metrics") {
        // ranking eval at 10x: 50k run rows over 1k query blocks — one
        // (q, d)-keyed join + two query-keyed aggs; DCG terms round-9
        // at birth, summed by rank-ordered folds (never a global sort)
        val runs = docs10.select(expr("doc_id div 50").as("query_id"),
            col("doc_id"), expr("(doc_id * 7) % 50 + 1").as("rank"))
          .filter(col("rank") <= 10)
        val qrels = docs10
          .filter(expr("doc_id % 11 < 4 AND (doc_id div 50) % 10 <> 3"))
          .select(expr("doc_id div 50").as("query_id"), col("doc_id"),
            expr("(doc_id % 3) + 1").as("rel"))
        Eval.retrievalMetrics(runs, qrels, "query_id", "doc_id",
          "rank", "rel", k = 10)
      },
      run("auc_roc") {
        // classifier eval at 10x: AUC via the (group, score)-aggregated
        // two-level prefix sum — the soak proves the shape holds where
        // an ORDER-BY-score window over 50k raw rows would serialize
        val scored = docs10.select(expr("doc_id % 4").as("grp"),
          expr("CAST((doc_id * 37) % 1000 AS DOUBLE) / 1000.0").as("score"),
          expr("CASE WHEN (doc_id * 37) % 1000 + (doc_id * 13) % 600 >= 1000 " +
            "THEN 1 ELSE 0 END").as("label"))
        Eval.rocAuc(scored, "grp", "score", "label")
      },
      run("cluster_labels") {
        // c-TF-IDF naming over the full 10x vocabulary: two token
        // aggs + the vocabulary join + the range-partitioned rank
        Classifier.clusterLabels(docs10, "source", "text", topK = 10)
      },
      run("bradley_terry8") {
        // ~450k votes over 100 items, 8 MM rounds — every round is
        // two items-sized broadcast joins + one fold agg
        val m = docs10.select(pmod(col("doc_id"), lit(100L)).as("a"),
            pmod(col("doc_id") * 31 + 7, lit(100L)).as("b"),
            col("doc_id").as("k"))
          .filter(col("a") =!= col("b"))
        val won = pmod(col("k") * 13, col("a") + col("b") + 2) <= col("a")
        PostTraining.bradleyTerry(
          m.select(when(won, col("a")).otherwise(col("b")).as("w"),
            when(won, col("b")).otherwise(col("a")).as("l")),
          "w", "l", rounds = 8)
      },
      run("ict_pairs") {
        // contrastive view synthesis at 10x: zero-shuffle array math
        PostTraining.ictPairs(docs10, "doc_id", "text",
          windowWords = 16, keepQueryPct = 10)
      },
      run("pii_pseudonymize") {
        // regex extraction + longest-first fold over 50k seeded docs:
        // the op is scan-stage only — shuffle column must read ~0
        import graft.functions.TextAnalysis
        docs10.select(col("doc_id"), TextAnalysis.pseudonymizePii(
          concat(col("text"), lit(" contact user"),
            pmod(col("doc_id"), lit(7L)), lit("@example.com ip 10.0.0."),
            pmod(col("doc_id"), lit(255L)))).as("clean"))
      },
      run("needle_probes") {
        Denoise.needleProbes(docs10, "doc_id", "text", ctxWords = 64)
      },
      run("drift_psi") {
        // 10x drift monitor: 20 sources x 10 buckets of exact counts
        val score = expr("CAST((doc_id * 37) % 1000 AS DOUBLE) / 1000.0")
        val score2 =
          expr("CAST((doc_id * (31 + length(source) % 7)) % 1000 AS DOUBLE) / 1000.0")
        Profile.distributionDrift(
          docs10.filter(pmod(col("doc_id"), lit(3L)) < 2)
            .select(col("source"), score.as("score")),
          docs10.filter(pmod(col("doc_id"), lit(3L)) === 2)
            .select(col("source"), score2.as("score")),
          "source", "score")
      },
      run("hits4") {
        // 4 HITS iterations on the 1M-edge / 20k-node graph the k-core
        // and LPA soaks use: per round two edge-keyed joins + two
        // 1-row max scalars broadcast back — only (id, score) longs
        // shuffle
        val ids = docs10.sparkSession.range(1000000L)
        Graph.hits(ids.select(
            pmod(col("id") * 2654435761L, lit(20000L)).as("src"),
            pmod(col("id") * 40503L + 17L, lit(20000L)).as("dst")),
          iterations = 4)
      },
      run("wordpiece_encode") {
        // the second subword family at 10x: vocab aggregation over the
        // full corpus, then the greedy fold as a zero-shuffle map pass
        val vocab = WordPiece.buildVocab(docs10, "text", topK = 25)
        WordPiece.encode(docs10, "doc_id", "text", vocab)
      },
      run("mmr_select8") {
        // 8 MMR rounds over the 50k embeddings: one corpus map pass
        // per round against broadcast center literals, TakeOrdered
        // top-1 — shuffle must stay ~0 (the kcenter signature)
        Embeddings.mmrSelect(emb10.withColumn("rel",
            expr("CAST((vec_id * 17) % 100 AS DOUBLE) / 1000.0")),
          "vec_id", "embedding", "rel", k = 8)
      },
      run("fleiss_kappa") {
        // agreement audit at 10x: item-keyed contingency over 50k
        // ratings, three 1-row aggregates out
        Eval.fleissKappa(docs10.select(expr("doc_id div 5").as("item"),
            pmod(col("doc_id") * 7, lit(4L)).as("cat")),
          "item", "cat", ratersPerItem = 5)
      },
      run("cdc_chunks") {
        // content-defined chunking at 10x: per-char 8-gram hashing is
        // the winnowing cost shape; map-side only until the chunk-hash
        // groupBy — shuffle carries (md5, count) partials
        Dedup.cdcChunks(docs10, "doc_id", "text")
          .groupBy(md5(col("chunk")).as("h"))
          .agg(count(lit(1)).as("n"))
          .filter(col("n") > 1)
      },
      run("unigram_segment") {
        // the Viterbi subword family at 10x: vocab aggregation, then
        // the O(len^2 * L)-per-word DP fold as a zero-shuffle map pass
        val vocab = Unigram.buildVocab(docs10, "text", topK = 25)
        Unigram.encode(docs10, "doc_id", "text", vocab)
      },
      run("mjpeg_video_near_dup") {
        // 600 MJPEG AVIs (~10 MB of compressed video) in 60 cliques of
        // 10 — the COMPRESSED-codec leg of the video discipline: every
        // '00dc' frame is entropy-decoded by the T.81 DC path map-side,
        // candidates via the frame-indexed pigeonhole banding; only
        // (id, idx, hash, band, slice) rows shuffle, JPEG bytes never do
        val spark2 = docs10.sparkSession
        import spark2.implicits._
        val blobs = spark2.range(600).repartition(32)
          .map(id => Multimodal.MediaBlob(id, "avi", soakMjpeg(id)))
        Multimodal.videoNearDupPairs(blobs, maxHamming = 3,
          minMatchingFrames = 4)
      },
      run("chrf") {
        // char-gram F at 10x: 50k pairs through the pre-partitioned
        // exchange-free plan — the only shuffle is 2 rows per pair
        val prs = docs10
          .select(col("doc_id"), col("text"), split(col("text"), " ").as("ws"))
          .select(col("doc_id"),
            concat(concat_ws(" ",
              expr("slice(ws, 1, greatest((size(ws)*4) div 5, 1))")),
              lit(" zqx zqy")).as("cand"),
            col("text").as("ref"))
        Eval.chrF(prs, "doc_id", "cand", "ref")
      },
      run("ktruss_peel") {
        // 500k edges / 50k nodes, 2 peel rounds + final recount: three
        // degree-oriented triangle enumerations, wedge fan-out bounded
        // by the low-degree endpoints
        val spark2 = docs10.sparkSession
        val e = spark2.range(500000)
          .selectExpr("id * 7 % 50000 AS src", "id * 11 % 50000 AS dst")
        Graph.kTruss(e, k = 4, rounds = 2)
      },
      run("secret_scan") {
        // credential scan at 10x: 50k docs, ~3.8k planted hex keys;
        // entropy per DISTINCT candidate then join-back (Zipf shape)
        val marked = docs10.select(col("doc_id"),
          concat(col("text"),
            when(pmod(col("doc_id"), lit(13L)) === 0,
              concat(lit(" sk_"), md5(col("doc_id").cast("string"))))
              .otherwise(lit(""))).as("text"))
        Curation.secretScan(marked, "doc_id", "text")
      },
      run("crawl_frontier") {
        // politeness scheduling at 10x: 50k candidates, 2000/domain,
        // 10k cycle budget — domain-keyed window + TakeOrdered cut
        val cand = docs10.select(
          concat(lit("https://"), col("source"), lit("/d/"), col("doc_id"))
            .as("url"),
          col("source").as("domain"), length(col("text")).as("priority"),
          col("doc_id"))
        Pipeline.crawlFrontier(cand, "url", "domain", "priority", "doc_id",
          perDomainCap = 2000, cycleCapacity = 10000, crawlDelayS = 5)
      },
      run("gif_video_near_dup") {
        // 600 animated GIFs (LZW frames) in 60 cliques of 10 — the
        // third video container through the same frame-indexed
        // pigeonhole; GIF bytes never shuffle
        val spark2 = docs10.sparkSession
        import spark2.implicits._
        val blobs = spark2.range(600).repartition(32)
          .map(id => Multimodal.MediaBlob(id, "gif", soakGif(id)))
        Multimodal.videoNearDupPairs(blobs, maxHamming = 3,
          minMatchingFrames = 4)
      },
      run("bootstrap_ci") {
        // Poisson bootstrap at 10x: 50k docs x 40 replicates explode
        // map-side; partial agg reduces the exchange to B-per-partition
        val scored = docs10.select(col("doc_id"),
          graft.functions.TextAnalysis.qualityScore(col("text")).as("s"))
        Eval.bootstrapCI(scored, "doc_id", "s", replicates = 40)
      },
      run("watermark_detect") {
        // green-list z-scores at 10x: pair hash + two counts per doc,
        // one doc-keyed aggregation
        val pairs = docs10
          .select(col("doc_id"), split(col("text"), " ").as("ws"))
          .filter(size(col("ws")) >= 2)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(1, size(ws) - 1), " +
              "i -> concat_ws(char(1), element_at(ws, CAST(i AS INT)), " +
              "element_at(ws, CAST(i AS INT) + 1)))")).as("pair"))
        val h = Sampling.hash32(col("pair"), "wm_")
        pairs.select(col("doc_id"), (pmod(h, lit(4L)) === 0).as("g"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n"), sum(when(col("g"), 1L).otherwise(0L))
            .as("ng"))
      },
      run("min_k_prob") {
        // membership inference at 10x: the KN joins + the min-k slice
        // of the sorted per-doc fold, corpus-mean flag via one 1-row
        // broadcast
        val model = NgramLM.fitKN(
          docs10.filter(pmod(col("doc_id"), lit(10)) === 0),
          "doc_id", "text")
        NgramLM.minKProb(docs10, "doc_id", "text", model)
      },
      run("heaps_fit") {
        // vocab-growth fit at 10x: one token pass to (word, min id),
        // one doc pass, both reduced to 10 rung rows
        Profile.heapsFit(docs10, "doc_id", "text", rungs = 10)
      },
      run("lexical_diversity") {
        // the one-pass panel at 10x: token agg + 1-row reduce
        Profile.lexicalDiversity(docs10, "text")
      },
      run("word_dispersion") {
        // (word, source) counts + broadcast source totals; dense grid
        // only for the TakeOrdered top-20
        Profile.wordDispersion(docs10, "text", "source", topK = 20)
      },
      run("gini_lengths") {
        // rankedPrefixSums over 50k rows: range exchange + per-slice
        // windows — the machinery's first 10x row
        Profile.giniIndex(docs10.select(col("doc_id"),
          length(col("text")).as("len")), "len", "doc_id")
      },
      run("rank_correlation") {
        Profile.rankCorrelation(docs10.select(col("doc_id"),
          length(col("text")).as("x"),
          size(split(col("text"), " ")).cast("long").as("y")),
          "x", "y", "doc_id")
      },
      run("ks_sources") {
        // both cumulative counts in ONE rankedPrefixSums pass (packed)
        Profile.ksTest(docs10.select(length(col("text")).as("v"),
          col("source")), "v", col("source") === "src0")
      },
      run("mann_whitney") {
        // the rank-sum sibling: doubled midranks + the packed pass
        Profile.mannWhitney(docs10.select(length(col("text")).as("v"),
          col("source")), "v", col("source") === "src0")
      },
      run("kruskal_wallis") {
        // the k-sample extension: all 20 sources in one statistic —
        // (value, group) counts, one ranked pass, a group-bounded fold
        Profile.kruskalWallis(docs10.select(length(col("text")).as("v"),
          col("source")), "v", "source")
      },
      run("benford") {
        // first-digit profile at 10x: nine counts + a digit-ordered fold
        Profile.benfordTest(docs10.select(length(col("text")).as("v")), "v")
      },
      run("mad_outliers") {
        // two ranked median selections + one map-side integer cut
        Profile.madOutliers(docs10.select(length(col("text")).as("v")), "v")
      },
      run("cliffs_delta") {
        // effect size at 10x: same one-pass doubled-midrank aggregate
        // as mann_whitney, second statistic for free
        Profile.cliffsDelta(docs10.select(length(col("text")).as("v"),
          col("source")), "v", col("source") === "src0")
      },
      run("kendall_tau") {
        // grid-exact tau-b at 10x: the |G|^2 half-grid join stays a
        // bucket-design constant no matter the row count
        Profile.kendallTau(docs10.select(
          expr("length(text) div 64").as("x"),
          expr("size(split(text, ' ')) div 8").cast("long").as("y")),
          "x", "y")
      },
      run("drift_jsd") {
        // bounded divergence at 10x: two (group, bucket) aggregates,
        // a <=10-row-per-group join, one bin-ordered fold
        val ref = docs10.filter(pmod(col("doc_id"), lit(3L)) < 2)
          .select(col("source"),
            expr("CAST((doc_id * 37) % 1000 AS DOUBLE) / 1000.0").as("s"))
        val cur = docs10.filter(pmod(col("doc_id"), lit(3L)) === 2)
          .select(col("source"),
            expr("CAST((doc_id * (31 + length(source) % 7)) % 1000 AS DOUBLE) / 1000.0")
              .as("s"))
        Profile.jsDivergenceDrift(ref, cur, "source", "s")
      },
      run("readability") {
        // per-doc Flesch scores at 10x: one zero-exchange projection
        docs10.select(col("doc_id"),
          graft.functions.TextAnalysis.readability(col("text")).as("r"))
          .select(col("doc_id"), col("r.fre"), col("r.fk_grade"))
      },
      run("theil_index") {
        // between/within decomposition at 10x: one group aggregate
        // with the order-free decimal x*ln(x) sum, a k-row fold
        Profile.theilIndex(docs10.select(col("source"),
          size(split(col("text"), " ")).cast("long").as("v")),
          "v", "source")
      },
      run("temporal_family") {
        // the four temporal statistics over a 10x-replicated event
        // series (each copy shifted +31 days -> a 7,440-hour grid,
        // 1M rows): proves the grid stays calendar-sized while the
        // row side scales 10x
        val ev10 = core.Tables.events(spark, sfDir)
          .crossJoin(spark.range(10).toDF("copy"))
          .select((col("ts") + expr("make_interval(0, 0, 0, 1, 0, 0, 0)")
            * col("copy") * 31).as("ts"))
        val a = Profile.mannKendall(ev10, "ts")
        val b = Profile.theilSen(ev10, "ts")
        val c = Profile.seasonalityStrength(ev10, "ts")
        val d = Profile.cusumChangepoint(ev10, "ts")
        a.crossJoin(b.select(col("slope")))
          .crossJoin(c.groupBy().agg(max("eta2").as("eta2")))
          .crossJoin(d.select(col("cusum_peak")))
      },
      run("trimmed_mean") {
        // robust location at 10x: one ranked pass + interval clipping
        Profile.trimmedMean(docs10.select(length(col("text")).as("v")),
          "v", 5L, 100L)
      },
      run("assortativity") {
        // degree mixing at 10x on a doc-id graph: distinct + degree
        // agg + two broadcast joins, a 1-row reduce
        Graph.assortativity(docs10.select(
          pmod(col("doc_id"), lit(500L)).as("src"),
          pmod(col("doc_id") * 7L + 3L, lit(500L)).as("dst")))
      },
      run("modularity") {
        // community quality at 10x: the exact integer form — no
        // per-community fold, communities can be data-sized
        val e = docs10.select(pmod(col("doc_id"), lit(500L)).as("src"),
          pmod(col("doc_id") * 7L + 3L, lit(500L)).as("dst"))
        Graph.modularity(e, e.select(col("src").as("id"),
          pmod(col("src"), lit(25L)).as("community")).distinct())
      },
      run("kmv_distinct") {
        // the mergeable distinct sketch at 10x: distinct-hash agg +
        // one TakeOrdered cut — values never exchange
        Sketches.kmvDistinct(docs10.select(col("doc_id")), "doc_id",
          k = 256)
      },
      run("dp_counts") {
        // the Laplace release at 10x: one count aggregate, map-side
        // noise — groups never reshuffle
        Privacy.laplaceCounts(docs10, "source", epsilon = 1.0, salt = "dp_")
      },
      run("cohens_d") {
        // parametric effect size at 10x: ONE scan-level aggregate of
        // exact decimal sums — the cheapest row in the family
        Profile.cohensD(docs10.select(length(col("text")).as("v"),
          col("source")), "v", col("source") === "src0")
      },
      run("mutual_information") {
        // (source, length-bucket) grid at 10x: counts + bounded folds
        Profile.mutualInformation(docs10.select(col("source"),
          expr("length(text) div 100").cast("string").as("lb")),
          "source", "lb")
      },
      run("brier_decomposition") {
        // Murphy terms at 10x: one bin-keyed aggregate + <=10 folds
        Eval.brierDecomposition(docs10.select(
          expr("CAST((doc_id * 41) % 1000 AS DOUBLE) / 1000.0").as("s"),
          expr("CASE WHEN (doc_id * 41) % 1000 + (doc_id * 17) % 500 >= 750 " +
            "THEN 1 ELSE 0 END").as("l")), "s", "l")
      },
      run("neyman_allocation") {
        // stratified design at 10x: one stratum aggregate + k-row fold
        Sampling.neymanAllocation(docs10.select(col("source"),
          length(col("text")).cast("long").as("v")), "source", "v", 1000L)
      },
      run("unimax_budget") {
        // the waterfill at 10x (by source — the 10x table drops lang):
        // one group aggregate, the whole plan in a k-row array fold —
        // corpus bytes never reshuffle
        Sampling.unimaxBudget(docs10, "source",
          size(split(col("text"), " ")).cast("long"),
          budgetNum = 8L, budgetDen = 5L, maxEpochs = 2L)
      },
      run("conformal_interval") {
        // Mondrian split conformal at 10x: two groupedPositions range
        // exchanges + broadcast per-group (med, qhat)
        val d = docs10.select(col("doc_id"), col("source"),
          length(col("text")).cast("long").as("y"))
        val cal = d.filter(pmod(col("doc_id"), lit(7L)) === 0)
        val sizes = cal.groupBy("source").agg(count(lit(1)).as("n_g"))
        val med = Sampling.groupedPositions(cal, Seq("source"),
            Seq(col("y"), col("doc_id")), "rn")
          .join(broadcast(sizes), "source")
          .filter(col("rn") === expr("(n_g + 1) div 2"))
          .select(col("source"), col("y").as("med"))
        val scored = cal.join(broadcast(med), "source")
          .select(col("source"), col("doc_id"),
            abs(col("y") - col("med")).as("s"))
        val qhat = Sampling.groupedPositions(scored, Seq("source"),
            Seq(col("s"), col("doc_id")), "rs")
          .join(broadcast(sizes), "source")
          .filter(col("rs") === expr("(9 * (n_g + 1) + 9) div 10"))
          .select(col("source"), col("s").as("qhat"))
        d.filter(pmod(col("doc_id"), lit(7L)) =!= 0)
          .join(broadcast(med), "source")
          .join(broadcast(qhat), Seq("source"), "left")
          .select(col("doc_id"), col("source"),
            (col("y") >= col("med") - col("qhat") &&
              col("y") <= col("med") + col("qhat")).as("covered"))
      },
      run("iban_scan") {
        // map-side checksum gate over the 10x corpus with planted
        // candidates: regex extract + the mod-97 remainder fold
        val planted = when(pmod(col("doc_id"), lit(5L)) === 0,
            lit(" iban GB82WEST12345698765432"))
          .when(pmod(col("doc_id"), lit(5L)) === 2,
            lit(" iban GB82WEST12345678654321"))
          .otherwise(lit(""))
        docs10.select(col("doc_id"),
            concat(col("text"), planted).as("text"))
          .select(col("doc_id"), explode(expr(
            "regexp_extract_all(text, '\\\\b[A-Z]{2}\\\\d{2}[A-Z0-9]{11,30}\\\\b', 0)"))
            .as("iban"))
          .select(col("doc_id"), col("iban"),
            graft.functions.TextAnalysis.ibanValid(col("iban")).as("valid"))
      },
      run("dtmf_decode") {
        // 600 dial recordings demodulated map-side; only (id, digits)
        // rows leave the scan
        val spark2 = docs10.sparkSession
        import spark2.implicits._
        val blobs = spark2.range(600).repartition(32)
          .map(id => Multimodal.MediaBlob(id, "wav", soakDial(id)))
        Dtmf.audioDtmf(blobs)
      },
      run("snapshot_upsert") {
        // the versioned-manifest incremental cycle at 10x: three
        // upsert cycles (merge + snapshot commit each) over the 50k-doc
        // corpus keyed on doc_id, then the keyed diff of the last two
        // versions. Cost = 3 × (one keyed merge window + one parquet
        // write + one manifest rename) + one full-outer diff join —
        // the format itself adds only the rename per cycle.
        val root = java.nio.file.Files
          .createTempDirectory("graft_soak_snap").toString + "/t"
        val base = docs10.select(col("doc_id"), col("source"),
          length(col("text")).cast("long").as("len"))
        for (c <- 0L to 2L)
          graft.core.SnapshotTable.upsertCycle(
            base.filter(pmod(col("doc_id"), lit(3L)) === c)
              .withColumn("len", col("len") + c),
            root, Seq("doc_id"), Seq(col("source")))
        graft.core.SnapshotTable.diff(root = root, spark = docs10.sparkSession,
          vFrom = 2L, vTo = 3L, keys = Seq("doc_id"))
      },
      run("snapshot_targeted") {
        // the write-amplification claim measured at 10x: a 50k-doc
        // corpus commits range-clustered with key stats, then a SMALL
        // re-crawl batch (~1/64 of keys) upserts through the TARGETED
        // path — manifest ranges bound the candidates, only the files
        // holding batch keys rewrite, everything else is referenced
        // verbatim. The in-run require pins the shape (kept > rewritten)
        // so a regression back to O(table) rewriting fails the soak,
        // not just slows it.
        val root = java.nio.file.Files
          .createTempDirectory("graft_soak_targeted").toString + "/t"
        val base = docs10.select(col("doc_id"), col("source"),
          length(col("text")).cast("long").as("len"))
          .repartitionByRange(16, col("doc_id"))
        graft.core.SnapshotTable.commit(docs10.sparkSession, root, base,
          statsCols = Seq("doc_id"))
        // a re-crawl batch confined to the low key range — the shape
        // the range-clustered layout exists for (a uniform key sample
        // would touch every file and rightly rewrite them all). Derived
        // from the COMMITTED snapshot, not the 10x source frame: the
        // upsert machinery evaluates its batch several times (guard,
        // range agg, hit join, write), and each evaluation must read
        // the 3-column parquet, not re-explode 50k documents
        val snap = graft.core.SnapshotTable.read(docs10.sparkSession, root)
        val mx = snap.agg(max(col("doc_id"))).head().getLong(0)
        val batch = snap.filter(col("doc_id") <= mx / 16L)
          .withColumn("len", col("len") + 7L)
        val (_, rew, kept) = graft.core.SnapshotTable.upsertTargeted(
          batch, root, Seq("doc_id"), Seq(col("source")),
          statsCols = Seq("doc_id"))
        require(rew >= 1 && kept > rew,
          s"targeted upsert lost its COW shape at 10x: rewrote $rew, " +
            s"kept $kept")
        graft.core.SnapshotTable.read(docs10.sparkSession, root)
      },
      run("snapshot_cdc") {
        // the live-feed cycle at 10x: a TRACKED bootstrap commit over
        // the 50k-doc corpus, then a low-range re-crawl upserted
        // through the TARGETED path (batch-scoped changelog), the
        // stored feed read back gap-verified and APPLIED to a derived
        // view via applyChangesCycle — which is itself TARGETED: the
        // bootstrap apply range-clusters the view with key stats, so
        // the incremental apply hit-detects the handful of view files
        // holding the batch's keys, COW-rewrites only those, and
        // references the rest verbatim. The in-run require pins
        // kept > rewritten per trigger — a regression back to
        // O(view)-per-batch maintenance fails the soak, not just
        // slows it.
        val s2 = docs10.sparkSession
        val root = java.nio.file.Files
          .createTempDirectory("graft_soak_cdc").toString + "/t"
        val base = docs10.select(col("doc_id"), col("source"),
          length(col("text")).cast("long").as("len"))
        graft.core.SnapshotTable.commit(s2, root, base,
          statsCols = Seq("doc_id"), changeKeys = Seq("doc_id"))
        val snap = graft.core.SnapshotTable.read(s2, root)
        val mx = snap.agg(max(col("doc_id"))).head().getLong(0)
        graft.core.SnapshotTable.upsertTargeted(
          snap.filter(col("doc_id") <= mx / 16L)
            .withColumn("len", col("len") + 7L),
          root, Seq("doc_id"), Seq(col("source")),
          statsCols = Seq("doc_id"), trackChanges = true)
        val view = java.nio.file.Files
          .createTempDirectory("graft_soak_cdcview").toString + "/v"
        def derive(changed: DataFrame): DataFrame =
          changed.select(col("doc_id"), (col("len") * 2L).as("feat"))
            .repartitionByRange(16, col("doc_id"))
        graft.core.SnapshotTable.applyChangesCycle(
          graft.core.SnapshotTable.readChanges(s2, root, 0L)
            .filter(col("version") === 1L),
          view, Seq("doc_id"), derive, statsCols = Seq("doc_id"))
        val (_, rew, kept) = graft.core.SnapshotTable.applyChangesCycle(
          graft.core.SnapshotTable.readChanges(s2, root, 1L),
          view, Seq("doc_id"), derive, statsCols = Seq("doc_id"))
        require(rew >= 1 && kept > rew,
          s"CDC view maintenance lost its targeted shape at 10x: " +
            s"rewrote $rew, kept $kept")
        graft.core.SnapshotTable.read(s2, view)
      },
      run("snapshot_contention") {
        // the validated-commit protocol at REAL data volume: two
        // concurrent cyclers each run three targeted upsert cycles
        // against ONE 50k-doc table (disjoint key halves, so the
        // final state is deterministic under any interleaving). The
        // rebase loop must serialize them — zero lost updates (both
        // halves' final revisions present), exactly one version per
        // cycle (6 on top of the base), and the bounded retry budget
        // never trips at contention-under-load.
        val s2 = docs10.sparkSession
        val root = java.nio.file.Files
          .createTempDirectory("graft_soak_race").toString + "/t"
        val base = docs10.select(col("doc_id"), col("source"),
          length(col("text")).cast("long").as("len"))
          .repartitionByRange(16, col("doc_id"))
        graft.core.SnapshotTable.commit(s2, root, base,
          statsCols = Seq("doc_id"))
        val snap = graft.core.SnapshotTable.read(s2, root)
        val mx = snap.agg(max(col("doc_id"))).head().getLong(0)
        val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
        def cycler(parity: Long): Thread = {
          val t = new Thread(() => {
            try {
              for (c <- 1L to 3L)
                graft.core.SnapshotTable.upsertTargeted(
                  snap.filter(pmod(col("doc_id"), lit(2L)) === parity &&
                      col("doc_id") <= mx / 8L)
                    .withColumn("len", col("len") + 100L * parity + c),
                  root, Seq("doc_id"), Seq(col("source")),
                  statsCols = Seq("doc_id"))
            } catch { case e: Throwable => errs.add(e) }
          })
          t.setName(s"soak-cycler-$parity"); t.start(); t
        }
        val ts = Seq(cycler(0L), cycler(1L))
        ts.foreach(_.join())
        require(errs.isEmpty,
          s"concurrent cyclers failed: ${errs.peek()}")
        val vs = graft.core.SnapshotTable.versions(s2, root)
        require(vs.size == 7,
          s"expected 7 serialized versions (1 base + 6 cycles), got " +
            s"${vs.size}")
        // exact final state: each touched key's len = base + 100*parity
        // + 3 (its cycler's LAST cycle), untouched keys unchanged — a
        // lost update from either cycler diverges
        val after = graft.core.SnapshotTable.read(s2, root)
        val expected = snap.withColumn("len",
          when(col("doc_id") <= mx / 8L,
            col("len") + lit(100L) * pmod(col("doc_id"), lit(2L)) + 3L)
            .otherwise(col("len")))
        val lost = expected.except(after).count()
        val extra = after.except(expected).count()
        require(lost == 0L && extra == 0L,
          s"lost updates under contention: $lost missing, $extra stray")
        after
      })

    val total = results.map(_._2).sum
    val line = results.map { case (n, w, sh, sp) =>
      "\"" + n + "\":{\"sec\":" + f"$w%.2f" +
        ",\"shuffle_mb\":" + f"$sh%.1f" + ",\"spill_mb\":" + f"$sp%.1f" + "}"
    }.mkString("{", ",", "}")
    println(s"""{"metric":"soak_total","value":${f"$total%.2f"},"unit":"sec","ops":$line,"docs":$nDocs,"sf10x":"$sfDir"}""")
    spark.stop()
  }
}
