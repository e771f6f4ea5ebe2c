package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exact baseline, plus a
  * random-hyperplane LSH-bucketed variant as the scale path.
  *
  * Scale design (100 TB / billions of vectors):
  *  - The query set is always the broadcast side; the corpus is never
  *    collected or shuffled whole. Brute force is one broadcast
  *    nested-loop over the corpus scan (embarrassingly parallel map
  *    work) followed by a per-query top-k aggregation.
  *  - Per-query top-k avoids a corpus-sized window sort: scores are
  *    reduced per partition first (partial aggregation of a bounded
  *    k-sized state) — here expressed as window row_number for the
  *    exact small-query-set case, and min_by/slice aggregation for the
  *    grouped variant.
  *  - The LSH variant prunes the corpus per query to matching buckets:
  *    signature computation is map-side; the bucket join is an
  *    equi-join on (bucket), so candidate generation shuffles only ids
  *    + signatures, not embeddings.
  *  - All vector math is double-precision folds over the float arrays
  *    via zip_with/aggregate — codegen'd builtins, deterministic
  *    left-to-right summation (oracle-reproducible bit-for-bit).
  */
object Similarity {

  /** Cast a float array column to double (exact widening). */
  def asDouble(emb: Column): Column = transform(emb, _.cast("double"))

  /** Σ aᵢ·bᵢ as a left fold from 0.0 via composable builtins — kept as
    * the reference formulation; allocates a zipped intermediate array
    * per pair. Bit-identical to [[dot]]. */
  def foldDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Σ aᵢ·bᵢ — fused native expression (graft.plans.VectorExpressions):
    * one codegen'd pass, zero allocation, same left-to-right summation
    * order as the fold (and as DuckDB list_sum). */
  def dot(a: Column, b: Column): Column =
    graft.plans.VectorExpressions.vec_dot(a, b)

  def normSq(a: Column): Column = dot(a, a)

  /** cosine(a,b) = dot / sqrt(|a|²·|b|²), fused single pass. */
  def cosine(a: Column, b: Column): Column =
    graft.plans.VectorExpressions.cosine_sim(a, b)

  /** Precompute (id, emb: array<double>, n2: double) once per side so
    * norms are not recomputed per pair. */
  def prepared(df: DataFrame, idCol: String, embCol: String): DataFrame =
    df.select(col(idCol).as("id"), asDouble(col(embCol)).as("emb"))
      .withColumn("n2", normSq(col("emb")))

  /** Per-query top-k extraction via the bounded-heap aggregate
    * ([[graft.plans.TopKPairs]]): partial aggregation keeps at most k
    * pairs per partition, so the shuffle is k×16 bytes per
    * (query × partition) instead of a corpus-sized window sort. Output
    * (query_id, rank, neighbor_id, score) is identical to the window
    * formulation — the heap uses the same (score desc, id asc) order. */
  private def topKOutput(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(graft.plans.TopKPairs.top_k_pairs(col("score"), col("id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("e.id").as("neighbor_id"), round(col("e.score"), 6).as("score"))

  /** Exact brute-force cosine top-k: for each query vector, the k
    * nearest corpus vectors (self excluded), deterministically
    * tie-broken by neighbor id. Queries are broadcast; the corpus is
    * scanned once, map-side, and only k pairs per partition survive. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, embCol: String, k: Int): DataFrame = {
    val c = prepared(corpus, idCol, embCol)
    val q = prepared(queries, idCol, embCol)
      .toDF("query_id", "q_emb", "q_n2")
    val scored = c.join(broadcast(q), col("id") =!= col("query_id"))
      .withColumn("score",
        dot(col("emb"), col("q_emb")) / sqrt(col("n2") * col("q_n2")))
    topKOutput(scored, k)
  }

  /** Margin-based bitext mining (the ratio-margin criterion of
    * Artetxe & Schwenk's mining family): for every `src` vector, its
    * best `tgt` match, the RATIO margin best/second-best (a
    * translation pair stands out from the neighborhood; a hubness
    * artifact does not), and whether the match is MUTUAL (tgt's best
    * src is this src — the standard keep filter). Requires
    * |tgt| >= 2 (the margin needs a second-best). Returns
    * (src_id, match_id, score, margin, mutual).
    *
    * Built on [[bruteForceTopK]] both directions — the exact-scoring
    * baseline; [[bitextMarginPairsAnn]] is the billion-pair
    * composition (banded LSH candidates, identical margin/mutual
    * algebra, oracle-checked).
    * Forward and backward scores are the SAME IEEE doubles
    * (elementwise multiply commutes exactly), so the mutual check
    * never disagrees with the forward ranking. */
  def bitextMarginPairs(src: DataFrame, tgt: DataFrame,
                        idCol: String, embCol: String): DataFrame = {
    val fwd = bruteForceTopK(tgt, src, idCol, embCol, k = 2)
    val f1 = fwd.filter(col("rank") === 1)
      .select(col("query_id").as("src_id"),
        col("neighbor_id").as("match_id"), col("score"))
    val f2 = fwd.filter(col("rank") === 2)
      .select(col("query_id").as("src_id"), col("score").as("score2"))
    val bwd = bruteForceTopK(src, tgt, idCol, embCol, k = 1)
      .select(col("query_id").as("match_id"), col("neighbor_id").as("back_id"))
    f1.join(f2, "src_id")
      .withColumn("margin", round(col("score") / col("score2"), 6))
      .join(bwd, "match_id")
      .withColumn("mutual", col("back_id") === col("src_id"))
      .select(col("src_id"), col("match_id"), col("score"),
        col("margin"), col("mutual"))
  }

  /** ANN-candidate bitext mining — the billion-pair composition
    * [[bitextMarginPairs]]'s scaladoc names, made concrete: in bitext
    * BOTH sides are corpora, so the brute path's corpus-sized
    * broadcast is disqualified by definition. Candidates instead come
    * from `tables` independent hyperplane LSH tables computed on EACH
    * side (the [[lshCosinePairs]] banding, cross-corpus): the
    * (tbl, bucket) equi-join ships only ids + buckets, embeddings
    * rejoin by id for EXACT scoring, and the margin/mutual algebra is
    * unchanged — top-2-per-src ratio margin, top-1-per-tgt mutual
    * check, both via the bounded-heap [[graft.plans.TopKPairs]]
    * aggregate — just restricted to the candidate set. Because the
    * re-rank is exact, the scored output is deterministic and
    * oracle-checkable; approximation only affects WHICH pairs are
    * scored (recall vs brute pinned in SimilaritySpec).
    *
    * Src rows with fewer than 2 scored candidates drop out (the ratio
    * margin needs a second-best — the same |tgt| >= 2 requirement the
    * brute path states, now per candidate neighborhood). `mutual` is
    * likewise candidate-restricted: tgt's best SCORED src. Tune
    * planesPerTable down / tables up for recall; `maxBucketSize` is
    * the standard mega-bucket skew guard. */
  def bitextMarginPairsAnn(src: DataFrame, tgt: DataFrame,
                           idCol: String, embCol: String, dims: Int,
                           planesPerTable: Int = 4, tables: Int = 4,
                           maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val ps = prepared(src, idCol, embCol)
    val pt = prepared(tgt, idCol, embCol)
    def banded(p: DataFrame) = {
      val b0 = p.select(col("id"), explode(array((0 until tables).map { t =>
        struct(lit(t).as("tbl"),
          lshBucket(col("emb"), dims, planesPerTable, t * planesPerTable)
            .as("bucket"))
      }: _*)).as("b"))
        .select(col("id"), col("b.tbl").as("tbl"), col("b.bucket").as("bucket"))
      Dedup.capBuckets(b0, Seq("tbl", "bucket"), maxBucketSize)
    }
    val cands = banded(ps).toDF("src_id", "tbl", "bucket")
      .join(banded(pt).toDF("tgt_id", "tbl", "bucket"), Seq("tbl", "bucket"))
      .select("src_id", "tgt_id").distinct()
    val scored = cands
      .join(ps.toDF("src_id", "s_emb", "s_n2"), "src_id")
      .join(pt.toDF("tgt_id", "t_emb", "t_n2"), "tgt_id")
      .withColumn("score",
        dot(col("s_emb"), col("t_emb")) / sqrt(col("s_n2") * col("t_n2")))
    val fwd = topKOutput(scored.select(col("src_id").as("query_id"),
      col("tgt_id").as("id"), col("score")), 2)
    val f1 = fwd.filter(col("rank") === 1)
      .select(col("query_id").as("src_id"),
        col("neighbor_id").as("match_id"), col("score"))
    val f2 = fwd.filter(col("rank") === 2)
      .select(col("query_id").as("src_id"), col("score").as("score2"))
    val bwd = topKOutput(scored.select(col("tgt_id").as("query_id"),
      col("src_id").as("id"), col("score")), 1)
      .select(col("query_id").as("match_id"), col("neighbor_id").as("back_id"))
    f1.join(f2, "src_id")
      .withColumn("margin", round(col("score") / col("score2"), 6))
      .join(bwd, "match_id")
      .withColumn("mutual", col("back_id") === col("src_id"))
      .select(col("src_id"), col("match_id"), col("score"),
        col("margin"), col("mutual"))
  }

  /** Blocked cosine near-duplicate pairs: pairs within the same block
    * (e.g. a cluster/label/LSH bucket) with cosine ≥ threshold. The
    * block key turns the quadratic all-pairs into an equi-join. */
  def cosinePairsBlocked(df: DataFrame, idCol: String, embCol: String,
                         blockCol: String, threshold: Double): DataFrame = {
    val p = df.select(col(idCol).as("id"), col(blockCol).as("blk"),
      asDouble(col(embCol)).as("emb"))
      .withColumn("n2", normSq(col("emb")))
    val a = p.toDF("id_a", "blk", "emb_a", "n2_a")
    val b = p.toDF("id_b", "blk", "emb_b", "n2_b")
    a.join(b, Seq("blk")).filter(col("id_a") < col("id_b"))
      .withColumn("score",
        dot(col("emb_a"), col("emb_b")) / sqrt(col("n2_a") * col("n2_b")))
      .filter(col("score") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("score"), 6).as("score"))
  }

  /** IVF (inverted-file) ANN: k-means-lite coarse quantizer + probe.
    *
    * Centroids are model state and live on the driver (nLists × dims
    * doubles — KBs); everything row-shaped stays distributed:
    * assignment is an argmin over centroid distances computed as fused
    * dot products against constant vectors, centroid updates are one
    * groupBy per iteration. Queries probe the `nProbe` nearest lists
    * and exact-rerank only those lists' members via the bounded-heap
    * top-k — the scale path when brute force over the full corpus is
    * too expensive and hyperplane LSH recall is too coarse.
    *
    * Deterministic: init centroids are the lowest-id corpus vectors,
    * iteration count is fixed, ties break on list index. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              embCol: String, k: Int, nLists: Int = 16, nProbe: Int = 4,
              iters: Int = 2): DataFrame = {
    val c = prepared(corpus, idCol, embCol)
    var centroids: Array[Seq[Double]] = c.orderBy(col("id")).limit(nLists)
      .select(col("emb")).collect().map(_.getSeq[Double](0))

    def assignExpr(cents: Array[Seq[Double]], emb: Column): Column = {
      // argmin_j ||x - c_j||² = argmin_j (|c_j|² - 2·x·c_j); |x|² constant.
      val scored = cents.zipWithIndex.map { case (cv, j) =>
        val c2 = cv.map(x => x * x).sum
        struct((lit(c2) - lit(2.0) * dot(emb, typedLit(cv))).as("d"),
          lit(j).as("idx"))
      }
      array_min(array(scored: _*)).getField("idx")
    }

    for (_ <- 1 to iters) {
      val assigned = c.withColumn("cl", assignExpr(centroids, col("emb")))
      val updated = assigned
        .select(col("cl"), posexplode(col("emb")).as(Seq("pos", "v")))
        .groupBy("cl", "pos").agg(avg(col("v")).as("m"))
        .groupBy("cl").agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("ps"))
        .select(col("cl"), expr("transform(ps, x -> x.m)").as("cent"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
      centroids = centroids.indices.map(j => updated.getOrElse(j, centroids(j))).toArray
    }

    val assigned = c.withColumn("cl", assignExpr(centroids, col("emb")))
    // each query probes its nProbe nearest lists
    val probeExpr = {
      val scored = centroids.zipWithIndex.map { case (cv, j) =>
        val c2 = cv.map(x => x * x).sum
        struct((lit(c2) - lit(2.0) * dot(col("q_emb"), typedLit(cv))).as("d"),
          lit(j).as("idx"))
      }
      slice(array_sort(array(scored: _*)), 1, nProbe)
    }
    val q = prepared(queries, idCol, embCol)
      .toDF("query_id", "q_emb", "q_n2")
      .withColumn("cl", explode(probeExpr.getField("idx")))
    val scored = assigned.join(broadcast(q), Seq("cl"))
      .filter(col("id") =!= col("query_id"))
      .withColumn("score",
        dot(col("emb"), col("q_emb")) / sqrt(col("n2") * col("q_n2")))
      .select(col("query_id"), col("id"), col("score"))
    topKOutput(scored, k)
  }

  /** Hamming-space ANN over bit-packed sign quantization: every vector
    * collapses to ⌈dims/32⌉ longs ([[graft.plans.SketchExpressions
    * .sign_pack]] — bit i = sign of coordinate i, 16× smaller than
    * float32 at d=64), and ranking is XOR+popcount Hamming distance —
    * the cheapest possible scan kernel (two long ops per 32 dims, no
    * float math at scan time). Sign-bit agreement estimates angular
    * similarity (Charikar's hyperplane sketch on the coordinate
    * planes), so Hamming order approximates cosine order; recall vs
    * exact cosine is pinned in SimilaritySpec.
    *
    * Scale shape: packing is a map-side codegen'd expression at both
    * sides; queries broadcast; per-query top-k via the bounded heap
    * (score = −distance keeps the heap's (desc, id asc) order ==
    * (distance asc, id asc)). Ties at equal distance are deterministic
    * by neighbor id. Integer arithmetic end-to-end — oracle-exact. */
  def hammingTopK(corpus: DataFrame, queries: DataFrame,
                  idCol: String, embCol: String, k: Int): DataFrame = {
    import graft.plans.SketchExpressions.sign_pack
    def packed(df: DataFrame) = df
      .select(col(idCol).as("id"), sign_pack(col(embCol)).as("sig"))
    val c = packed(corpus)
    val q = packed(queries).toDF("query_id", "q_sig")
    val scored = c.join(broadcast(q), col("id") =!= col("query_id"))
      .withColumn("score",
        -graft.plans.SketchExpressions.hamming_dist(col("sig"), col("q_sig"))
          .cast("double"))
    topKOutput(scored, k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        (-col("score")).cast("int").as("hamming"))
  }

  /** Matryoshka (prefix-dimension) two-stage ANN: embeddings trained
    * with matryoshka representation learning keep most signal in their
    * leading coordinates, so stage 1 ranks by cosine over only the
    * first `coarseDims` dims (a `coarseDims/dims` fraction of the scan
    * flops) and keeps `m` candidates per query; stage 2 re-ranks just
    * those `m` by full-width cosine via an equi-join back to the
    * corpus. The rerank join ships m×(id,score) rows per query — the
    * candidate set, never the corpus. Both stages are deterministic
    * (ties by id), so the whole funnel is oracle-checked exactly. */
  def matryoshkaTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, embCol: String, k: Int,
                     coarseDims: Int, m: Int): DataFrame = {
    val c = prepared(corpus, idCol, embCol)
      .withColumn("c_emb", slice(col("emb"), 1, coarseDims))
      .withColumn("c_n2", normSq(col("c_emb")))
    val q = prepared(queries, idCol, embCol)
      .toDF("query_id", "q_emb", "q_n2")
      .withColumn("cq_emb", slice(col("q_emb"), 1, coarseDims))
      .withColumn("cq_n2", normSq(col("cq_emb")))
    // stage 1: prefix-cosine candidates, m per query, bounded-heap
    val coarse = c.join(broadcast(q), col("id") =!= col("query_id"))
      .withColumn("score",
        dot(col("c_emb"), col("cq_emb")) / sqrt(col("c_n2") * col("cq_n2")))
      .select(col("query_id"), col("id"), col("score"))
    val cands = coarse.groupBy(col("query_id"))
      .agg(graft.plans.TopKPairs.top_k_pairs(col("score"), col("id"), m).as("top"))
      .select(col("query_id"), explode(col("top.id")).as("id"))
    // stage 2: full-width exact rerank of the m candidates only
    val scored = cands
      .join(c.select(col("id"), col("emb"), col("n2")), Seq("id"))
      .join(broadcast(q.select(col("query_id"), col("q_emb"), col("q_n2"))),
        Seq("query_id"))
      .withColumn("score",
        dot(col("emb"), col("q_emb")) / sqrt(col("n2") * col("q_n2")))
      .select(col("query_id"), col("id"), col("score"))
    topKOutput(scored, k)
  }

  /** Quantized brute-force top-k: corpus and queries are int8-quantized
    * ([[graft.functions.Quantize]]) and ranked by quantized cosine —
    * the scales cancel, so scoring is integer dot products through the
    * same fused kernel. 4× less memory/shuffle than float32 scanning;
    * rank agreement with exact cosine is the quality trade (pinned in
    * SimilaritySpec). Deterministic and SQL-reproducible, so it is
    * oracle-checked end-to-end. */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame,
                    idCol: String, embCol: String, k: Int): DataFrame = {
    import graft.functions.Quantize
    def prep(df: DataFrame) = df
      .select(col(idCol).as("id"), Quantize.int8(col(embCol)).as("qz"))
      .select(col("id"), col("qz.q").as("q"))
      .withColumn("qn2", dot(col("q"), col("q")))
    val c = prep(corpus)
    val q = prep(queries).toDF("query_id", "qq", "q_qn2")
    val scored = c.join(broadcast(q), col("id") =!= col("query_id"))
      .withColumn("score",
        dot(col("q"), col("qq")) / sqrt(col("qn2") * col("q_qn2")))
    topKOutput(scored, k)
  }

  /** Product quantization (PQ) ANN — the canonical billion-vector
    * compression: the embedding space splits into `m` subspaces, each
    * with its own `ksub`-centroid codebook (k-means-lite, deterministic
    * lowest-id init like IVF); vectors encode to `m` small codes
    * (m bytes at ksub≤256 — 32× smaller than float32 at m=8/d=64).
    * Queries score candidates ASYMMETRICALLY (ADC): per query, a lookup
    * table of query-subvector · centroid dot products is precomputed
    * (m×ksub doubles, driver/broadcast scale), and a candidate's
    * approximate inner product is m table lookups — no float vector is
    * ever touched at scan time.
    *
    * Scale shape: codebooks are FIT ON A BOUNDED TRAINING SAMPLE pulled
    * to the driver in one TakeOrdered job (lowest-id `trainSample`
    * vectors — MB-scale model-fitting state, the same posture as IVF's
    * centroids and faiss's sampled PQ training; never the corpus);
    * encoding is map-side; scoring is a broadcast join + m element_at
    * terms (static expression, codegen'd) into the bounded-heap top-k.
    * Ranking is by approximate INNER PRODUCT (the standard ADC
    * objective; on normalized vectors that is cosine ranking).
    * Approximation quality is pinned by SimilaritySpec
    * recall-vs-bruteforce.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             embCol: String, k: Int, m: Int = 8, ksub: Int = 16,
             iters: Int = 2, rerank: Int = 0,
             trainSample: Int = 16384): DataFrame = {
    val c = prepared(corpus, idCol, embCol)

    // one job: deterministic training sample (TakeOrdered, no full sort)
    val train: Array[Array[Double]] = c.select(col("id"), col("emb"))
      .orderBy(col("id")).limit(trainSample)
      .collect().map(_.getSeq[Double](1).toArray)
    require(train.nonEmpty, "pqTopK: empty corpus")
    val dims = train(0).length
    require(dims % m == 0, s"m=$m must divide dims=$dims")
    val dsub = dims / m
    // A sample smaller than ksub would yield a short codebook while the
    // encode/LUT kernels still loop i < ksub over the flattened array —
    // an ArrayIndexOutOfBounds at task runtime. Clamp and thread the
    // effective value through everything that indexes the codebook.
    val ksubEff = math.min(ksub, train.length)

    // fit: per-subspace Lloyd iterations over the driver-side sample.
    // Same semantics as a distributed fit (lowest-id init, mean update,
    // argmin with lowest-index tiebreak, empty cluster keeps its old
    // centroid) without m×iters Spark jobs. ksub×dsub doubles per
    // subspace — KBs.
    val codebooks: Array[Array[Array[Double]]] = Array.tabulate(m) { j =>
      val subs = train.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      var cents: Array[Array[Double]] = subs.take(ksubEff).map(_.clone)
      for (_ <- 1 to iters) {
        val sums = Array.fill(ksubEff)(new Array[Double](dsub))
        val counts = new Array[Long](ksubEff)
        subs.foreach { v =>
          var best = 0; var bestD = Double.PositiveInfinity; var i = 0
          while (i < cents.length) {
            var d = 0.0; var p = 0
            while (p < dsub) { val t = v(p) - cents(i)(p); d += t * t; p += 1 }
            if (d < bestD) { bestD = d; best = i }
            i += 1
          }
          counts(best) += 1
          var p = 0
          while (p < dsub) { sums(best)(p) += v(p); p += 1 }
        }
        cents = Array.tabulate(ksubEff) { i =>
          if (counts(i) == 0) cents(i) else sums(i).map(_ / counts(i))
        }
      }
      cents
    }
    // flat layout for the native kernels: [(j*ksub + i)*dsub + p]
    val cbFlat: Array[Double] = codebooks.flatten.flatten

    import graft.plans.PqExpressions.{pq_encode, pq_lut, pq_adc}
    // encode the corpus: m argmin codes in ONE codegen'd node, map-side
    val encoded = c.select(col("id"),
      pq_encode(col("emb"), cbFlat, m, ksubEff).as("codes"))

    // per-query ADC lookup tables: lut[j*ksub + code] = q_j · cent
    val q = prepared(queries, idCol, embCol).toDF("query_id", "q_emb", "q_n2")
      .select(col("query_id"), pq_lut(col("q_emb"), cbFlat, m, ksubEff).as("lut"))
    val scored = encoded.join(broadcast(q), col("id") =!= col("query_id"))
      .withColumn("score", pq_adc(col("lut"), col("codes")))
    if (rerank <= k) topKOutput(scored, k)
    else {
      // standard PQ deployment shape: ADC makes a cheap shortlist of
      // `rerank` candidates per query, then ONLY those rows touch the
      // real float vectors for an exact cosine re-rank — compression
      // prunes the scan, exactness decides the ranking.
      val shortlist = topKOutput(scored, rerank)
        .select(col("query_id"), col("neighbor_id"))
      val qFull = prepared(queries, idCol, embCol).toDF("query_id", "q_emb", "q_n2")
      val exact = shortlist
        .join(c.toDF("neighbor_id", "emb", "n2"), "neighbor_id")
        .join(broadcast(qFull), "query_id")
        .withColumn("score",
          dot(col("emb"), col("q_emb")) / sqrt(col("n2") * col("q_n2")))
        .select(col("query_id"), col("neighbor_id").as("id"), col("score"))
      topKOutput(exact, k)
    }
  }

  /** Corpus-wide kNN GRAPH build (LSH-blocked): for EVERY vector, its
    * top-k most-cosine-similar neighbors among candidates sharing any
    * of `tables` hyperplane LSH buckets — the primitive under
    * embedding-space clustering, near-dup graph construction and
    * diversity filtering. Unlike the query-set ANN entry points
    * (queries broadcast), both sides here are the corpus: candidates
    * come from the same multi-table bucket equi-join as
    * [[lshCosinePairs]] (only ids + buckets shuffle; embeddings rejoin
    * by id), and the per-vector top-k is the bounded-heap
    * [[graft.plans.TopKPairs]] aggregate — k×16 bytes per
    * (vector × partition), never a corpus-wide window sort.
    * Approximate by construction: vectors sharing no bucket are never
    * scored. */
  def knnGraph(df: DataFrame, idCol: String, embCol: String, k: Int,
               dims: Int, planesPerTable: Int = 6, tables: Int = 4,
               maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val p = prepared(df, idCol, embCol)
    val banded0 = p.select(col("id"), explode(array((0 until tables).map { t =>
      struct(lit(t).as("tbl"),
        lshBucket(col("emb"), dims, planesPerTable, t * planesPerTable)
          .as("bucket"))
    }: _*)).as("b"))
      .select(col("id"), col("b.tbl").as("tbl"), col("b.bucket").as("bucket"))
    val banded = Dedup.capBuckets(banded0, Seq("tbl", "bucket"), maxBucketSize)
    val candidates = banded.toDF("query_id", "tbl", "bucket")
      .join(banded.toDF("id", "tbl", "bucket"), Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("id"))
      .select("query_id", "id").distinct()
    val scored = candidates
      .join(p.toDF("query_id", "q_emb", "q_n2"), "query_id")
      .join(p.toDF("id", "emb", "n2"), "id")
      .withColumn("score",
        dot(col("q_emb"), col("emb")) / sqrt(col("q_n2") * col("n2")))
      .select(col("query_id"), col("id"), col("score"))
    topKOutput(scored, k)
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * a fixed integer mix mapped into [-1, 1]. Reproducible across
    * sessions with zero stored model state — which also makes the whole
    * LSH pipeline expressible in portable SQL (the oracle embeds these
    * exact components as literals; Double.toString round-trips). */
  private[graft] def planeComponent(plane: Int, dim: Int): Double = {
    var z = plane.toLong * 0x9E3779B97F4A7C15L + dim.toLong * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (z.toDouble / Long.MaxValue.toDouble)
  }

  /** Random-hyperplane LSH bucket id: `planes` sign bits of projections
    * onto fixed pseudo-random hyperplanes. Each projection is one fused
    * [[graft.plans.VectorExpressions.DotProduct]] against a constant
    * plane vector — not a `dims`-term expression tree, which chokes
    * codegen at realistic dimensionality. */
  def lshBucket(emb: Column, dims: Int, planes: Int = 12,
                planeOffset: Int = 0): Column =
    (0 until planes).map { p =>
      val plane = typedLit((0 until dims).map(d =>
        planeComponent(planeOffset + p, d)))
      when(dot(emb, plane) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Blocking-free embedding near-dup pairs: `tables` INDEPENDENT
    * hyperplane LSH tables (disjoint plane ranges), candidate pairs =
    * vectors sharing a (table, bucket), exact cosine verification of
    * candidates >= threshold. Removes [[cosinePairsBlocked]]'s
    * requirement for a semantic blocking column — the 100 TB path when
    * no label exists: candidate generation is an equi-join on
    * (table, bucket), signatures are map-side dots against constant
    * planes, and the band explode ships only (id, table, bucket) —
    * embeddings join back for verification by id. Recall is
    * 1-(1-(1-θ/π)^p)^T per pair — tune planes down / tables up for
    * recall, up for precision; `maxBucketSize` is the same mega-bucket
    * skew guard as the text-LSH path. */
  def lshCosinePairs(df: DataFrame, idCol: String, embCol: String,
                     threshold: Double, dims: Int,
                     planesPerTable: Int = 6, tables: Int = 4,
                     maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val p = prepared(df, idCol, embCol)
    val banded0 = p.select(col("id"), explode(array((0 until tables).map { t =>
      struct(lit(t).as("tbl"),
        lshBucket(col("emb"), dims, planesPerTable, t * planesPerTable)
          .as("bucket"))
    }: _*)).as("b"))
      .select(col("id"), col("b.tbl").as("tbl"), col("b.bucket").as("bucket"))
    val banded = Dedup.capBuckets(banded0, Seq("tbl", "bucket"), maxBucketSize)
    val candidates = banded.toDF("id_a", "tbl", "bucket")
      .join(banded.toDF("id_b", "tbl", "bucket"), Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    candidates
      .join(p.toDF("id_a", "emb_a", "n2_a"), "id_a")
      .join(p.toDF("id_b", "emb_b", "n2_b"), "id_b")
      .withColumn("score",
        dot(col("emb_a"), col("emb_b")) / sqrt(col("n2_a") * col("n2_b")))
      .filter(col("score") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("score"), 6).as("score"))
  }

  /** SemDeDup-style diversity pruning: cluster the corpus by embedding
    * cosine (LSH candidates → exact verify ≥ `threshold` →
    * connected components) and keep ONE representative per semantic
    * cluster — the minimum id, a deterministic canonical — plus
    * everything unclustered. The training-data move behind "semantic
    * deduplication": paraphrases and re-renderings of the same content
    * add tokens but no signal, so all but one go.
    *
    * Composes scale-safe parts: [[lshCosinePairs]] (only (id, table,
    * bucket) shuffles) and [[graft.operators.Dedup.duplicateClusters]]
    * (pointer-jumping components); the final drop is an anti-join, so
    * the corpus itself never reshuffles. */
  def diversityPrune(df: DataFrame, idCol: String, embCol: String,
                     threshold: Double, dims: Int,
                     planesPerTable: Int = 6, tables: Int = 4,
                     maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val pairs = lshCosinePairs(df, idCol, embCol, threshold, dims,
      planesPerTable, tables, maxBucketSize).select("id_a", "id_b")
    val drops = graft.operators.Dedup.duplicateClusters(pairs)
      .filter(col("doc_id") =!= col("canonical_id"))
      .select(col("doc_id").as(idCol))
    df.join(drops, Seq(idCol), "left_anti")
  }

  /** Approximate NN: corpus and queries bucketed by hyperplane LSH;
    * candidates = same-bucket pairs (optionally multi-probe over
    * Hamming-1 neighbor buckets); exact cosine re-rank of candidates.
    * Recall < 1 by construction — the scale path when brute force is
    * too expensive. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              embCol: String, k: Int, dims: Int, planes: Int = 12,
              multiProbe: Boolean = true): DataFrame = {
    val c = prepared(corpus, idCol, embCol)
      .withColumn("bucket", lshBucket(col("emb"), dims, planes))
    val q0 = prepared(queries, idCol, embCol)
      .toDF("query_id", "q_emb", "q_n2")
      .withColumn("bucket", lshBucket(col("q_emb"), dims, planes))
    // Multi-probe: also look in every bucket at Hamming distance 1.
    val q =
      if (!multiProbe) q0
      else q0.select(col("query_id"), col("q_emb"), col("q_n2"),
        explode(array(col("bucket") +: (0 until planes).map(p =>
          col("bucket").bitwiseXOR(lit(1L << p))): _*)).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("id") =!= col("query_id"))
      .withColumn("score",
        dot(col("emb"), col("q_emb")) / sqrt(col("n2") * col("q_n2")))
      // multiprobe can hit the same (query, neighbor) in several buckets
      .select(col("query_id"), col("id"), col("score")).distinct()
    topKOutput(scored, k)
  }
}
