package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH and SimHash. (The reference's only dedup is
  * full-row DISTINCT / INSERT-OR-IGNORE — `bin/fetcher.bash:158-159` —
  * generalized here to content-level near-dup detection.)
  *
  * Scale design (100 TB posture):
  *  - Everything is expressed as map-side shingling + hash-partitioned
  *    joins/aggregations — no driver-side materialization, no cartesian
  *    products. Pair generation always goes through an equi-join key
  *    (shared shingle / LSH band / simhash band), so Spark plans a
  *    shuffle hash join, never a nested-loop.
  *  - Frequent-shingle skew (stopword shingles shared by millions of
  *    docs) is the classic blowup: [[jaccardPairs]] takes a
  *    `maxShinglePairs` cap that drops shingles occurring in more docs
  *    than the cap (they contribute little discrimination anyway). AQE's
  *    skew-join splitting handles the residual imbalance.
  *  - MinHash signatures are fixed-width (numHashes longs) per doc:
  *    the candidate join shuffles only (band, bandHash, id) — bytes per
  *    doc, not the document text.
  */
object Dedup {

  /** Exact dedup: one surviving row per distinct key (min id wins —
    * deterministic, order-free). */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Word n-gram shingles (distinct), empty when fewer than n tokens —
    * native single-pass expression. The composable formulation
    * (split → sequence → transform → array_distinct) is interpreted
    * (HOFs have no codegen) and was measured ~1 ms/doc; see
    * [[graft.plans.TextExpressions.WordNgrams]]. */
  def shingles(text: Column, n: Int = 3): Column =
    graft.plans.TextExpressions.word_ngrams(text, n)

  /** (id, sh: array<string>) shingle sets; docs too short to shingle
    * are dropped. Deliberately NOT [[graft.core.Par.spreadForCpu]]-spread
    * (round 17): the kernel is referenced several times per similarity
    * join (df, rarity order, verify) and is cheap per reference, so the
    * spread's extra stage barrier on every reference measured SLOWER
    * (q_linkage_clusters 2.2 → 3.2 s, q_sft_pipeline 5.3 → 7.7 s at
    * sf0.1) — the opposite of the shallow scan-dominated kernels where
    * the spread wins multi-second stages. */
  def shingleSets(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    df.select(col(idCol).as("id"), shingles(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)

  /** (id, shingle) exploded table + per-doc shingle-set sizes. */
  def shingleTables(df: DataFrame, idCol: String, textCol: String, n: Int = 3)
      : (DataFrame, DataFrame) = {
    val withSh = shingleSets(df, idCol, textCol, n)
    val exploded = withSh.select(col("id"), explode(col("sh")).as("s"))
    val sizes = withSh.select(col("id"), size(col("sh")).as("n_sh"))
    (exploded, sizes)
  }

  /** Exact Jaccard verification of given candidate pairs against the
    * per-doc shingle sets: one fused merge-walk per pair
    * ([[graft.plans.VectorExpressions.SetExpressions.SortedArrayJaccard]])
    * over pre-sorted arrays — no hash sets, and no tripled
    * `array_intersect` when Catalyst pushes the threshold filter into
    * the join condition. */
  private[graft] def verifyJaccard(sets: DataFrame, candidates: DataFrame,
                            threshold: Double,
                            broadcastSets: Boolean = false): DataFrame =
    verifyJaccardAB(sets, sets, candidates, threshold, broadcastSets)

  /** Two-relation form: candidate (id_a, id_b) pairs verified against
    * side-specific set tables (identical tables in the self-join case). */
  private def verifyJaccardAB(setsA: DataFrame, setsB: DataFrame,
                              candidates: DataFrame, threshold: Double,
                              broadcastSets: Boolean = false): DataFrame = {
    import graft.plans.SetExpressions.jaccard_sorted
    // The per-doc set table grows linearly with the corpus, so a forced
    // broadcast would OOM at scale — the default is a plain shuffle
    // join and AQE's runtime size stats promote it to a broadcast join
    // automatically whenever the set table really is small. Callers that
    // KNOW the set side is tiny (e.g. a filtered sub-corpus) can still
    // force it with broadcastSets=true.
    def side(sets: DataFrame, alias: String) = {
      val s = sets.select(col("id").as(s"id_$alias"),
        sort_array(col("sh")).as(s"sh_$alias"))
      if (broadcastSets) broadcast(s) else s
    }
    candidates
      .join(side(setsA, "a"), "id_a")
      .join(side(setsB, "b"), "id_b")
      .withColumn("jaccard", jaccard_sorted(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** All-pairs n-gram Jaccard >= threshold — EXACT, via prefix filtering
    * (the AllPairs/PPJoin family): under a global rarity order on
    * shingles (document frequency asc), two sets with J >= t must share
    * an element within each one's first |S| - ceil(t*|S|) + 1 shingles
    * (J >= t implies overlap >= t*|S|). Candidate generation joins only
    * on those rare prefixes — hub shingles (the sum-of-df^2 blowup and
    * the skew bomb at 100 TB) sort to the suffix and never join — then
    * every candidate is verified exactly. Output is identical to the
    * naive inverted-index join at a fraction of the pairs. */
  /** Per-doc shingles in (rarity, shingle) order — a deterministic
    * global total order; struct sort_array gives it directly. This one
    * aggregated relation feeds prefixes AND verification (as the
    * lexically re-sorted set), so its exchange is computed once and
    * reused across the join branches. */
  private def rarityOrdered(sets: DataFrame, dfreq: DataFrame): DataFrame =
    sets.select(col("id"), explode(col("sh")).as("s"))
      .join(dfreq, "s")
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("df_s"), col("s")))).as("ord"))
      .select(col("id"),
        transform(col("ord"), x => x.getField("s")).as("sorted_sh"))
      .withColumn("sh", sort_array(col("sorted_sh")))

  /** (id, n, p, s) prefix rows: under the rarity order, a set with
    * J >= t against anything must match within its first
    * |S| - ceil(t*|S|) + 1 shingles; positions and sizes ride along for
    * PPJoin-style pruning. */
  private def prefixTable(ordered: DataFrame, threshold: Double): DataFrame = {
    val prefixLen = size(col("sorted_sh")) -
      ceil(lit(threshold) * size(col("sorted_sh"))).cast("int") + lit(1)
    ordered.select(col("id"), size(col("sorted_sh")).as("n"),
      posexplode(slice(col("sorted_sh"), lit(1), prefixLen)).as(Seq("p", "s")))
  }

  /** J >= t requires overlap >= ceil(t/(1+t)·(na+nb)); a pair first
    * matching at 0-based positions (pa, pb) can overlap at most
    * 1 + min(na-pa-1, nb-pb-1). Size filter: min(na,nb) >= t·max(na,nb).
    * Both prune candidates only — verification stays exact. */
  private def ppjoinPruned(prefA: DataFrame, prefB: DataFrame,
                           threshold: Double): DataFrame = {
    val minOverlap = ceil(lit(threshold / (1 + threshold)) * (col("n_a") + col("n_b")))
    val posBound = lit(1) +
      least(col("n_a") - col("p_a") - 1, col("n_b") - col("p_b") - 1)
    prefA.toDF("id_a", "n_a", "p_a", "s")
      .join(prefB.toDF("id_b", "n_b", "p_b", "s"), "s")
      .filter(least(col("n_a"), col("n_b")) >=
        ceil(lit(threshold) * greatest(col("n_a"), col("n_b"))))
      .filter(posBound >= minOverlap)
      .select("id_a", "id_b").distinct()
  }

  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double, n: Int = 3,
                   broadcastSets: Boolean = false): DataFrame = {
    // The shingle kernel feeds TWO distinct subtrees (document
    // frequency below, and the rarity rollup) whose column pruning
    // differs, so the lazy plan runs the scan+shingle kernel twice —
    // on the unsplittable small fixture that is two multi-second
    // 1-task stages (round-17 profile: 0.5 + 0.4 s warm per query
    // across the 8 jaccardPairs queries). materializeForReuse computes
    // the kernel ONCE and spreads the materialized blocks by id so
    // every downstream consumer runs machine-wide (spreading the
    // kernel INPUT instead — an exchange of raw text rows — was
    // A/B-measured SLOWER than the kernel pass it parallelizes); at
    // production scale it is a no-op and the linear scan-kernel
    // recompute stands (cheaper than materializing O(corpus) blocks).
    val sets = graft.core.Par.materializeForReuse(
      shingleSets(df, idCol, textCol, n), col("id"))
    val dfreq = sets.select(explode(col("sh")).as("s"))
      .groupBy("s").agg(count(lit(1)).as("df_s"))
    val ordered = rarityOrdered(sets, dfreq)
    val prefixes = prefixTable(ordered, threshold)
    val candidates = ppjoinPruned(prefixes, prefixes, threshold)
      .filter(col("id_a") < col("id_b"))
    verifyJaccard(ordered.select(col("id"), col("sh")), candidates, threshold,
      broadcastSets)
  }

  /** Cross-relation similarity join (record linkage): all (left, right)
    * pairs with n-gram Jaccard >= threshold — EXACT, the two-relation
    * form of [[jaccardPairs]]. Blocking is the same AllPairs/PPJoin
    * prefix filter, under ONE rarity order computed over the union of
    * both relations' shingles (the prefix bound needs a shared total
    * order; per-side document frequencies would break the guarantee).
    * Hub shingles common to both corpora sort to the suffixes and never
    * join — the cross-corpus skew bomb at 100 TB.
    *
    * Output: (id_a, id_b, jaccard) with id_a from `left`, id_b from
    * `right`. Self-pairs are NOT excluded — relations are distinct. */
  def jaccardJoin(left: DataFrame, right: DataFrame,
                  idCol: String, textCol: String,
                  threshold: Double, n: Int = 3,
                  broadcastSets: Boolean = false): DataFrame = {
    // NOT materializeForReuse-checkpointed like jaccardPairs (round
    // 17): the sides here are filtered sub-corpora whose kernel pass
    // is cheap per reference, and two eager barriers per side measured
    // SLOWER (q_linkage_clusters 2.6 → 3.1, q_fuzzy_join 1.1 → 1.7,
    // q_containment_join 0.6 → 1.2 s at sf0.1, same-window A/B)
    val setsL = shingleSets(left, idCol, textCol, n)
    val setsR = shingleSets(right, idCol, textCol, n)
    val dfreq = setsL.select(explode(col("sh")).as("s"))
      .unionByName(setsR.select(explode(col("sh")).as("s")))
      .groupBy("s").agg(count(lit(1)).as("df_s"))
    val ordL = rarityOrdered(setsL, dfreq)
    val ordR = rarityOrdered(setsR, dfreq)
    val candidates = ppjoinPruned(
      prefixTable(ordL, threshold), prefixTable(ordR, threshold), threshold)
    verifyJaccardAB(ordL.select(col("id"), col("sh")),
      ordR.select(col("id"), col("sh")), candidates, threshold, broadcastSets)
  }

  /** Duplicate-cluster resolution: connected components over a near-dup
    * pair graph, assigning every member the MINIMUM doc id of its
    * component as the canonical representative (the id a curation
    * pipeline keeps).
    *
    * Min-label propagation with POINTER JUMPING (Pregel-lite + path
    * halving): each iteration every node adopts the smallest of (its
    * label, its neighbors' labels, its label's label). The extra
    * label-of-label hop doubles propagation reach per step, so
    * convergence takes O(log diameter) iterations instead of
    * O(diameter).
    *
    * Iteration hygiene (the scale-killers this avoids):
    *  - `localCheckpoint()` (eager) each generation — truncates lineage
    *    AND the logical plan, so Catalyst analysis stays constant-depth
    *    instead of growing a join+agg layer per iteration, and nothing
    *    is ever recomputed from the (expensive) pair-generation subtree.
    *  - convergence detection is FUSED into the propagation aggregate
    *    (a `chg` flag column summed over the checkpointed result), not a
    *    separate join+count job against the previous generation.
    *  - non-convergence at maxIter is loudly signaled, never silent:
    *    partially propagated labels are wrong answers.
    */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    import graft.core.Checkpoints
    val edges = Checkpoints.eager(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        .distinct()) // eager: pair generation runs exactly once
    val labelType = edges.schema("src").dataType
    var held = Checkpoints.eager(
      edges.select(col("src").as("id")).distinct()
        .withColumn("label", col("id")))
    // `held` itself, then a projection of it: free `held`, never `labels`
    var labels = held
    // (A Graph.rankSide-style size-gated broadcast of the label vector
    // was tried here in round 17 and measured a WASH at sf0.1: the
    // node-count job plus two broadcast builds per iteration offset
    // the saved exchanges on graphs this loop converges over in 2-3
    // iterations. The shuffle joins stand.)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val neighborLabels = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("label"))
      // pointer jump: node -> label(node) -> label(label(node)).
      // Iteration 1 starts from label(id) = id, where the jump is the
      // IDENTITY (label(label(id)) = id = label(id)) — its branch
      // would duplicate the `labels` union branch row-for-row, so it
      // is provably droppable there (round 17: one join fewer)
      val hop =
        if (iter == 0) labels.select(col("id"), col("label"))
        else labels.toDF("id0", "mid")
          .join(labels.toDF("mid", "label"), "mid")
          .select(col("id0").as("id"), col("label"))
      // exactly one row per id carries old != null (its own previous
      // label), so max(old) recovers it and chg = strict improvement
      val next = Checkpoints.eager(
        labels.select(col("id"), col("label"), col("label").as("old"))
          .unionByName(neighborLabels.withColumn("old", lit(null).cast(labelType)))
          .unionByName(hop.withColumn("old", lit(null).cast(labelType)))
          .groupBy("id")
          .agg(min(col("label")).as("label"), max(col("old")).as("old"))
          .withColumn("chg", (col("label") < col("old")).cast("long"))
      ) // eager: the one real job this iteration
      // cheap second pass over the in-memory checkpointed blocks
      changed = next.agg(coalesce(sum(col("chg")), lit(0L))).head().getLong(0)
      // the superseded generation's blocks are dead — free them, or a
      // long session leaks a generation per iteration per query
      Checkpoints.free(held)
      held = next
      labels = next.select("id", "label")
      iter += 1
    }
    Checkpoints.free(edges) // final labels are self-contained
    if (changed > 0)
      throw new IllegalStateException(
        s"duplicateClusters did not converge after $maxIter iterations " +
          s"($changed labels still changing); with pointer jumping this " +
          "means component diameter > 2^maxIter — raise maxIter")
    labels.select(col("id").as("doc_id"), col("label").as("canonical_id"))
  }

  /** Asymmetric containment join: (a, b) pairs where
    * |Sh(a) ∩ Sh(b)| / |Sh(a)| >= threshold — "how much of LEFT doc a
    * is contained in RIGHT doc b". The provenance/quotation sibling of
    * [[jaccardJoin]]: Jaccard punishes length mismatch, containment is
    * exactly the "short doc quoted inside a long doc" detector (test-set
    * contamination, boilerplate provenance, quote mining).
    *
    * Pruning: containment >= t forces overlap >= ceil(t·|A|), so a
    * qualifying pair must share a shingle within A's first
    * |A| - ceil(t·|A|) + 1 shingles under ANY fixed per-set order
    * (rarity order, to keep hub shingles out of the prefixes). The
    * right side admits NO such bound (a huge b can contain all of a),
    * so candidates join A-prefixes against the full exploded right
    * side — still an equi-join on shingle, never a cross product.
    * Verification is exact via the sorted-merge overlap count. */
  def containmentJoin(left: DataFrame, right: DataFrame,
                      idCol: String, textCol: String,
                      threshold: Double, n: Int = 3): DataFrame = {
    import graft.plans.SetExpressions.overlap_sorted
    // not materialized — see the jaccardJoin note (cheap per-reference
    // kernels on sub-corpus sides; the barriers measured slower)
    val setsL = shingleSets(left, idCol, textCol, n)
    val setsR = shingleSets(right, idCol, textCol, n)
    val dfreq = setsL.select(explode(col("sh")).as("s"))
      .unionByName(setsR.select(explode(col("sh")).as("s")))
      .groupBy("s").agg(count(lit(1)).as("df_s"))
    val ordL = rarityOrdered(setsL, dfreq)
    // containment prefix: overlap >= ceil(t*|A|) leaves at most
    // |A| - ceil(t*|A|) leading misses
    val prefixLen = size(col("sorted_sh")) -
      ceil(lit(threshold) * size(col("sorted_sh"))).cast("int") + lit(1)
    val prefL = ordL.select(col("id").as("id_a"),
      posexplode(slice(col("sorted_sh"), lit(1), prefixLen)).as(Seq("p", "s")))
      .drop("p")
    val exR = setsR.select(col("id").as("id_b"), explode(col("sh")).as("s"))
    val candidates = prefL.join(exR, "s").select("id_a", "id_b").distinct()
    val sortedL = ordL.select(col("id").as("id_a"), sort_array(col("sh")).as("sh_a"))
    val sortedR = setsR.select(col("id").as("id_b"), sort_array(col("sh")).as("sh_b"))
    candidates
      .join(sortedL, "id_a").join(sortedR, "id_b")
      .withColumn("containment",
        overlap_sorted(col("sh_a"), col("sh_b")).cast("double") /
          size(col("sh_a")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("containment"), 6).as("containment"))
  }

  /** Passage-level exact dedup — the practical form of exact-substring
    * deduplication for training corpora (the suffix-array formulation of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", at fixed passage granularity): split every document into
    * consecutive `k`-token passages, keep only the globally FIRST
    * occurrence of each distinct passage (first = minimum (doc id,
    * position) — a deterministic total order, not ingest order), and
    * reassemble each document from its surviving passages in position
    * order. Documents whose every passage already appeared elsewhere
    * drop out entirely.
    *
    * Scale shape: two hash shuffles, both on bounded-width keys.
    * Winners are resolved by `groupBy(md5(passage))` — partial
    * aggregation collapses each partition's passages map-side, and the
    * 128-bit key (not the passage text) is what the aggregation
    * exchange carries beyond the first occurrence per partition.
    * The winner set then equi-joins back (AQE promotes it to broadcast
    * when small) and reassembly is a per-doc aggregate. No windows —
    * a window over `partitionBy(passage)` would sort full passage text
    * within every partition. */
  def passageDedup(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 20): DataFrame = {
    val passages = passageTable(df, idCol, textCol, k, Nil)
    val winners = passages
      .groupBy("h")
      .agg(min(struct(col("id"), col("pos"))).as("win"))
    val survivors = passages.join(winners, "h")
      .filter(col("win.id") === col("id") && col("win.pos") === col("pos"))
    reassemble(survivors, "text_dedup")
  }

  /** (id, pos, passage, h[, extra…]) consecutive `k`-token passages of
    * every document — the shared splitter behind [[passageDedup]],
    * [[stripBoilerplate]] and the streaming
    * [[graft.streaming.EventStreams.passageDedupStream]]. */
  private[graft] def passageTable(df: DataFrame, idCol: String, textCol: String,
                                  k: Int, extraCols: Seq[String]): DataFrame = {
    require(k > 0, "passage length must be positive")
    df
      .select(col(idCol).as("id") +: extraCols.map(col) :+
        split(col(textCol), " ").as("ws"): _*)
      .select(col("id") +: extraCols.map(col) :+ posexplode(
        transform(
          sequence(lit(0), floor((size(col("ws")) - 1) / lit(k)).cast("int")),
          i => concat_ws(" ", slice(col("ws"), i * k + 1, lit(k)))))
        .as(Seq("pos", "passage")): _*)
      .withColumn("h", md5(col("passage")))
  }

  /** Rebuild each doc's text from its surviving passages in position
    * order; docs with no surviving passage drop out. */
  private def reassemble(passages: DataFrame, outCol: String): DataFrame =
    passages
      .groupBy("id")
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("pos"), col("passage")))),
          x => x.getField("passage"))).as(outCol))
      .select(col("id").as("doc_id"), col(outCol))

  /** Exact duplicated-substring detection at `k`-token granularity
    * (the Lee et al. "Deduplicating Training Data Makes Language
    * Models Better" ExactSubstr operation, re-expressed relationally):
    * every SLIDING k-gram occurring more than once in the whole corpus
    * marks its token interval [pos, pos+k) as duplicated; overlapping
    * or touching intervals within a document merge into MAXIMAL spans.
    * Output: (doc_id, span_start inclusive, span_end exclusive,
    * span_tokens) in 0-based token indices — the spans a cleaning pass
    * would cut (Lee et al. use suffix arrays on one machine; corpus-
    * wide k-gram counting is the shuffle-friendly distributed
    * equivalent, exact at granularity k: any duplicated substring of
    * ≥ k tokens is found in full, shorter ones are ignored).
    *
    * Scale shape: grams never carry text downstream of the count —
    * the frequency aggregation shuffles (gram, count) with map-side
    * partials, the dup-gram join ships only (gram → doc_id, pos), and
    * span merging is a per-document window over gram POSITIONS (a few
    * ints per duplicated gram, not per token). Hub grams (boilerplate
    * shared by millions of docs) are exactly the ones that matter
    * here, so there is no cap — skew lands on the count aggregate
    * (decomposable) and AQE's skew-join split, not on pair explosion:
    * output stays linear in gram occurrences, never quadratic. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 8): DataFrame = {
    require(k > 0, "gram length must be positive")
    import org.apache.spark.sql.expressions.Window
    // k-gram assembly is CPU-dense per row: spread unsplittable
    // small scans (no-op at scale — Par.spreadForCpu)
    val grams = graft.core.Par.spreadForCpu(df, col(idCol))
      .select(col(idCol).as("id"), split(col(textCol), " ").as("ws"))
      .filter(size(col("ws")) >= k)
      .select(col("id"), posexplode(
        transform(sequence(lit(0), size(col("ws")) - k),
          i => concat_ws("_", slice(col("ws"), i + 1, lit(k)))))
        .as(Seq("gpos", "gram")))
    // Per-gram occurrence count as a WINDOW over the exploded table:
    // the k-gram explode — the dominant cost at scale — runs ONCE and
    // shuffles ONCE. (The former groupBy + self-join referenced the
    // explode subtree twice, so the corpus was tokenized and exploded
    // twice per call; recomputing a k×-corpus map stage costs more at
    // 100 TB than the residual skew advantage of an AQE-splittable
    // join.) Hub grams land in one spillable window group
    // (ExternalAppendOnlyUnsafeRowArray) — bounded buffering over
    // (id, gpos, gram) rows, never pair explosion.
    val hits = grams
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("gram"))))
      .filter(col("cnt") > 1)
      .select(col("id"), col("gpos"))
    // island merge: a gram starts a new span iff its interval begins
    // after every previous interval's end (running max of gpos+k)
    val byPos = Window.partitionBy(col("id")).orderBy(col("gpos"))
    val prevMax = max(col("gpos") + k).over(
      byPos.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("brk",
        when(col("gpos") > coalesce(prevMax, lit(-1)), 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(
        byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id"), col("island"))
      .agg(min(col("gpos")).cast("long").as("span_start"),
        (max(col("gpos")) + k).cast("long").as("span_end"))
      .select(col("id").as("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_tokens"))
  }

  /** Companion cleaning pass: drop every token covered by a duplicated
    * span (per [[duplicateSpans]] semantics) and reassemble the
    * remainder; docs that were entirely duplicated text drop out. */
  def stripDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                          k: Int = 8): DataFrame =
    stripDuplicateSpans(df, idCol, textCol,
      duplicateSpans(df, idCol, textCol, k))

  /** Overload taking precomputed spans (the output of
    * [[duplicateSpans]]) so a pipeline that already detected spans —
    * e.g. to report them AND clean them — runs the gram scan once
    * instead of re-deriving the whole span computation. */
  def stripDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                          spansDf: DataFrame): DataFrame = {
    val spans = spansDf
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    df.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("ws"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), concat_ws(" ", filter(col("ws"),
        (w, i) => col("spans").isNull || !exists(col("spans"),
          s => s.getField("span_start") <= i && i < s.getField("span_end"))))
        .as("text_clean"))
      .filter(length(col("text_clean")) > 0)
  }

  /** Cross-document boilerplate REMOVAL at passage granularity (the
    * CCNet-family move): a passage that recurs across `minDocFreq`+
    * distinct documents of the SAME source — headers, navigation
    * chrome, legal footers — is template, not content, so ALL its
    * copies are dropped (vs [[passageDedup]], which keeps the first).
    * Documents are reassembled from their surviving passages; docs that
    * were pure boilerplate drop out.
    *
    * Scale shape: the frequency count shuffles (source, 128-bit hash)
    * with map-side partial aggregation; the boilerplate set is tiny by
    * construction (only passages repeated across many docs) so AQE
    * broadcasts the anti-join; reassembly is one shuffle on doc id. */
  def stripBoilerplate(df: DataFrame, idCol: String, textCol: String,
                       sourceCol: String, k: Int = 10,
                       minDocFreq: Int = 3): DataFrame = {
    require(minDocFreq > 1, "minDocFreq must be at least 2")
    val passages = passageTable(df, idCol, textCol, k, Seq(sourceCol))
    val boilerplate = passages
      .groupBy(col(sourceCol), col("h"))
      .agg(countDistinct(col("id")).as("df"))
      .filter(col("df") >= minDocFreq)
      .select(col(sourceCol), col("h"))
    reassemble(passages.join(boilerplate, Seq(sourceCol, "h"), "left_anti"),
      "text_clean")
  }

  // --- MinHash + LSH ---

  /** 32-bit base hash of a shingle, md5-derived (stable across engines,
    * enabling oracle parity for anything built on it). */
  def md5Hash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Per-doc MinHash signature (id, sig: array<long>) — computed
    * MAP-SIDE in one native-expression pass over the shingle array
    * ([[graft.plans.SketchExpressions.MinHashSignature]]); the previous
    * explode + 128-min-aggregate formulation shuffled every
    * (doc, shingle) row. Values are identical (same md5-derived base
    * hash and permutation constants). */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 128, n: Int = 3): DataFrame =
    shingleSets(df, idCol, textCol, n)
      .select(col("id"),
        graft.plans.SketchExpressions.minhash_signature(col("sh"), numHashes).as("sig"))

  /** LSH candidate pairs: band the signature, hash each band, equi-join
    * docs sharing any (band, bandHash). bands*rowsPerBand must equal
    * numHashes.
    *
    * `maxBucketSize` is the skew guard for massive duplicate clusters:
    * a bucket of m docs yields m²/2 pairs, so one 1M-doc cluster of
    * boilerplate would emit 5e11 pairs. Capped buckets are dropped from
    * the self-join; docs in them almost surely still pair through their
    * other (bands-1) bands, but strict all-pairs recall inside
    * mega-clusters is traded away — hence the default is uncapped (the
    * oracle-exact configuration) and callers opt in at scale. */
  /** (id, band, bh) banded signature rows — the LSH join key table. */
  private def bandSignatures(signatures: DataFrame, bands: Int,
                             rowsPerBand: Int): DataFrame = {
    val bandCols = (0 until bands).map { bIdx =>
      val cols = (0 until rowsPerBand).map(r =>
        element_at(col("sig"), bIdx * rowsPerBand + r + 1))
      struct(lit(bIdx).as("band"), xxhash64(cols: _*).as("bh"))
    }
    signatures
      .select(col("id"), explode(array(bandCols: _*)).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.bh").as("bh"))
  }

  def lshCandidates(signatures: DataFrame, bands: Int, rowsPerBand: Int,
                    maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val banded = capBuckets(bandSignatures(signatures, bands, rowsPerBand),
      Seq("band", "bh"), maxBucketSize)
    banded.toDF("id_a", "band", "bh")
      .join(banded.toDF("id_b", "band", "bh"), Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Full MinHash-LSH near-dup pipeline: LSH candidates, then exact
    * Jaccard verification of candidates only. With b=32,r=4 the miss
    * probability at j≥0.8 is < 5e-8 per pair, so the verified output
    * matches the all-pairs oracle. */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.8, numHashes: Int = 128,
                   bands: Int = 32, n: Int = 3,
                   broadcastSets: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sigs = minhashSignatures(df, idCol, textCol, numHashes, n)
    val cands = lshCandidates(sigs, bands, numHashes / bands)
    val sets = shingleSets(df, idCol, textCol, n)
    verifyJaccard(sets, cands, threshold, broadcastSets).select("id_a", "id_b")
  }

  /** Incremental / cross-relation MinHash-LSH dedup: near-dup pairs
    * BETWEEN two relations (a new document batch vs the standing
    * corpus — the daily-incremental path). Signatures are map-side on
    * both sides; candidates are a banded equi-join between the two
    * signature tables; verification is exact Jaccard. At b=32, r=4 the
    * per-pair miss probability at j >= 0.8 is < 5e-8, so the verified
    * output matches the exhaustive cross-join oracle.
    *
    * vs [[jaccardJoin]]: same output contract, different blocking
    * economics — the PPJoin prefix filter touches every (doc, prefix
    * shingle) pair and is exact-recall; LSH banding ships a FIXED
    * 32-row key table per doc regardless of document length, the
    * right choice when the standing corpus has precomputed signatures
    * (store `minhashSignatures` once, join each new batch against it). */
  def minhashJoin(left: DataFrame, right: DataFrame,
                  idCol: String, textCol: String,
                  threshold: Double = 0.8, numHashes: Int = 128,
                  bands: Int = 32, n: Int = 3,
                  maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val bandedL = capBuckets(
      bandSignatures(minhashSignatures(left, idCol, textCol, numHashes, n),
        bands, r), Seq("band", "bh"), maxBucketSize)
    val bandedR = capBuckets(
      bandSignatures(minhashSignatures(right, idCol, textCol, numHashes, n),
        bands, r), Seq("band", "bh"), maxBucketSize)
    val candidates = bandedL.toDF("id_a", "band", "bh")
      .join(bandedR.toDF("id_b", "band", "bh"), Seq("band", "bh"))
      .select("id_a", "id_b").distinct()
    verifyJaccardAB(shingleSets(left, idCol, textCol, n),
      shingleSets(right, idCol, textCol, n), candidates, threshold)
      .select("id_a", "id_b")
  }

  /** Persist a standing corpus' LSH join-key table — (id, band, bh)
    * banded MinHash signatures — BUCKETED on the join key, so that
    * every future incremental batch joins against it with NO exchange
    * on the corpus side ([[graft.core.Catalog.saveBucketed]]).
    *
    * This is the storage half of the daily-incremental economics that
    * [[minhashJoin]] documents: the corpus signatures are computed once
    * (map-side, fixed `bands` rows per doc), written pre-partitioned,
    * and each new batch only shuffles ITSELF. At 100 TB the standing
    * side is the overwhelmingly larger one — re-shuffling it per batch
    * is the cost this removes.
    *
    * State-store choice, named: a BUCKETED catalog table trades reader
    * isolation for join co-location — `saveAsTable` metadata is what
    * lets Spark plan the no-exchange join, and that metadata does not
    * survive [[graft.core.SnapshotTable]]'s plain-parquet manifests.
    * When the signature store must be updated while dedup jobs read it
    * concurrently, commit it as a snapshot table instead
    * ([[persistBandedSignaturesSnapshot]] — the OTHER side of the
    * trade, shipped) and accept one exchange on the corpus side per
    * join; when the store is updated between job runs (the common
    * daily cycle), bucketed wins. */
  def persistBandedSignatures(spark: org.apache.spark.sql.SparkSession,
                              db: String, table: String, corpus: DataFrame,
                              idCol: String, textCol: String,
                              numHashes: Int = 128, bands: Int = 32,
                              n: Int = 3, numBuckets: Int = 8): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val banded = bandSignatures(
      minhashSignatures(corpus, idCol, textCol, numHashes, n),
      bands, numHashes / bands)
    graft.core.Catalog.saveBucketed(spark, db, table, banded,
      Seq("band", "bh"), numBuckets)
  }

  /** Incremental MinHash join against a PRECOMPUTED banded signature
    * table (written by [[persistBandedSignatures]] and read back with
    * `spark.table`). Identical output contract to [[minhashJoin]];
    * only the new batch's signatures are computed (map-side) and only
    * the new batch is shuffled — the bucketed corpus side is already
    * laid out on (band, bh).
    *
    * `corpusSets` supplies the exact-verification side for the standing
    * corpus: either `shingleSets(corpusDocs, ...)` recomputed, or a
    * persisted (id, sh) table for the full store-once posture. */
  def minhashJoinPrecomputed(newBatch: DataFrame, corpusBanded: DataFrame,
                             corpusSets: DataFrame, idCol: String,
                             textCol: String, threshold: Double = 0.8,
                             numHashes: Int = 128, bands: Int = 32,
                             n: Int = 3,
                             maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val bandedNew = capBuckets(
      bandSignatures(minhashSignatures(newBatch, idCol, textCol, numHashes, n),
        bands, numHashes / bands), Seq("band", "bh"), maxBucketSize)
    val candidates = bandedNew.toDF("id_a", "band", "bh")
      .join(corpusBanded.select(col("id").as("id_b"), col("band"), col("bh")),
        Seq("band", "bh"))
      .select("id_a", "id_b").distinct()
    verifyJaccardAB(shingleSets(newBatch, idCol, textCol, n), corpusSets,
      candidates, threshold)
      .select("id_a", "id_b")
  }

  /** [[persistBandedSignatures]]'s SNAPSHOT-COMMITTED twin — the other
    * side of the state-store trade that function's scaladoc names:
    * the banded (id, band, bh) signature store commits as a
    * [[graft.core.SnapshotTable]] version instead of a bucketed
    * catalog table, trading the no-exchange join (bucket metadata
    * doesn't survive plain-parquet manifests, so each incremental join
    * pays ONE exchange on the corpus side) for READER ISOLATION: a
    * dedup job that pinned the store with `SnapshotTable.read` keeps
    * its exact file list while the store re-commits underneath, and
    * time travel / vacuum horizons apply. Use this when store updates
    * and dedup reads overlap; use the bucketed store when they
    * alternate (the common daily cycle). Returns the committed
    * version; read back with `SnapshotTable.read(spark, root)` and
    * join via [[minhashJoinPrecomputed]]. */
  def persistBandedSignaturesSnapshot(spark: org.apache.spark.sql.SparkSession,
                                      root: String, corpus: DataFrame,
                                      idCol: String, textCol: String,
                                      numHashes: Int = 128, bands: Int = 32,
                                      n: Int = 3): Long =
    graft.core.SnapshotTable.commit(spark, root,
      bandedSignatureRows(corpus, idCol, textCol, numHashes, bands, n))

  /** The banded (id, band, bh) LSH join-key rows themselves — the
    * map-side computation both persisted stores commit, exposed so a
    * CDC-maintained store ([[graft.core.SnapshotTable.applyChangesCycle]]
    * with this as the derive step) recomputes signatures for exactly
    * the changed documents. */
  def bandedSignatureRows(corpus: DataFrame, idCol: String, textCol: String,
                          numHashes: Int = 128, bands: Int = 32,
                          n: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    bandSignatures(minhashSignatures(corpus, idCol, textCol, numHashes, n),
      bands, numHashes / bands)
  }

  /** Drop rows of over-sized join buckets — the skew guard shared by
    * the banded candidate generators. `Int.MaxValue` means uncapped
    * (the oracle-exact configuration). */
  private[operators] def capBuckets(df: DataFrame, bucketCols: Seq[String],
                                    maxBucketSize: Int): DataFrame =
    if (maxBucketSize == Int.MaxValue) df
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(bucketCols.map(col): _*)
      df.withColumn("__bsz", count(lit(1)).over(w))
        .filter(col("__bsz") <= maxBucketSize)
        .drop("__bsz")
    }

  // --- SimHash ---

  /** 64-bit SimHash per doc from md5-derived token hashes: per-bit sign
    * sum over token occurrences; bit set iff sum >= 0. Computed
    * MAP-SIDE in one native-expression pass over the text
    * ([[graft.plans.SketchExpressions.SimHash64]]) — no token shuffle.
    * 64-bit width (round 2; was 32) so each of the 4 band values spans
    * 16 bits: 65 536 bucket values per band instead of 256, keeping the
    * band self-join linear-ish at billions of docs. */
  def simhash(df: DataFrame, idCol: String, textCol: String,
              tfCap: Int = 0): DataFrame =
    df.select(col(idCol).as("id"),
      (if (tfCap > 0)
        graft.plans.SketchExpressions.simhash64_weighted(col(textCol), tfCap)
      else graft.plans.SketchExpressions.simhash64(col(textCol))).as("simhash"))

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, found
    * via band join on `bands` equal bit-slices. Pigeonhole: with
    * maxHamming < bands, every qualifying pair shares at least one
    * exact band — recall is GUARANTEED, not probabilistic.
    *
    * `maxBucketSize` is the same opt-in mega-cluster skew guard as
    * [[lshCandidates]]: a band bucket of m near-identical docs emits
    * m²/2 candidate pairs; capped buckets are dropped (docs usually
    * still pair through other bands, but strict recall inside dropped
    * buckets is traded away — default uncapped, the oracle-exact
    * configuration). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, bands: Int = 4,
                   maxBucketSize: Int = Int.MaxValue,
                   tfCap: Int = 0): DataFrame =
    hammingPairs64(simhash(df, idCol, textCol, tfCap), "id", "simhash",
      maxHamming, bands, maxBucketSize)

  /** Banded Hamming self-join over ANY 64-bit signature column —
    * the pigeonhole candidate generator [[simhashPairs]] always used,
    * factored out so other 64-bit perceptual hashes (image dHash,
    * audio chromaprints) reuse the identical discipline: split the
    * hash into `bands` equal slices, equi-join on any shared slice
    * (Hamming ≤ maxHamming < bands GUARANTEES one slice matches),
    * verify with one XOR popcount. Returns (id_a, id_b, hamming).
    * `maxBucketSize` caps degenerate buckets (constant-background
    * media) exactly like the text path. */
  def hammingPairs64(hashes: DataFrame, idCol: String, hashCol: String,
                     maxHamming: Int, bands: Int = 4,
                     maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(maxHamming < bands, "pigeonhole recall needs maxHamming < bands")
    require(64 % bands == 0, "bands must divide 64")
    val bits = 64 / bands
    val banded0 = hashes.select(col(idCol).as("id"), col(hashCol).as("h"))
      .select(col("id"), col("h"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            shiftright(col("h"), b * bits).bitwiseAND((1L << bits) - 1).as("bv"))
        }: _*)).as("b"))
      .select(col("id"), col("h"), col("b.band").as("band"), col("b.bv").as("bv"))
    val banded = capBuckets(banded0, Seq("band", "bv"), maxBucketSize)
    banded.toDF("id_a", "h_a", "band", "bv")
      .join(banded.toDF("id_b", "h_b", "band", "bv"), Seq("band", "bv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Quality-argmax cluster representative: for each duplicate cluster
    * ([[duplicateClusters]] output), keep the member with the HIGHEST
    * score under the total (score desc, id asc) order — the curation
    * upgrade over canonical-id dedup, which keeps an arbitrary (min-id)
    * member and can throw away the cleanest copy of a near-dup family.
    * Returns (canonical_id, best_id, best_score, cluster_size).
    *
    * Scale shape: one equi-join of the cluster table against the score
    * table on the member id, then a row_number + count window pair over
    * ONE canonical-id exchange. Cluster tables are the SMALL side of a
    * corpus (only dup-involved docs appear); per-cluster width is
    * bounded by the dedup family size. */
  def clusterBest(clusters: DataFrame, scores: DataFrame,
      idCol: String, scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val j = clusters.join(
      scores.select(col(idCol).as("doc_id"), col(scoreCol).as("__score")),
      "doc_id")
    val w = Window.partitionBy(col("canonical_id"))
    val ranked = j
      .withColumn("__rn", row_number().over(
        w.orderBy(col("__score").desc, col("doc_id").asc)))
      .withColumn("cluster_size", count(lit(1)).over(w))
    ranked.filter(col("__rn") === 1)
      .select(col("canonical_id"), col("doc_id").as("best_id"),
        round(col("__score"), 6).as("best_score"), col("cluster_size"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003 — the MOSS scheme): per-position k-char rolling
    * hashes, then from every window of `w` consecutive hashes select
    * the RIGHTMOST minimum; the distinct (position, hash) selections
    * are the document's fingerprints. Guarantees every shared
    * substring of length ≥ k + w − 1 yields at least one shared
    * fingerprint, at ~2/(w+1) sample density — position-aware (unlike
    * the bag-of-grams MinHash/SimHash family) yet robust to
    * insertions, which is why it is the plagiarism-detection
    * standard.
    *
    * All-integer and engine-exact: hash = fold (acc·131 + codepoint)
    * mod 1000003 — the small modulus keeps every intermediate far
    * below int64 overflow, which engines with CHECKED arithmetic
    * refuse to wrap.
    *
    * Selection runs as ONE codegen'd scan expression
    * ([[graft.plans.WinnowExpressions]]): a per-document monotonic
    * deque — O(len) amortized, ZERO exchanges — replacing the earlier
    * relational plan (gram explode → doc-keyed frame-min window →
    * equi-join back on the min value with a w-wide position band),
    * which shuffled the whole ~len-row gram table twice and was the
    * suite's #1 steady cost. The relational formulation REMAINS the
    * oracle (q_winnow_fingerprints' DuckDB SQL replays it clause by
    * clause), so the hash compare is the equivalence proof: rightmost
    * tie-break via `>=` back-pops, selection positions non-decreasing
    * so in-kernel consecutive-dedup equals the relational DISTINCT.
    * Docs shorter than k + w − 1 have no full window and drop out.
    *
    * Contract: `idCol` is the document KEY — one row per id (every
    * caller here feeds a keyed table). Under that contract the
    * in-kernel dedup makes the output globally distinct with no
    * exchange; a duplicate-id input would need the old global
    * DISTINCT back.
    *
    * Output: (id, fp_pos, fp) distinct — 1-based gram position. */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 5, w: Int = 4): DataFrame =
    docs
      .filter(length(col(textCol)) >= k + w - 1)
      .select(col(idCol),
        explode(graft.plans.WinnowExpressions.winnow_fps(col(textCol), k, w))
          .as("__s"))
      .select(col(idCol), col("__s.fp_pos").as("fp_pos"),
        col("__s.fp").as("fp"))

  /** Bounded edit-distance similarity self-join (Ed-Join — Xiao, Wang
    * & Lin, "Ed-Join: An Efficient Algorithm for Similarity Joins With
    * Edit Distance Constraints", VLDB 2008): all pairs with
    * levenshtein ≤ `maxDist`, exactly. A single edit destroys at most
    * `q` of a string's positional q-grams, so two strings within
    * `maxDist` edits share all but q·maxDist of the SMALLER multiset —
    * under any global total order on grams, each string's first
    * q·maxDist + 1 grams (its prefix) must hit the intersection.
    * Candidates therefore come from an equi-join on a CONSTANT-size
    * per-doc prefix of the q·d+1 globally RAREST grams (occurrence
    * ordinals turn the multiset into a set), plus the |Δlen| ≤ maxDist
    * band; every candidate is then verified with one exact
    * `levenshtein` call. The character-edit geometry catches what the
    * bag-of-grams family can't see: OCR noise, typo variants,
    * single-field mutations.
    *
    * Scale posture: the prefix is q·maxDist + 1 grams per doc
    * REGARDLESS of length, and the rarity order pushes hub grams
    * (stopword fragments — the df² blowup) out of every prefix, so the
    * candidate join shuffles (gram, id, len) triples keyed on rare
    * grams only; document text moves exactly twice — into the two
    * sides of the candidate verification join. The length band is
    * checked inside the join condition, before any text is touched.
    * NAMED caveat: the prefix guarantee needs min(|G_a|, |G_b|) >
    * q·maxDist, i.e. length ≥ q·(maxDist + 1); shorter strings keep
    * ALL their grams in the prefix but two sub-threshold strings can
    * be within maxDist while sharing zero q-grams (e.g. "ab" vs "ba",
    * q = 3 — no grams at all), so recall below that length is not
    * guaranteed. Strings shorter than q are dropped outright. */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
                        maxDist: Int = 2, q: Int = 3): DataFrame = {
    val prefixLen = q * maxDist + 1
    // gram emission is a CPU-dense scan kernel — spread unsplittable
    // small inputs (no-op at scale, see Par.spreadForCpu)
    val d = graft.core.Par.spreadForCpu(
        docs.select(col(idCol).as("id"), col(textCol).as("t")), col("id"))
      .filter(length(col("t")) >= q)
    // occurrence-ordinal keys — the i-th copy of gram g becomes "g#i",
    // making multiset intersection a plain set intersection — emitted
    // directly by one compiled scan kernel
    // ([[graft.plans.ChunkExpressions.positional_qgram_keys]]): the
    // ordinal is a PER-DOCUMENT counter, so the old groupBy(id, g)
    // count + sequence re-explode was a full shuffle of the gram
    // table spent computing map-side state (plus interpreted
    // transform lambdas for the grams themselves); the corpus-level
    // rarity order below still shuffles — that one needs corpus df.
    val keyed = d
      .select(col("id"), length(col("t")).as("len"),
        explode(graft.plans.ChunkExpressions
          .positional_qgram_keys(col("t"), q)).as("gk"))
    val dfreq = keyed.groupBy("gk").agg(count(lit(1)).as("df_g"))
    val prefixes = keyed.join(dfreq, "gk")
      .groupBy("id", "len")
      .agg(sort_array(collect_list(struct(col("df_g"), col("gk")))).as("ord"))
      .select(col("id"), col("len"),
        explode(slice(col("ord"), 1, prefixLen)).as("p"))
      .select(col("id"), col("len"), col("p.gk").as("gk"))
    val cand = prefixes.as("a")
      .join(prefixes.as("b"),
        col("a.gk") === col("b.gk") && col("a.id") < col("b.id") &&
          abs(col("a.len") - col("b.len")) <= maxDist)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // The verification stage is CPU-DENSE per row (one O(len²)
    // levenshtein matrix per candidate) on tiny bytes, exactly the
    // profile AQE's byte-based coalescing mis-sizes: at sf0.1 it
    // merged the verify stage to one task and ran 3+ s of edit
    // distance single-threaded. Pin the stage at session parallelism
    // with an explicit hash repartition on the pair key — one bounded
    // exchange of candidate text pairs (already shuffled once by the
    // joins above), deterministic under retries.
    val par = docs.sparkSession.sparkContext.defaultParallelism
    cand
      .join(d.select(col("id").as("id_a"), col("t").as("ta")), "id_a")
      .join(d.select(col("id").as("id_b"), col("t").as("tb")), "id_b")
      .repartition(par, col("id_a"), col("id_b"))
      .withColumn("dist", levenshtein(col("ta"), col("tb")))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** MOSS-style pairwise overlap report on winnowing fingerprints:
    * for every document pair sharing ≥ `minShared` distinct
    * fingerprint values, the shared count and the containment
    * fraction shared / min(|fps_a|, |fps_b|) — "how much of the
    * smaller document is covered by material it shares with the
    * other". Position-aware overlap (a shared fingerprint witnesses a
    * shared ≥ k-char substring), which is what distinguishes this
    * report from the bag-of-grams [[jaccardPairs]].
    *
    * Scale posture: pair generation is an equi-join on the
    * fingerprint VALUE, and fingerprints occurring in more than
    * `maxDf` documents (license headers, boilerplate — the hub keys)
    * are excluded from pairing BEFORE the join, so per-key fan-out is
    * ≤ maxDf² and the join never degenerates into the quadratic hub
    * bomb ([[graft.operators.Graph.adamicAdar]]'s cap, same move).
    * Containment denominators use each document's FULL distinct
    * fingerprint count (pre-cap), so the reported fraction is honest
    * about coverage. Shuffles: one (id)-keyed distinct + counts, one
    * (fp)-keyed df agg + join, one pair-keyed count — fingerprints
    * are ints; document text never shuffles past the first scan. */
  def winnowOverlap(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 5, w: Int = 4, maxDf: Long = 20L,
                    minShared: Long = 3L): DataFrame = {
    // spread HERE, not inside winnowFingerprints: the direct
    // fingerprint query keeps its zero-exchange scan-kernel plan, the
    // pairwise report parallelizes its rolling-hash kernel
    val fps = winnowFingerprints(
      graft.core.Par.spreadForCpu(docs, col(idCol)), idCol, textCol, k, w)
      .select(col(idCol).as("id"), col("fp")).distinct()
    val cnt = fps.groupBy("id").agg(count(lit(1)).as("n_fp"))
    val df = fps.groupBy("fp").agg(count(lit(1)).as("df"))
    val rare = fps.join(df.filter(col("df") <= maxDf), "fp")
      .select(col("id"), col("fp"))
    val pairs = rare.as("a")
      .join(rare.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    pairs
      .join(cnt.as("ca"), col("id_a") === col("ca.id"))
      .join(cnt.as("cb"), col("id_b") === col("cb.id"))
      .select(col("id_a"), col("id_b"), col("shared"),
        round(col("shared").cast("double") /
          least(col("ca.n_fp"), col("cb.n_fp")).cast("double"), 6)
          .as("containment"))
  }

  /** Content-defined chunking (Manber 1994's anchor scheme, the
    * rsync/backup dedup primitive applied to corpus text): a chunk
    * boundary falls after every k-gram whose hash32 ≡ 0 (mod m), so
    * expected chunk length is m characters and — the property byte-
    * offset chunking can never have — boundaries SELF-SYNCHRONIZE:
    * two documents sharing a long substring produce IDENTICAL chunks
    * for its interior regardless of how different their prefixes are,
    * because an anchor depends only on the k characters under it.
    * Downstream, a chunk-hash groupBy finds shared boilerplate/quoted
    * passages across the corpus at sub-document granularity without
    * any pairwise work (the fixed-stride [[passageDedup]] catches
    * only aligned repeats; CDC catches SHIFTED ones).
    *
    * No min/max chunk clamps: the original anchor scheme is clamp-
    * free and fully RELATIONAL (min/max clamps make eligibility
    * depend on the previous boundary — a sequential scan); the
    * geometric length distribution is named, not hidden.
    *
    * The per-document pass is one compiled O(len·k) scan kernel
    * ([[graft.plans.ChunkExpressions.cdc_chunks]]) — history of this
    * hot path: md5-per-position measured 59.3 s at sf0.1; the
    * interpreted HOF fold over a shared codepoint array ~3 s (the
    * round-7 re-plan, whose single-reference-fold discipline the old
    * body documented); the native kernel retires the interpreted
    * lambdas entirely, same hash recipe (acc·131 + codepoint) mod
    * 1000003 — the DuckDB oracle still replays the HOF formulation,
    * so the hash compare is the equivalence proof. Returns one
    * (id, chunk_idx, chunk) row per chunk; empty chunks (anchors at
    * the text edge) drop on both engines. */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
                k: Int = 8, mod: Int = 64): DataFrame = {
    require(k >= 2 && mod >= 2, "degenerate chunking parameters")
    docs
      .select(col(idCol),
        posexplode(graft.plans.ChunkExpressions
          .cdc_chunks(col(textCol), k, mod)))
      .toDF(idCol, "chunk_idx", "chunk")
  }
}
