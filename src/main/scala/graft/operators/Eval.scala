package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generation-evaluation metrics at corpus scale: BLEU (Papineni et
  * al., ACL 2002) and ROUGE-N recall (Lin, 2004) over
  * (candidate, reference) text pairs — the scoring half of any
  * large-scale eval or distillation-filtering pipeline (keep only
  * teacher outputs whose BLEU/ROUGE against the gold reference clears
  * a bar).
  *
  * Determinism discipline, two tiers:
  *  - modified n-gram precisions p1..p4 and ROUGE-1/2 recalls are
  *    single IEEE divisions of exact integer counts — bit-identical
  *    across engines, rounded to 6 for presentation;
  *  - BLEU itself is transcendental (exp/ln for the geometric mean and
  *    the brevity penalty, neither IEEE-correctly-rounded), so the
  *    composed score is rounded to FOUR decimals — the 5e-5 boundary
  *    spacing makes a cross-engine last-ulp difference collide with a
  *    rounding boundary with probability ~1e-11 per row, versus ~1e-7
  *    at round-6 (the pmi lesson, applied with margin).
  *
  * Scale shape: grams for n = 1..4 explode from each side in one pass
  * (slice + concat_ws over a single split — O(len·n) per doc, the
  * winnowing lesson), counts aggregate per (pair, n, gram), the
  * candidate/reference tables full-outer-join on that key, and
  * everything rolls up per pair — every shuffle is pair-id-keyed;
  * no pair ever sees another pair's data. */
object Eval {

  /** (id, len_cand, len_ref, p1..p4, rouge1, rouge2, bleu) per pair.
    * p_n = clipped-gram matches / candidate grams (modified precision
    * with per-gram clipping, the "the the the" guard); rouge_n =
    * clipped matches / reference grams (recall); bleu =
    * BP · exp(Σ 0.25·ln p_n), 0 if any p_n is 0, BP = exp(1 − r/c)
    * when the candidate is shorter. Pairs whose candidate or reference
    * has fewer than 4 tokens keep rows for the n they support; a
    * missing p_n counts as 0 (and zeroes bleu) — mirrored in SQL. */
  def bleuRouge(pairs: DataFrame, idCol: String, candCol: String,
                refCol: String): DataFrame = {
    // split(' ') maps ''/NULL to [""] — a spurious empty-string
    // unigram that can clip-match an empty token on the other side
    // (len_cand=1 for an empty candidate). Coalesce NULL text to ''
    // and drop empty tokens (the qaTokenF1 discipline) so degenerate
    // pairs score 0 deterministically; mirrored in SQL.
    //
    // Gram generation on the explode + window-lead shape (the
    // round-11 re-plan, measured in BASELINE.md): tokens explode in
    // codegen, each position's four grams come from three lead()
    // columns and explicit concat_ws — no interpreted slice-copy
    // per gram — and the up-front repartition(id) makes the lead
    // window, the (id,n,g) count and every downstream per-id
    // aggregate EXCHANGE-FREE (hash(id) satisfies each clustering).
    //
    // BOTH sides ride ONE pass (round 17): candidate and reference
    // tokens explode side-tagged from the same pair row, and the old
    // full-outer join of two per-side gram tables collapses into one
    // (id, n, g) aggregation with conditional side sums — the counts
    // (and therefore clip/tc/tr and every derived division) are
    // IDENTICAL, a gram missing on one side just sums to 0 exactly as
    // the joined null coalesced to 0. Plan: the 35 MB of gram rows
    // that crossed TWO repartition exchanges into a full-outer
    // SortMergeJoin now cross ONE exchange into a hash aggregate.
    def ws(textCol: String) = expr(
      s"filter(split(coalesce(`$textCol`, ''), ' '), t -> t <> '')")
    val wnd = org.apache.spark.sql.expressions.Window
      .partitionBy("id", "side").orderBy("i")
    val toks = pairs
      .select(col(idCol).as("id"), ws(candCol).as("wsc"), ws(refCol).as("wsr"))
      .repartition(col("id"))
      .select(col("id"), explode(array(
        struct(lit("c").as("side"), col("wsc").as("ws")),
        struct(lit("r").as("side"), col("wsr").as("ws")))).as("x"))
      .select(col("id"), col("x.side").as("side"),
        posexplode_outer(col("x.ws")).as(Seq("i", "w")))
      .withColumn("w1", lead(col("w"), 1).over(wnd))
      .withColumn("w2", lead(col("w"), 2).over(wnd))
      .withColumn("w3", lead(col("w"), 3).over(wnd))
    val entries = array(
      struct(lit(1).as("n"), col("w").as("g")),
      struct(lit(2).as("n"), when(col("w1").isNotNull,
        concat_ws(" ", col("w"), col("w1"))).as("g")),
      struct(lit(3).as("n"), when(col("w2").isNotNull,
        concat_ws(" ", col("w"), col("w1"), col("w2"))).as("g")),
      struct(lit(4).as("n"), when(col("w3").isNotNull,
        concat_ws(" ", col("w"), col("w1"), col("w2"), col("w3"))).as("g")))
    val grams = toks.select(col("id"), col("side"), explode(entries).as("e"))
      // null g = a gram past the end (or the empty-side null token
      // row) — exactly the CASE size(ws) >= n guard of the old plan
      .filter(col("e.g").isNotNull)
      .select(col("id"), col("side"), col("e.n").as("n"), col("e.g").as("g"))
      .groupBy("id", "n", "g")
      .agg(sum(when(col("side") === "c", 1L).otherwise(0L)).as("c_cand"),
        sum(when(col("side") === "r", 1L).otherwise(0L)).as("c_ref"))
    val perN = grams
      .groupBy("id", "n")
      .agg(
        sum(least(col("c_cand"), col("c_ref"))).as("clip"),
        sum(col("c_cand")).as("tc"),
        sum(col("c_ref")).as("tr"))
    val aggCols =
      Seq(max(when(col("n") === 1, col("tr"))).as("len_ref")) ++
        (1 to 4).flatMap { n =>
          Seq(
            max(when(col("n") === n, col("clip"))).as(s"clip$n"),
            max(when(col("n") === n, col("tc"))).as(s"tc$n"),
            max(when(col("n") === n, col("tr"))).as(s"tr$n"))
        }
    val wide0 = perN.groupBy("id")
      .agg(max(when(col("n") === 1, col("tc"))).as("len_cand"), aggCols: _*)
    // a pair with zero tokens on BOTH sides contributes no gram rows at
    // all and would silently vanish — re-attach every input id so the
    // degenerate pair reports an explicit all-zeros row instead
    val wide = pairs.select(col(idCol).as("id")).distinct()
      .join(wide0, Seq("id"), "left")
    def prec(n: Int) = when(coalesce(col(s"tc$n"), lit(0L)) > 0,
      coalesce(col(s"clip$n"), lit(0L)).cast("double") /
        col(s"tc$n").cast("double")).otherwise(lit(0.0))
    def rec(n: Int) = when(coalesce(col(s"tr$n"), lit(0L)) > 0,
      coalesce(col(s"clip$n"), lit(0L)).cast("double") /
        col(s"tr$n").cast("double")).otherwise(lit(0.0))
    val withP = wide
      .withColumn("pp1", prec(1)).withColumn("pp2", prec(2))
      .withColumn("pp3", prec(3)).withColumn("pp4", prec(4))
    val bp = when(col("len_cand") >= col("len_ref"), lit(1.0))
      .otherwise(exp(lit(1.0) - col("len_ref").cast("double") /
        col("len_cand").cast("double")))
    val bleu = when(
      col("pp1") > 0 && col("pp2") > 0 && col("pp3") > 0 && col("pp4") > 0,
      bp * exp((log(col("pp1")) + log(col("pp2")) + log(col("pp3")) +
        log(col("pp4"))) * lit(0.25)))
      .otherwise(lit(0.0))
    withP.select(col("id").as(idCol),
      coalesce(col("len_cand"), lit(0L)).as("len_cand"),
      coalesce(col("len_ref"), lit(0L)).as("len_ref"),
      round(col("pp1"), 6).as("p1"), round(col("pp2"), 6).as("p2"),
      round(col("pp3"), 6).as("p3"), round(col("pp4"), 6).as("p4"),
      round(rec(1), 6).as("rouge1"), round(rec(2), 6).as("rouge2"),
      round(bleu, 4).as("bleu"))
  }

  /** Retrieval-ranking metrics per query: MRR@k, nDCG@k, precision@k
    * and recall@k. MRR is computed AT the cutoff (runs are filtered to
    * rank ≤ k before first_rel), so a query whose first relevant hit
    * sits below rank k scores 0 — the column is named `mrr_at_k` to
    * make the cutoff explicit (MS MARCO convention), not plain MRR.
    * The rest: — the other half of the eval family ([[bleuRouge]]
    * scores generation; this scores the retrieval stack the RRF /
    * hard-negative queries build). `runs` carries (query, doc, rank)
    * with rank 1-based and unique per query; `qrels` carries
    * (query, doc, rel) graded relevance (rel ≥ 1 counts as relevant
    * for MRR/precision/recall; DCG uses the standard (2^rel − 1)
    * gain).
    *
    * Determinism: precision/recall/MRR are exact rationals (round-6).
    * DCG terms gain/log2(rank + 1) are transcendental, so each term
    * is rounded to 9 decimals AT BIRTH (the naive-Bayes ln
    * discipline) and summed by an explicit rank-ordered fold —
    * bit-identical across engines; nDCG divides the two folded sums
    * and rounds to 6. The ideal ranking sorts graded rels descending
    * (a deterministic order — gains alone determine IDCG).
    *
    * Scale shape: one left join of runs against qrels on (query, doc)
    * and two query-keyed aggregations (the observed fold over ranks,
    * the ideal fold over sorted gains) — every shuffle query-keyed;
    * queries with no relevant documents report zeros rather than
    * dropping (mirrored in SQL). */
  def retrievalMetrics(runs: DataFrame, qrels: DataFrame,
                       queryCol: String, docCol: String, rankCol: String,
                       relCol: String, k: Int = 10): DataFrame = {
    val joined = runs
      .select(col(queryCol).as("q"), col(docCol).as("d"),
        col(rankCol).cast("long").as("rank"))
      .filter(col("rank") <= k)
      .join(qrels.select(col(queryCol).as("q"), col(docCol).as("d"),
        col(relCol).cast("long").as("rel")), Seq("q", "d"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0L)))
    val observed = joined.groupBy("q")
      .agg(
        sum(when(col("rel") >= 1, 1L).otherwise(0L)).as("n_rel_ret"),
        min(when(col("rel") >= 1, col("rank"))).as("first_rel"),
        sort_array(collect_list(struct(col("rank"), col("rel")))).as("rr"))
      .withColumn("dcg", expr(
        """aggregate(rr, cast(0 as double), (acc, x) ->
          |  acc + round((pow(2.0, x.rel) - 1.0) / log2(cast(x.rank as double) + 1.0), 9))""".stripMargin))
    val ideal = qrels
      .select(col(queryCol).as("q"), col(relCol).cast("long").as("rel"))
      .filter(col("rel") >= 1)
      .groupBy("q")
      .agg(count(lit(1)).as("n_rel"),
        slice(sort_array(collect_list(col("rel")), asc = false), 1, k).as("ideal"))
      .withColumn("idcg", expr(
        """aggregate(zip_with(ideal, sequence(1, size(ideal)), (r, i) -> struct(r, i)),
          |  cast(0 as double), (acc, x) ->
          |  acc + round((pow(2.0, x.r) - 1.0) / log2(cast(x.i as double) + 1.0), 9))""".stripMargin))
    observed.join(ideal, Seq("q"), "full_outer")
      .select(col("q").as(queryCol),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        coalesce(col("n_rel_ret"), lit(0L)).as("n_rel_ret"),
        round(when(col("first_rel").isNotNull,
          lit(1.0) / col("first_rel").cast("double")).otherwise(lit(0.0)), 6)
          .as(s"mrr_at_$k"),
        round(coalesce(col("n_rel_ret"), lit(0L)).cast("double") / lit(k.toDouble), 6)
          .as(s"precision_at_$k"),
        round(when(coalesce(col("n_rel"), lit(0L)) > 0,
          coalesce(col("n_rel_ret"), lit(0L)).cast("double") /
            col("n_rel").cast("double")).otherwise(lit(0.0)), 6)
          .as(s"recall_at_$k"),
        round(when(coalesce(col("idcg"), lit(0.0)) > 0,
          coalesce(col("dcg"), lit(0.0)) / col("idcg")).otherwise(lit(0.0)), 6)
          .as(s"ndcg_at_$k"))
  }

  /** Per-group ROC-AUC over (score, 0/1 label) rows — the classifier
    * eval that closes the loop on the perceptron / naive-Bayes quality
    * gates (is the quality score actually separating keep from drop?).
    * Ties get the standard half credit: AUC = (#concordant pairs +
    * ½·#tied pairs) / (P·N), computed as the EXACT integer
    * num2 = Σ_s pos(s)·(2·negBelow(s) + neg(s)) over distinct score
    * values s, divided once: auc = num2 / (2·P·N) — every count an
    * order-free int64 sum, one IEEE division, round-6. NAMED int64/2^53
    * bound: num2 ≤ 2·P·N must fit both int64 and a double mantissa —
    * exact to ~6e7 positives × 6e7 negatives per group (widen both
    * engine sides to decimal beyond).
    *
    * Scale shape — the textbook formulation ranks ALL rows through one
    * `ORDER BY score` window. Here the cumulative negative count is a
    * two-level prefix sum over the (group, score)-AGGREGATED table:
    * scores map monotonically into `buckets` fixed rungs
    * (floor(score·B), clamped — any monotone bucketing is correct, so
    * float edge effects are harmless), bucket totals prefix through a
    * per-group window of ≤B rows, and the within-bucket remainder
    * windows over PARTITION BY (group, bucket) — whose cardinality is
    * the number of DISTINCT scores per rung, bounded by the score
    * domain (this repo's round-6 quantized scores cap it at
    * ~1e6/B + 1), never by corpus size. Raw rows shuffle once, keyed
    * on (group, score), with map-side partials.
    *
    * Scores are expected in [0, 1] (outside values clamp into the edge
    * rungs — still correct, only less parallel). Groups with no
    * positives or no negatives report NULL auc, never NaN. */
  def rocAuc(df: DataFrame, groupCol: String, scoreCol: String,
             labelCol: String, buckets: Int = 1000): DataFrame = {
    val s = df
      .select(col(groupCol).as("g"), col(scoreCol).cast("double").as("score"),
        col(labelCol).cast("long").as("lbl"))
      .groupBy("g", "score")
      .agg(sum(col("lbl")).as("pos"), sum(lit(1L) - col("lbl")).as("neg"))
      .withColumn("bucket", least(greatest(
        floor(col("score") * buckets), lit(0L)), lit(buckets - 1L)))
    val withinW = Window.partitionBy("g", "bucket").orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketTotals = s.groupBy("g", "bucket").agg(sum("neg").as("bneg"))
    val lowerW = Window.partitionBy("g").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val lower = bucketTotals
      .withColumn("neg_lower", coalesce(sum("bneg").over(lowerW), lit(0L)))
      .drop("bneg")
    s.withColumn("neg_within", coalesce(sum("neg").over(withinW), lit(0L)))
      .join(lower, Seq("g", "bucket"))
      .groupBy("g")
      .agg(sum("pos").as("n_pos"), sum("neg").as("n_neg"),
        sum(col("pos") * (lit(2L) * (col("neg_lower") + col("neg_within"))
          + col("neg"))).as("num2"))
      .select(col("g").as(groupCol), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round(col("num2").cast("double") /
            (lit(2L) * col("n_pos") * col("n_neg")).cast("double"), 6))
          .as("auc"))
  }

  /** Average precision (AUPRC, the step-rule estimator sklearn's
    * average_precision_score implements): AP = Σ_k (R_k − R_{k−1})·P_k
    * over score thresholds, descending — the ranking metric that stays
    * meaningful under the class imbalance where [[rocAuc]] saturates
    * (a 0.1%-positive quality corpus scores 0.99 AUC almost for free;
    * AP still discriminates). Tie handling is EXPLICIT: rows sharing a
    * score form one threshold block, precision evaluated at the
    * block's END — the step rule, no trapezoids, no per-order
    * ambiguity.
    *
    * Determinism + scale: raw rows aggregate once on (group, score) —
    * the rocAuc discipline — so the per-group state is one struct per
    * DISTINCT score, bounded by the score domain (round-6-quantized
    * scores in this repo), never corpus size; NAMED like calibration's
    * B-struct bound. Blocks fold in score-descending order with
    * round-9 terms (pos_k/n_pos)·(cumpos_k/cumall_k) — exact-int
    * divisions, fixed sequence — and the SQL replay runs the same
    * blocks through bounded windows + an ordered list_reduce. Groups
    * with no positives report NULL, never NaN. */
  def averagePrecision(df: DataFrame, groupCol: String, scoreCol: String,
                       labelCol: String): DataFrame = {
    val s = df.select(col(groupCol).as("g"),
        col(scoreCol).cast("double").as("score"),
        col(labelCol).cast("long").as("lbl"))
      .groupBy("g", "score")
      .agg(sum("lbl").as("pos"), count(lit(1)).as("n"))
    s.groupBy("g").agg(
        sum("pos").as("n_pos"), sum("n").as("n_all"),
        sort_array(collect_list(struct(col("score"), col("pos"), col("n"))),
          asc = false).as("blocks"))
      .select(col("g").as(groupCol), col("n_pos"), col("n_all"),
        when(col("n_pos") > 0, round(aggregate(
          col("blocks"),
          struct(lit(0L).as("cp"), lit(0L).as("ca"), lit(0.0).as("ap")),
          (acc, x) => {
            val cp = acc("cp") + x.getField("pos")
            val ca = acc("ca") + x.getField("n")
            struct(cp.as("cp"), ca.as("ca"),
              (acc("ap") + round(
                (x.getField("pos").cast("double") /
                  col("n_pos").cast("double")) *
                  (cp.cast("double") / ca.cast("double")), 9)).as("ap"))
          }).getField("ap"), 6)).as("ap"))
  }

  /** Calibration reliability table + expected calibration error (ECE,
    * Naeini et al. 2015) + Brier score over (score ∈ [0,1], 0/1 label)
    * rows — is the quality classifier's confidence honest, or does a
    * "0.9" bucket hit only 60%? One row per occupied confidence bin
    * (bin b covers ((b−1)/B, b/B], score 0 lands in bin 1):
    * (bin, n, n_pos, avg_conf, accuracy, gap, ece, brier) with ece and
    * brier repeated on every row (corpus-level scalars).
    *
    * Determinism: accuracy is an exact rational; avg_conf sums scores
    * as DECIMAL(28,9) (order-free exact, the q1 discipline — scores
    * quantized coarser than 9 decimals cast identically in both
    * engines) then divides once; gap = |avg_conf − accuracy| is a
    * fixed op sequence on identical bits. ECE folds the ≤B weighted
    * terms round(n·gap/N, 9) in bin order (bounded by construction:
    * B ≤ ~100 bins, a collect_list of B structs, never row-shaped
    * data); Brier sums round((score−label)·(score−label), 9) as
    * DECIMAL(28,9) — exact for quantized scores, a plain IEEE multiply
    * (never pow(), whose y=2 path is not guaranteed identical across
    * engines) — and divides once. Bin assignment ceil(score·B) is
    * monotone and bit-identical cross-engine (both run the same IEEE
    * multiply), so float edge effects cannot diverge.
    *
    * Scale shape: one bin-keyed aggregation with map-side partials
    * over a single scan (bin from arithmetic, no ranking), plus a
    * B-row fold and a 1-row broadcast back. Nothing shuffles but
    * (bin, partial) rows. */
  def calibration(df: DataFrame, scoreCol: String, labelCol: String,
                  bins: Int = 10): DataFrame = {
    val base = df.select(col(scoreCol).cast("double").as("score"),
        col(labelCol).cast("long").as("lbl"))
      .withColumn("bin", greatest(least(ceil(col("score") * bins), lit(bins.toLong)),
        lit(1L)))
    val perBin = base.groupBy("bin").agg(
        count(lit(1)).as("n"),
        sum("lbl").as("n_pos"),
        sum(col("score").cast("decimal(28,9)")).as("conf_sum"),
        sum(round((col("score") - col("lbl")) * (col("score") - col("lbl")), 9)
          .cast("decimal(28,9)")).as("sq_sum"))
      .withColumn("avg_conf",
        col("conf_sum").cast("double") / col("n").cast("double"))
      .withColumn("accuracy",
        col("n_pos").cast("double") / col("n").cast("double"))
      .withColumn("gap", abs(col("avg_conf") - col("accuracy")))
    val totals = perBin.groupBy(lit(0).as("__k")).agg(
        sum("n").as("n_tot"),
        sum("sq_sum").as("sq_tot"),
        sort_array(collect_list(struct(col("bin"), col("n"), col("gap"))))
          .as("bins"))
      .select(
        expr("""aggregate(bins, cast(0 as double), (acc, x) ->
                |  acc + round(x.n * x.gap / n_tot, 9))""".stripMargin).as("ece_raw"),
        (col("sq_tot").cast("double") / col("n_tot").cast("double")).as("brier_raw"))
    perBin.crossJoin(broadcast(totals))
      .select(col("bin"), col("n"), col("n_pos"),
        round(col("avg_conf"), 6).as("avg_conf"),
        round(col("accuracy"), 6).as("accuracy"),
        round(col("gap"), 6).as("gap"),
        round(col("ece_raw"), 6).as("ece"),
        round(col("brier_raw"), 6).as("brier"))
  }

  /** Murphy (1973) decomposition of the Brier score over the same
    * binned reliability table as [[calibration]] — the WHY behind a
    * bad Brier: reliability (miscalibration, want 0), resolution
    * (discrimination, want large), uncertainty (the base rate's
    * irreducible floor), plus the within-bin term that makes the
    * identity exact for raw (un-binned) forecasts:
    * brier = reliability − resolution + uncertainty + within. With
    * per-bin (n_b, conf_b, acc_b) and base rate ȳ:
    * REL = Σ n_b(conf_b − acc_b)²/N, RES = Σ n_b(acc_b − ȳ)²/N,
    * UNC = ȳ(1 − ȳ), and WITHIN carries BOTH within-bin moments —
    * the score variance AND the −2·covariance between score and
    * label inside the bin:
    * WITHIN = Σ_b [(Σs²_b − n_b·conf_b²) − 2(Σs_by_b − n_b·conf_b·acc_b)]/N.
    * (Dropping the covariance term — a common abbreviation — breaks
    * the identity whenever labels correlate with scores inside a bin,
    * i.e. for every real forecaster; with it the identity is an
    * algebraic rearrangement of Σ(s−y)², exact.) ONE row out:
    * (n, base_rate, brier, reliability, resolution, uncertainty,
    * within).
    *
    * Determinism: per-bin count/Σs/Σs² accumulate exactly (the
    * [[calibration]] DECIMAL(28,9) discipline — scores quantized
    * coarser than 9 decimals); every per-bin term rounds to 9 AT
    * BIRTH and folds in bin order; outputs round 6. The identity is
    * then engine-exact to the birth-rounds (spec-checked at 1e-8).
    * Degenerate input (n = 0) reports all-NULL; a constant label
    * still decomposes (UNC = 0).
    *
    * Scale shape: identical to [[calibration]] — one bin-keyed
    * aggregate with map-side partials, ≤B-struct folds, a 1-row
    * result. */
  def brierDecomposition(df: DataFrame, scoreCol: String,
                         labelCol: String, bins: Int = 10): DataFrame = {
    val base = df.select(col(scoreCol).cast("double").as("score"),
        col(labelCol).cast("long").as("lbl"))
      .withColumn("bin", greatest(least(ceil(col("score") * bins),
        lit(bins.toLong)), lit(1L)))
    val perBin = base.groupBy("bin").agg(
      count(lit(1)).as("n"),
      sum("lbl").as("n_pos"),
      sum(col("score").cast("decimal(28,9)")).as("conf_sum"),
      sum(round((col("score") - col("lbl")) * (col("score") - col("lbl")), 9)
        .cast("decimal(28,9)")).as("sq_sum"),
      sum(round(col("score") * col("score"), 9).cast("decimal(28,9)"))
        .as("s2_sum"),
      // Σ s·y per bin — the within-bin covariance numerator (y binary,
      // so this is Σ s over the positives; round-9 at birth like s²)
      sum(round(col("score") * col("lbl"), 9).cast("decimal(28,9)"))
        .as("sy_sum"))
    val folded = perBin
      .groupBy(lit(0).as("__k")).agg(
        sum("n").as("n_tot"), sum("n_pos").as("pos_tot"),
        sum("sq_sum").as("sq_tot"),
        sort_array(collect_list(struct(col("bin"), col("n"),
          col("n_pos"), col("conf_sum"), col("s2_sum"), col("sy_sum"))))
          .as("bins"))
    val baseRate = col("pos_tot").cast("double") / col("n_tot").cast("double")
    val nTotD = "cast(n_tot as double)"
    folded.select(col("n_tot"), col("sq_tot"), col("bins"),
        baseRate.as("base"))
      .select(col("n_tot").as("n"),
        round(col("base"), 6).as("base_rate"),
        round(col("sq_tot").cast("double") / col("n_tot").cast("double"), 6)
          .as("brier"),
        round(expr(
          s"""aggregate(bins, cast(0 as double), (acc, x) -> acc + round(
             |  x.n * (cast(x.conf_sum as double) / x.n
             |         - cast(x.n_pos as double) / x.n)
             |      * (cast(x.conf_sum as double) / x.n
             |         - cast(x.n_pos as double) / x.n) / $nTotD, 9))
             |""".stripMargin), 6).as("reliability"),
        round(expr(
          s"""aggregate(bins, cast(0 as double), (acc, x) -> acc + round(
             |  x.n * (cast(x.n_pos as double) / x.n - base)
             |      * (cast(x.n_pos as double) / x.n - base) / $nTotD, 9))
             |""".stripMargin), 6).as("resolution"),
        round(col("base") * (lit(1.0) - col("base")), 6).as("uncertainty"),
        round(expr(
          s"""aggregate(bins, cast(0 as double), (acc, x) -> acc + round(
             |  ((cast(x.s2_sum as double)
             |    - x.n * (cast(x.conf_sum as double) / x.n)
             |          * (cast(x.conf_sum as double) / x.n))
             |   - 2.0d * (cast(x.sy_sum as double)
             |     - x.n * (cast(x.conf_sum as double) / x.n)
             |           * (cast(x.n_pos as double) / x.n))) / $nTotD, 9))
             |""".stripMargin), 6).as("within"))
  }

  /** SQuAD-style extractive-QA scoring per (prediction, gold) pair:
    * exact match + token-bag F1 (Rajpurkar et al. 2016) — the third
    * eval mode ([[bleuRouge]] n-gram, [[retrievalMetrics]] ranking,
    * this one span extraction). Both sides normalize identically:
    * lowercase, non-alphanumerics to space, split, drop articles
    * (a/an/the) and empties. overlap = Σ_tok min(count_pred,
    * count_gold) (the bag clip, the bleuRouge unigram discipline);
    * precision/recall/F1 are exact integer rationals, one IEEE
    * division each, round-6; both-empty pairs score F1 = 1 and em
    * compares the normalized token arrays (SQuAD's no-answer
    * convention). Zero-path rows never drop: n_pred/n_gold/em come
    * from the un-exploded base, overlap left-joins in.
    *
    * Scale shape: one explode per side into (pair, token) counts and
    * one pair-keyed full-outer join + roll-up — every shuffle keyed on
    * the pair id; no pair sees another's tokens. Unicode note: only
    * [a-z0-9] survives normalization, so engine-specific lowercasing
    * of exotic code points cannot leak into the token bags. */
  def qaTokenF1(pairs: DataFrame, idCol: String, predCol: String,
                goldCol: String): DataFrame = {
    def normToks(c: Column): Column = filter(
      split(trim(regexp_replace(lower(c), "[^a-z0-9]+", " ")), " "),
      t => t =!= "" && not(t.isin("a", "an", "the")))
    val base = pairs.select(col(idCol).as("id"),
      normToks(col(predCol)).as("pt"), normToks(col(goldCol)).as("gt"))
    val stats = base.select(col("id"),
      (col("pt") === col("gt")).cast("int").as("em"),
      size(col("pt")).cast("long").as("n_pred"),
      size(col("gt")).cast("long").as("n_gold"))
    def bag(tokCol: String, side: String) =
      base.select(col("id"), explode(col(tokCol)).as("t"))
        .groupBy("id", "t").agg(count(lit(1)).as(s"c_$side"))
    val overlap = bag("pt", "p").join(bag("gt", "g"), Seq("id", "t"), "full_outer")
      .groupBy("id")
      .agg(sum(least(coalesce(col("c_p"), lit(0L)),
        coalesce(col("c_g"), lit(0L)))).as("overlap"))
    stats.join(overlap, Seq("id"), "left")
      .withColumn("overlap", coalesce(col("overlap"), lit(0L)))
      .select(col("id").as(idCol), col("em"), col("n_pred"), col("n_gold"),
        col("overlap"),
        round(when(col("n_pred") > 0,
          col("overlap").cast("double") / col("n_pred")).otherwise(lit(0.0)), 6)
          .as("precision"),
        round(when(col("n_gold") > 0,
          col("overlap").cast("double") / col("n_gold")).otherwise(lit(0.0)), 6)
          .as("recall"),
        round(when(col("n_pred") + col("n_gold") === 0, lit(1.0))
          .otherwise(lit(2.0) * col("overlap") /
            (col("n_pred") + col("n_gold")).cast("double")), 6).as("f1"))
  }

  /** Unbiased pass@k (Chen et al. 2021, the HumanEval estimator) per
    * task over (task, correct) sample rows: with n samples and c
    * correct, pass@k = 1 − C(n−c, k)/C(n, k), computed numerically
    * stably as 1 − Π_{i=0..k−1} (n−c−i)/(n−i) — the paper's own
    * product form. Tasks with fewer than k samples report NULL
    * (the estimator is undefined there — loud, never a silent clamp),
    * and n−c < k short-circuits to exactly 1.0 before any float op.
    *
    * Determinism: n and c are exact int64; each product term is ONE
    * IEEE division of exact ints; the product folds in ascending i —
    * a fixed k-term op sequence replayed in SQL as an i-ordered
    * list_reduce (init 1.0 vs first-element init agree bitwise:
    * 1.0·t₀ = t₀). One task-keyed aggregation with map-side partials;
    * k is a constant. */
  def passAtK(samples: DataFrame, taskCol: String, correctCol: String,
              k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val agg0 = samples.select(col(taskCol).as("t"),
        col(correctCol).cast("boolean").as("ok"))
      .groupBy("t").agg(count(lit(1)).as("n"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("c"))
    val prod = (0 until k).map(i =>
      (col("n") - col("c") - i).cast("double") / (col("n") - i).cast("double"))
      .foldLeft(lit(1.0))((acc, t) => acc * t)
    agg0.select(col("t").as(taskCol), col("n"), col("c"),
      when(col("n") < k, lit(null).cast("double"))
        .when(col("n") - col("c") < k, lit(1.0))
        .otherwise(round(lit(1.0) - prod, 6)).as(s"pass_at_$k"))
  }

  /** Fleiss' kappa inter-annotator agreement (Fleiss 1971) over
    * (item, category) rating rows — the preference/label-data QA
    * scalar that says whether the annotator pool agrees beyond chance
    * (the companion audit to [[graft.operators.PostTraining
    * .preferenceCycles]]: cycles measure vote consistency, kappa
    * measures rater consistency). Fleiss' statistic requires a FIXED
    * number of ratings per item, so `ratersPerItem` is an explicit
    * parameter of the contract (the retrievalMetrics cutoff lesson:
    * name the denominator, don't infer it): items with any other
    * rating count are dropped and REPORTED in `n_dropped_items` —
    * never silently blended. One output row: (n_items,
    * n_dropped_items, n_raters, n_categories, pbar, pe, kappa).
    *
    * Determinism: the contingency n_ij is exact int64; the agreement
    * numerator Σ_i(Σ_j n_ij² − n) and the chance numerator Σ_j c_j²
    * (c_j = column totals) are exact int64 sums — order-free — and
    * pbar/pe are then ONE IEEE division each of identical bits in any
    * engine; kappa = (pbar−pe)/(1−pe) composes those two doubles with
    * a fixed op sequence, round-6 at output. pe = 1 (every rating in
    * one category) makes kappa 0/0 — returned as 0.0 and named here.
    * Overflow bound: c_j ≤ N·n must stay below ~3·10⁹ for c_j² to fit
    * int64 (the chi2Features bound) — at bigger corpora, kappa over a
    * stratified item sample is the statistic anyway.
    *
    * Scale shape: one item-keyed count (map-side partials) to enforce
    * the rating-count contract, one (item, category)-keyed count, two
    * roll-ups to bounded (item / category) keys, then three 1-row
    * aggregates cross-joined. Nothing row-shaped reaches the driver;
    * the widest shuffle is the (item, category) contingency. */
  /** Krippendorff's alpha (nominal data) over (unit, category) rating
    * rows — the agreement coefficient that, unlike [[fleissKappa]],
    * accepts VARIABLE ratings per unit (real annotation runs are
    * ragged; Fleiss' fixed-n contract drops off-contract items, alpha
    * uses them): alpha = 1 − D_o/D_e with
    * D_o = (1/n)·Σ_u Σ_c n_uc(m_u − n_uc)/(m_u − 1) and
    * D_e = Σ_c n_c(n − n_c) / (n(n−1)), over units with m_u ≥ 2
    * (single-rating units carry no agreement information — dropped
    * and REPORTED, the fleissKappa discipline).
    *
    * Determinism: the only non-commutative piece is D_o's sum of
    * per-unit rationals with DIFFERENT denominators — grouped BY
    * m_u (distinct rater counts, a bounded handful), the inner
    * Σ n_uc(m − n_uc) is an exact int64 per m, and the ≤|{m}| terms
    * round(S_m/(m−1), 9) fold in m order. Everything else is exact
    * int64 with one division each. NAMED bound: n_c·n must stay
    * below 2⁶³ (the chi2 bound, n ≤ ~3·10⁹). D_e = 0 (every rating
    * one category) reports alpha 0.0, named here.
    *
    * Scale shape: unit-keyed count, (unit, category)-keyed count, a
    * roll-up to the bounded m key, three 1-row aggregates cross-
    * joined — the fleissKappa shape with one extra bounded key. */
  def krippendorffAlpha(ratings: DataFrame, unitCol: String,
                        categoryCol: String): DataFrame = {
    val base = ratings.select(col(unitCol).as("u"), col(categoryCol).as("c"))
    val mu = base.groupBy("u").agg(count(lit(1)).as("m"))
    val kept = base.join(mu.filter(col("m") >= 2), Seq("u"))
    val nuc = kept.groupBy("u", "c", "m").agg(count(lit(1)).as("nuc"))
    val byM = nuc.groupBy("m")
      .agg(sum(col("nuc") * (col("m") - col("nuc"))).as("s"))
    val doNum = byM
      .agg(sort_array(collect_list(struct(col("m"), col("s")))).as("xs"))
      .select(expr(
        """aggregate(xs, cast(0 as double), (acc, x) ->
          |  acc + round(CAST(x.s AS DOUBLE) / (x.m - 1), 9))""".stripMargin)
        .as("do_num"))
    val nRow = mu.filter(col("m") >= 2)
      .agg(count(lit(1)).as("n_units"), sum("m").as("n_ratings"))
    val dropped = mu.filter(col("m") < 2)
      .agg(count(lit(1)).as("n_dropped_units"))
    val catTot = kept.groupBy("c").agg(count(lit(1)).as("nc"))
      .crossJoin(broadcast(nRow.select(col("n_ratings").as("nr"))))
      .agg(count(lit(1)).as("n_categories"),
        sum(col("nc") * (col("nr") - col("nc"))).as("de_num"))
    nRow.crossJoin(broadcast(doNum)).crossJoin(broadcast(catTot))
      .crossJoin(broadcast(dropped))
      .withColumn("d_o", col("do_num") / col("n_ratings").cast("double"))
      .withColumn("d_e", col("de_num").cast("double") /
        (col("n_ratings") * (col("n_ratings") - 1L)).cast("double"))
      .select(col("n_units"), col("n_dropped_units"), col("n_ratings"),
        col("n_categories"), round(col("d_o"), 6).as("d_o"),
        round(col("d_e"), 6).as("d_e"),
        when(col("d_e") > 0.0,
          round(lit(1.0) - col("d_o") / col("d_e"), 6))
          .otherwise(lit(0.0)).as("alpha"))
  }

  def fleissKappa(ratings: DataFrame, itemCol: String,
                  categoryCol: String, ratersPerItem: Int): DataFrame = {
    require(ratersPerItem >= 2, "Fleiss' kappa needs >= 2 ratings per item")
    val n = ratersPerItem.toLong
    val base = ratings.select(col(itemCol).as("i"), col(categoryCol).as("c"))
    val perItem = base.groupBy("i").agg(count(lit(1)).as("ni"))
    val kept = base.join(perItem.filter(col("ni") === n).select("i"), Seq("i"))
    val nij = kept.groupBy("i", "c").agg(count(lit(1)).as("nij"))
    val itemTot = nij.groupBy("i")
      .agg((sum(col("nij") * col("nij")) - n).as("agree_num"))
      .agg(count(lit(1)).as("n_items"), sum("agree_num").as("s_agree"))
    val catTot = nij.groupBy("c").agg(sum("nij").as("cj"))
      .agg(count(lit(1)).as("n_categories"),
        sum(col("cj") * col("cj")).as("s_cj2"))
    val droppedTot = perItem.filter(col("ni") =!= n)
      .agg(count(lit(1)).as("n_dropped_items"))
    itemTot.crossJoin(catTot).crossJoin(droppedTot)
      .withColumn("pbar", col("s_agree").cast("double") /
        (col("n_items") * n * (n - 1L)).cast("double"))
      .withColumn("pe", col("s_cj2").cast("double") /
        ((col("n_items") * n) * (col("n_items") * n)).cast("double"))
      .select(col("n_items"), col("n_dropped_items"),
        lit(n).as("n_raters"), col("n_categories"),
        round(col("pbar"), 6).as("pbar"), round(col("pe"), 6).as("pe"),
        when(col("pe") < 1.0,
          round((col("pbar") - col("pe")) / (lit(1.0) - col("pe")), 6))
          .otherwise(lit(0.0)).as("kappa"))
  }

  /** Cohen's kappa (1960) — the PAIRWISE member completing the
    * agreement family ([[fleissKappa]] handles n raters on a shared
    * nominal scale, Krippendorff's alpha arbitrary missingness;
    * Cohen's is the two-rater standard every labeling pipeline
    * reports first). po = agreement fraction, pe = Σ_c pA(c)·pB(c)
    * chance agreement from the raters' OWN marginals, κ =
    * (po − pe)/(1 − pe). All numerators exact int64 (marginal
    * products ≤ n² — the q_chi2 bound); po and pe are one division
    * each, κ composes the unrounded pair, round-6 at output;
    * pe = 1 (a constant pair of raters) pins κ = 0, never NaN.
    * Items where either label is NULL are EXCLUDED and counted. */
  def cohensKappa(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val valid = pairs.filter(col(aCol).isNotNull && col(bCol).isNotNull)
    val agree = valid.agg(count(lit(1)).as("n_items"),
      sum(when(col(aCol) === col(bCol), 1L).otherwise(0L)).as("n_agree"))
    val pe = valid.groupBy(col(aCol).as("c"))
      .agg(count(lit(1)).as("na"))
      .join(valid.groupBy(col(bCol).as("c"))
        .agg(count(lit(1)).as("nb")), Seq("c"), "full_outer")
      .agg(sum(coalesce(col("na"), lit(0L)) * coalesce(col("nb"), lit(0L)))
        .as("pe_num"))
    val dropped = pairs.filter(col(aCol).isNull || col(bCol).isNull)
      .agg(count(lit(1)).as("n_dropped"))
    // n_items = 0 (every pair had a NULL side) would make po and pe 0/0
    // NaN — and NaN < 1.0 is false, so kappa would fall to the
    // otherwise(0.0) branch while po/pe leak NaN. Pin all three to 0.0
    // for the empty valid set (the pe = 1 precedent: never NaN).
    val po = when(col("n_items") > 0,
      col("n_agree").cast("double") / col("n_items").cast("double"))
      .otherwise(lit(0.0))
    val peD = when(col("n_items") > 0,
      col("pe_num").cast("double") /
        (col("n_items") * col("n_items")).cast("double"))
      .otherwise(lit(0.0))
    agree.crossJoin(pe).crossJoin(dropped)
      .select(col("n_items"), col("n_dropped"),
        round(po, 6).as("po"), round(peD, 6).as("pe"),
        when(peD < 1.0, round((po - peD) / (lit(1.0) - peD), 6))
          .otherwise(lit(0.0)).as("kappa"))
  }

  /** Poisson-bootstrap confidence interval (the big-data bootstrap:
    * Chamandy et al., "Estimating Uncertainty for Massive Data
    * Streams", Google 2012): every (replicate, row) pair draws an
    * INDEPENDENT Poisson(1) weight, so B resamples need one pass and
    * no sampling-with-replacement shuffle — the standard way to put
    * error bars on a corpus-level metric (mean quality, mean reward)
    * at any scale. Returns ONE row: (b_replicates, point_est, ci_lo,
    * ci_hi), the interval being exact order statistics of the B
    * replicate means at the given 1-based sorted indexes.
    *
    * Determinism, three layers:
    *  - weights come from integer inverse-CDF thresholds on the
    *    salted 32-bit md5 hash (the [[Sampling.hash32]] draw): the
    *    cumulative Poisson(1) probabilities ×2^32, compared as plain
    *    int64 — no float boundary anywhere in the draw. The tail is
    *    TRUNCATED at w=5 (P ≈ 0.37% of rows absorb it — named, and
    *    identical in both engines by the same thresholds);
    *  - `value` is fixed-pointed to 1e-6 resolution AT BIRTH
    *    (round → int64), so Σ w·x commutes exactly; int64-safe to
    *    ~1.8e12 row-replicates at |value| ≤ 1 (the q_chi2 bound
    *    style);
    *  - each replicate mean is two IEEE ops on exact integers, and
    *    the CI picks from the SORTED B-element list — bounded model
    *    state (B ≈ 40), the k-center argument.
    *
    * Scale shape: the replicate explode multiplies rows ×B map-side,
    * but partial aggregation reduces each partition to B (sum, count)
    * pairs before the exchange — the shuffle carries B·partitions
    * tiny rows regardless of corpus size. */
  def bootstrapCI(df: DataFrame, idCol: String, valueCol: String,
                  replicates: Int = 40, loIdx: Int = 2,
                  hiIdx: Int = 39): DataFrame = {
    require(replicates >= 4 && loIdx >= 1 && hiIdx <= replicates &&
      loIdx < hiIdx, "need sane replicate/index configuration")
    // cumulative Poisson(1) CDF × 2^32, floored: P(<=0..4), tail -> 5
    val th = Seq(1580030168L, 3160060337L, 3950075421L, 4213413783L,
      4279248373L)
    // NULL values must be excluded OUTRIGHT: a null x is skipped by
    // sum() in swx/point numerator, but the row would still contribute
    // its Poisson weight to sw and 1 to the point count — nulls silently
    // acting as zeros biases every mean. Same explicit exclusion
    // contract as sampleByWeight.
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(idCol).cast("string").as("id"),
        round(col(valueCol) * 1e6, 0).cast("long").as("x"))
    val rep = base.select(col("id"), col("x"),
      explode(expr(s"sequence(0, ${replicates - 1})")).as("b"))
    val h = Sampling.hash32(
      concat(col("b").cast("string"), lit("_"), col("id")), "boot_")
    val w = th.zipWithIndex.foldRight(lit(5L): Column) {
      case ((t, i), rest) => when(h < t, i.toLong).otherwise(rest)
    }
    val means = rep.withColumn("w", w)
      .groupBy("b")
      .agg(sum(col("w") * col("x")).as("swx"), sum(col("w")).as("sw"))
      .select(when(col("sw") > 0,
        col("swx").cast("double") / (col("sw").cast("double") * 1e6))
        .otherwise(lit(0.0)).as("mean_b"))
    val point = base.agg(
      (sum(col("x")).cast("double") /
        (count(lit(1)).cast("double") * 1e6)).as("point"))
    means.agg(sort_array(collect_list(col("mean_b"))).as("ms"))
      .crossJoin(point)
      .select(lit(replicates).as("b_replicates"),
        round(col("point"), 6).as("point_est"),
        round(element_at(col("ms"), loIdx), 6).as("ci_lo"),
        round(element_at(col("ms"), hiIdx), 6).as("ci_hi"))
  }

  /** chrF (Popović, WMT 2015): character n-gram F-score over
    * (candidate, reference) pairs — the tokenization-free member of
    * the generation-eval family ([[bleuRouge]] scores word n-grams;
    * chrF is the standard complement for morphologically rich targets
    * and the sacrebleu default chrF2).
    *
    * Definition used (stated precisely because implementations vary):
    * whitespace is REMOVED from both sides (the paper's choice), char
    * n-grams run n = 1..maxN, per-order precision p_n = clipped
    * matches / candidate grams (0 when the candidate has no order-n
    * grams) and recall r_n likewise over reference grams; chrP/chrR
    * are the arithmetic means over ALL maxN orders, and
    * chrF_β = (1+β²)·chrP·chrR / (β²·chrP + chrR), 0 when the
    * denominator is 0.
    *
    * Determinism: every p_n / r_n is one IEEE division of exact
    * integer counts; the order-mean and the F compose +,·,/ only (no
    * transcendentals), in the SAME left-to-right order as the SQL
    * oracle — bit-identical across engines, round-6 for presentation.
    *
    * Scale shape — two measured lessons, both applied (plans timed at
    * sf0.1: interpreted transform-lambda grams 28.9 s; a per-pair
    * sort+fold single expression 36.9 s — interpreted HOF overhead
    * dominates both; codegen generation + gram-keyed exchange 16.6 s;
    * this plan 4.5 s):
    *  1. Generation stays inside WHOLE-STAGE CODEGEN: positions
    *     explode from a `sequence` Generate, ONE `substring` per
    *     position cuts the maxN-char gram (one O(position) byte walk
    *     per position, not one per order — the winnowing lesson,
    *     amortized), and an EXPLICIT CreateArray of its maxN prefixes
    *     posexplodes to (pair, n, gram) rows — no lambda on the hot
    *     path.
    *  2. Gram rows NEVER cross an exchange: both sides stack into one
    *     (pair, side, text) relation of 2 rows/pair which
    *     repartitions by pair id BEFORE generation — HashPartitioning
    *     on a prefix of every downstream grouping key, so the
    *     (id,n,g) side-count aggregation, the (id,n) clip roll-up and
    *     the final (id) pivot all run exchange-free in the same
    *     stage. chrF is a per-pair statistic; the only rows that ever
    *     shuffle are the 2-per-pair stacked texts. */
  def chrF(pairs: DataFrame, idCol: String, candCol: String,
           refCol: String, maxN: Int = 6, beta: Double = 2.0): DataFrame = {
    require(maxN >= 1, "maxN must be positive")
    // strip ALL whitespace (space/tab/newline) per the paper; NULL
    // coalesces to '' so degenerate pairs score explicit zeros
    def stripped(c: String) =
      s"regexp_replace(coalesce(`$c`, ''), '\\\\s+', '')"
    val sides = pairs
      .selectExpr(s"`$idCol` AS id",
        s"stack(2, ${stripped(candCol)}, 0, ${stripped(refCol)}, 1) " +
          "AS (s, side)")
      // explicit partition count: the per-pair gram kernel is
      // CPU-DENSE on few bytes, exactly what AQE's byte-based
      // coalescing mis-sizes (it merged this stage to 11 tasks at
      // sf0.1 and ran 1.9 s of gram counting under-parallel)
      .repartition(pairs.sparkSession.sparkContext.defaultParallelism,
        col("id"))
    val perN = sides
      .select(col("id"), col("side"), col("s"), explode(expr(
        "CASE WHEN length(s) >= 1 THEN sequence(1, length(s)) " +
          "ELSE array() END")).as("p"))
      .select(col("id"), col("side"),
        expr(s"substring(s, p, $maxN)").as("gmax"))
      .select(col("id"), col("side"), posexplode(array(
        (1 to maxN).map(k => substring(col("gmax"), 1, k)): _*)))
      .select(col("id"), col("side"), (col("pos") + 1).as("n"),
        col("col").as("g"))
      // a prefix shorter than its order is the string's tail running
      // out — those positions carry no order-n gram
      .filter(length(col("g")) === col("n"))
      .groupBy("id", "n", "g")
      .agg(sum(when(col("side") === 0, 1L).otherwise(0L)).as("c_cand"),
        sum(when(col("side") === 1, 1L).otherwise(0L)).as("c_ref"))
      .groupBy("id", "n")
      .agg(
        sum(least(col("c_cand"), col("c_ref"))).as("clip"),
        sum(col("c_cand")).as("tc"),
        sum(col("c_ref")).as("tr"))
    // per-order precision/recall, then the order MEAN as an explicit
    // left-to-right sum of the maxN terms (matching the SQL oracle's
    // expression order bit-for-bit)
    val wide0 = perN.groupBy("id").agg(
      max(when(col("n") === 1, col("tc"))).as("len_cand"),
      (Seq(max(when(col("n") === 1, col("tr"))).as("len_ref")) ++
        (1 to maxN).flatMap { n =>
          Seq(max(when(col("n") === n, col("clip"))).as(s"clip$n"),
            max(when(col("n") === n, col("tc"))).as(s"tc$n"),
            max(when(col("n") === n, col("tr"))).as(s"tr$n"))
        }): _*)
    val wide = pairs.select(col(idCol).as("id")).distinct()
      .join(wide0, Seq("id"), "left")
    def ratio(num: Int => String, den: Int => String)(n: Int) =
      when(coalesce(col(den(n)), lit(0L)) > 0,
        coalesce(col(num(n)), lit(0L)).cast("double") /
          col(den(n)).cast("double")).otherwise(lit(0.0))
    val pN = ratio(n => s"clip$n", n => s"tc$n") _
    val rN = ratio(n => s"clip$n", n => s"tr$n") _
    val chrP = (2 to maxN).foldLeft(pN(1))((acc, n) => acc + pN(n)) /
      lit(maxN.toDouble)
    val chrR = (2 to maxN).foldLeft(rN(1))((acc, n) => acc + rN(n)) /
      lit(maxN.toDouble)
    val b2 = beta * beta
    val f = when(lit(b2) * chrP + chrR > 0.0,
      lit(1.0 + b2) * chrP * chrR / (lit(b2) * chrP + chrR))
      .otherwise(lit(0.0))
    wide.select(col("id").as(idCol),
      coalesce(col("len_cand"), lit(0L)).as("len_cand"),
      coalesce(col("len_ref"), lit(0L)).as("len_ref"),
      round(chrP, 6).as("chrp"), round(chrR, 6).as("chrr"),
      round(f, 6).as("chrf"))
  }
}
