package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM subword segmentation — the SentencePiece family (Kudo
  * 2018): each word takes the segmentation MINIMIZING total piece
  * cost, cost(piece) = round(ln(total/cnt), 9), found by Viterbi
  * dynamic programming over character positions. The THIRD subword
  * family under the oracle next to [[Bpe]] (bottom-up merges) and
  * [[WordPiece]] (greedy top-down): unigram is the only one that
  * optimizes a GLOBAL objective per word, so it can recover from a
  * locally-attractive prefix that greedy WordPiece would take.
  *
  * Determinism: piece costs are round-9 AT BIRTH (computed through
  * Spark SQL's own round(ln(·),9) on exact integer counts, the
  * naive-Bayes discipline); each DP cell best[j] = min over ≤L
  * candidates of best[j−l] + cost — a fixed-order IEEE sum of two
  * doubles per candidate, compared via struct ordering on
  * (cost, −l) so exact ties resolve to the LONGEST last piece, a
  * NAMED rule replayed in SQL as ORDER BY cost, l DESC. The oracle
  * replays the whole DP through an INDEPENDENT relational
  * formulation (one materialized CTE per position + a backtrack
  * chain), the WordPiece cross-check posture.
  *
  * Scale shape: the DP runs ONCE PER DISTINCT WORD (the WordPiece
  * re-plan): tokens explode to (doc, idx, word), DISTINCT words run
  * the fold, results join back and re-assemble per doc with an
  * index-ordered fold for the cost sum. Higher-order-function folds
  * are interpreted (no whole-stage codegen) and the vocab literal is
  * a linear-scan map, so per-occurrence evaluation was the 113 s
  * version of this query; distinct-word encoding measured
  * 113.5 → ~2 s at sf0.1 (BASELINE.md round-9 notes). The backtrack
  * re-derives the DP table per step — O(len²·L) per distinct word
  * under the 16-char contract, named and flat. Words beyond
  * `maxWordLen` become [UNK] at cost 0 (the EXPLICIT length contract
  * shared with WordPiece, which also bounds the oracle's replay
  * rounds). */
object Unigram {

  /** Frequency-derived unigram vocabulary: every corpus character
    * (so segmentation is total by construction) plus the `topK` most
    * frequent pieces of length 2..maxPieceLen, counted per occurrence
    * over words within the length contract; cost = round(ln(total /
    * cnt), 9) with total = Σ cnt over the SELECTED vocab. Costs are
    * computed through Spark SQL's round/ln on a bounded local table
    * so they carry the exact bits DuckDB's round(ln(·),9) reproduces.
    * Driver state: |charset| + topK (piece, cost) pairs. */
  def buildVocab(docs: DataFrame, textCol: String, topK: Int = 25,
                 maxPieceLen: Int = 4, maxWordLen: Int = 16)
      : Seq[(String, Double)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // piece counting explodes every (word, start, len) — CPU-dense
    // over an unsplittable small scan without the spread (no-op at scale)
    val wtok = graft.core.Par.spreadForCpu(docs, col(textCol))
      .select(explode(filter(split(col(textCol), " "),
        w => length(w) > 0)).as("w"))
      .filter(length(col("w")) <= maxWordLen)
    val starts = wtok.select(col("w"),
      explode(sequence(lit(0), length(col("w")) - 1)).as("s"))
    val pieceCols = (1 to maxPieceLen).map { l =>
      when(col("s") + l <= length(col("w")),
        col("w").substr(col("s") + 1, lit(l)))
    }
    val counts = starts
      .select(explode(array(pieceCols: _*)).as("p"))
      .filter(col("p").isNotNull)
      .groupBy("p").agg(count(lit(1)).as("cnt"))
    val singles = counts.filter(length(col("p")) === 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val multi = counts.filter(length(col("p")) >= 2)
      .orderBy(desc("cnt"), asc("p")).limit(topK)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val sel = (singles ++ multi).toSeq
    val total = sel.map(_._2).sum
    // round(ln(total/cnt), 9) through Spark SQL itself — identical
    // bits to every other round-at-birth ln in the suite
    sel.toDF("p", "cnt")
      .select(col("p"),
        expr(s"round(ln(CAST(${total}L AS DOUBLE) / cnt), 9)").as("cost"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
  }

  /** Viterbi-encode every single-space-separated word and flatten to
    * (id, us_tokens, n_us, cost): token strings per row, count, and
    * the summed per-word optimal costs folded in word order. */
  def encode(docs: DataFrame, idCol: String, textCol: String,
             vocab: Seq[(String, Double)], maxPieceLen: Int = 4,
             maxWordLen: Int = 16, unk: String = "[UNK]"): DataFrame = {
    require(maxPieceLen >= 1 && maxWordLen >= 1, "length caps must be positive")
    // the Viterbi DP (forward cells + backtrack) is one compiled
    // kernel per distinct word
    // ([[graft.plans.TokenizerExpressions.unigram_viterbi]]) — the
    // fold formulation's exact semantics: struct-min (cost, −l) tie
    // break to the longest piece via Double.compare, dead cells at
    // the 1e18 sentinel, the 1e17 [UNK] threshold, IEEE additions in
    // the identical order; the SQL oracle's independent per-position
    // CTE replay is unchanged
    val tok = graft.core.Par.spreadForCpu(docs, col(idCol))
      .select(col(idCol),
        posexplode(filter(split(col(textCol), " "), w => length(w) > 0)))
      .toDF(idCol, "i", "w")
    val encoded = tok.select("w").distinct()
      .withColumn("pw", graft.plans.TokenizerExpressions.unigram_viterbi(
        col("w"), vocab.toMap, maxPieceLen, maxWordLen, unk))
    val perDoc = tok.join(encoded, "w")
      .groupBy(idCol)
      .agg(sort_array(collect_list(struct(col("i"), col("pw")))).as("xs"))
      .select(col(idCol),
        flatten(transform(col("xs"), x => x.getField("pw").getField("toks")))
          .as("us_tokens"),
        aggregate(col("xs"), lit(0.0),
          (a, x) => a + x.getField("pw").getField("cost")).as("cost_raw"))
    // all-empty docs fall out of posexplode: restore them with []/0.0
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("us_tokens"), array().cast("array<string>"))
          .as("us_tokens"),
        coalesce(col("cost_raw"), lit(0.0)).as("cost_raw"))
      .select(col(idCol), col("us_tokens"),
        size(col("us_tokens")).cast("long").as("n_us"),
        round(col("cost_raw"), 6).as("cost"))
  }
}
