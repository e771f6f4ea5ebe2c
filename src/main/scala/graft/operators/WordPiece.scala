package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** WordPiece tokenization — the BERT family's encoder (Devlin et al.
  * 2019; the greedy algorithm is spelled out in the BERT repo's
  * tokenization code and in Wu et al. 2016's WordPiece description):
  * per word, repeatedly take the LONGEST vocabulary piece that
  * prefixes the remainder, prefixing non-initial pieces with "##";
  * a word that cannot be covered (or exceeds the length contract)
  * becomes one [UNK] token. Complements [[Bpe]]: BPE applies learned
  * MERGES bottom-up, WordPiece matches a VOCABULARY top-down — the
  * two dominant subword families, now both under the oracle.
  *
  * Determinism: pure integer/string arithmetic — the greedy walk is a
  * left fold over character positions (acc = (next position, tokens,
  * failed)), the longest-match probe is a fixed maxPieceLen..1
  * cascade of map lookups against the vocab LITERAL, and ties cannot
  * exist (lengths are distinct by construction). The SQL oracle
  * replays the walk through an INDEPENDENT formulation — a per-(word,
  * position) max-match-length table followed by bounded materialized
  * join rounds — so agreement checks the algorithm, not a shared
  * implementation.
  *
  * Scale shape: the greedy walk runs ONCE PER DISTINCT WORD, not per
  * occurrence — tokens explode to (doc, idx, word), DISTINCT words
  * encode through the fold, results join back and re-assemble per
  * doc (an index-ordered fold). Zipf makes the distinct-word table
  * orders of magnitude smaller than the occurrence stream, and the
  * fold is interpreted expression code (higher-order functions don't
  * enter whole-stage codegen), so per-occurrence evaluation is the
  * difference between seconds and minutes: measured 25.4 → 1.5 s at
  * sf0.1 (BASELINE.md round-9 notes). All three shuffles (distinct,
  * join-back, doc regroup) are word- or doc-keyed — linear. The
  * length contract is EXPLICIT (the fleissKappa lesson): words longer
  * than `maxWordLen` encode as [UNK] — BERT's own
  * max_input_chars_per_word rule — which also bounds the oracle's
  * replay rounds. */
object WordPiece {

  /** Encode every single-space-separated word of `textCol` and
    * flatten to one token-string array per row, plus its length.
    * `vocab` must contain BOTH forms explicitly ("ab" and "##ab" are
    * distinct entries, BERT-style); pieces longer than `maxPieceLen`
    * are never probed (the vocab builder's own cap — probing is a
    * fixed-length cascade, so the cap is part of the contract). */
  def encode(docs: DataFrame, idCol: String, textCol: String,
             vocab: Seq[String], maxPieceLen: Int = 4,
             maxWordLen: Int = 16, unk: String = "[UNK]"): DataFrame = {
    require(maxPieceLen >= 1 && maxWordLen >= 1, "length caps must be positive")
    // the greedy walk is one compiled kernel per distinct word
    // ([[graft.plans.TokenizerExpressions.wordpiece_greedy]] — hash
    // vocab lookups instead of the old interpreted fold probing a
    // linear-scan map literal; identical longest-match/##/[UNK]
    // semantics, and the SQL oracle's independent max-match-length
    // replay is unchanged)
    // tokenize/explode + the distinct-word greedy walk are CPU-dense:
    // spread unsplittable small scans (no-op at scale, Par.spreadForCpu)
    val tok = graft.core.Par.spreadForCpu(docs, col(idCol))
      .select(col(idCol),
        posexplode(filter(split(col(textCol), " "), w => length(w) > 0)))
      .toDF(idCol, "i", "w")
    val encoded = tok.select("w").distinct()
      .withColumn("toks", graft.plans.TokenizerExpressions.wordpiece_greedy(
        col("w"), vocab.toSet, maxPieceLen, maxWordLen, unk))
    val perDoc = tok.join(encoded, "w")
      .groupBy(idCol)
      .agg(sort_array(collect_list(struct(col("i"), col("toks")))).as("xs"))
      .select(col(idCol),
        flatten(transform(col("xs"), x => x.getField("toks")))
          .as("wp_tokens"))
    // all-empty docs fall out of posexplode: restore them with []
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("wp_tokens"), array().cast("array<string>"))
          .as("wp_tokens"))
      .withColumn("n_wp", size(col("wp_tokens")).cast("long"))
  }

  /** Frequency-ranked vocabulary: ALL single characters (both initial
    * and "##" continuation forms — so charset coverage makes mid-word
    * failure impossible and [UNK] fires only on the length contract)
    * plus the `topK` most frequent position-aware pieces of length
    * 2..maxPieceLen, counted per occurrence over words within the
    * length contract, ties by piece string. A standard simplification
    * of WordPiece training (the released BERT vocabs are themselves
    * frequency-built subword inventories); the operator under test is
    * the ENCODER — this builder exists so fixtures and oracle derive
    * the identical vocab from the corpus alone. Driver state: topK +
    * charset strings (bounded model state, the BPE-merges posture). */
  def buildVocab(docs: DataFrame, textCol: String, topK: Int = 25,
                 maxPieceLen: Int = 4, maxWordLen: Int = 16): Seq[String] = {
    // piece counting explodes every (word, start, len) — CPU-dense
    // over an unsplittable small scan without the spread (no-op at scale)
    val wtok = graft.core.Par.spreadForCpu(docs, col(textCol))
      .select(explode(filter(split(col(textCol), " "),
        w => length(w) > 0)).as("w"))
      .filter(length(col("w")) <= maxWordLen)
    val chars = wtok
      .select(explode(array_distinct(
        split(trim(regexp_replace(col("w"), "(.)", "$1 ")), " "))).as("c"))
      .filter(col("c") =!= "")
      .distinct().collect().map(_.getString(0)).toSeq.sorted
    val starts = wtok.select(col("w"),
      explode(sequence(lit(0), length(col("w")) - 1)).as("s"))
    val pieceCols = (2 to maxPieceLen).map { l =>
      when(col("s") + l <= length(col("w")),
        concat(when(col("s") > 0, lit("##")).otherwise(lit("")),
          col("w").substr(col("s") + 1, lit(l))))
    }
    val top = starts
      .select(explode(array(pieceCols: _*)).as("p"))
      .filter(col("p").isNotNull)
      .groupBy("p").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("p")).limit(topK)
      .collect().map(_.getString(0)).toSeq
    (chars ++ chars.map("##" + _) ++ top).distinct
  }
}
