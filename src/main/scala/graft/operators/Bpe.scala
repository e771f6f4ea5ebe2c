package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer TRAINING on-cluster (Sennrich et al.
  * 2016): repeatedly merge the most frequent adjacent symbol pair.
  * The training loop the big tokenizers run offline, expressed in the
  * engine's own operators so the corpus never leaves the cluster.
  *
  * 100 TB posture: the corpus is touched ONCE (word-frequency
  * aggregation — map-side partials, one shuffle; the vocabulary is
  * Heaps'-law sublinear in corpus size). Every merge round then runs
  * over the VOCABULARY table only: pair counting is one map-side
  * explode + one shuffle on the pair key, the argmax is a top-1
  * TakeOrderedAndProject (never a full sort), and the merge itself is
  * a map-side string replace. Driver state is one (pair, count) row
  * per round — bounded model state, the same discipline as the IVF
  * centroids. Determinism: ties break by (count DESC, pair ASC) in
  * BINARY string order, identical in any engine, so the whole merge
  * table is oracle-checkable.
  */
object Bpe {

  /** ONE corpus pass: word frequencies, then the symbol string
    * ('h e l l o') every merge round rewrites. Callers persist —
    * each round's pair count re-reads this small table, not the
    * corpus. NOT Par.spreadForCpu-spread (round 17): the explode
    * feeds a map-side partial agg directly, so the extra exchange
    * measured ~+0.3 s on every BPE query with no stage to
    * parallelize. */
  private def wordTable(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .withColumn("sym", trim(regexp_replace(col("w"), "(.)", "$1 ")))

  /** The merge-selection loop over a persisted word table: `rounds`
    * rounds numbered from `from`, each picking the (count DESC, pair
    * ASC) argmax via a top-1 TakeOrderedAndProject and rewriting the
    * symbol strings map-side. Stops early when no pair remains. */
  private def mergeRounds(words0: DataFrame, from: Int,
      rounds: Int): Seq[(Int, String, String, Long)] = {
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var cur = words0
    var r = from
    var done = false
    while (r < from + rounds && !done) {
      val pairs = cur
        .select(col("cnt"), split(col("sym"), " ").as("ss"))
        // guard: Spark's sequence(1, 0) yields a DESCENDING ramp,
        // not empty — single-symbol words must be filtered out
        .filter(size(col("ss")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(ss) - 1), " +
            "i -> concat(element_at(ss, i), ' ', element_at(ss, i + 1)))"))
          .as("pair"))
      val top = pairs.groupBy("pair").agg(sum("cnt").as("c"))
        .orderBy(desc("c"), asc("pair")).limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val pair = top(0).getString(0)
        val n = top(0).getLong(1)
        val merged = pair.replace(" ", "")
        out += ((r, pair, merged, n))
        // non-overlapping left-to-right replace — the same greedy
        // semantics in Java and SQL engines, so rounds replay exactly.
        // Column API with lit(), not a SQL string: interpolating a
        // corpus-derived pair into a literal would re-enter the SQL
        // parser's backslash-escape handling and corrupt pairs
        // containing '\' (common in code-like corpora).
        cur = cur.withColumn("sym", replace(col("sym"), lit(pair), lit(merged)))
        r += 1
      }
    }
    out.result()
  }

  /** Train `rounds` merges over whitespace words of `textCol`.
    * Returns one row per round: (round, pair, merged, n) where `pair`
    * is the space-separated symbol pair chosen at that round and `n`
    * its weighted occurrence count at selection time. */
  def trainMerges(docs: DataFrame, textCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 64, s"rounds=$rounds out of range")
    val spark = docs.sparkSession
    val words0 = wordTable(docs, textCol).persist()
    try spark.createDataFrame(mergeRounds(words0, 1, rounds))
      .toDF("round", "pair", "merged", "n")
    finally words0.unpersist()
  }

  /** [[trainMerges]] + [[vocab]] from ONE corpus pass (round 17): the
    * merge loop and the alphabet both derive from the same persisted
    * word-frequency table — the alphabet is the distinct code points
    * of the DISTINCT WORDS, provably the corpus alphabet (words
    * contain no ' ', and the `(.)` split mechanism is identical), so
    * the separate vocab() corpus scan disappears. Returns merges in
    * round order and the vocab; both byte-identical to the two-call
    * sequence (BpeSpec pins the equality). */
  def trainAndVocab(docs: DataFrame, textCol: String, rounds: Int)
      : (Seq[(String, String)], Seq[(String, Long)]) = {
    require(rounds >= 1 && rounds <= 64, s"rounds=$rounds out of range")
    val words0 = wordTable(docs, textCol).persist()
    try {
      val rows = mergeRounds(words0, 1, rounds)
      val merges = rows.map { case (_, pair, merged, _) => (pair, merged) }
      val alpha = words0
        .select(explode(array_distinct(
          split(trim(regexp_replace(col("w"), "(.)", "$1 ")), " "))).as("c"))
        .filter(col("c") =!= "")
        .distinct()
        .collect().map(_.getString(0)).toSeq
        .sortBy(_.codePointAt(0))
      (merges, vocabEntries(alpha, merges))
    } finally words0.unpersist()
  }

  /** Shared vocab assembly: code points in code-point order, then one
    * entry per merge in training order; duplicate strings first-wins
    * (min id) — see [[vocab]]. */
  private def vocabEntries(alpha: Seq[String],
      merges: Seq[(String, String)]): Seq[(String, Long)] = {
    val entries = alpha.zipWithIndex.map { case (c, i) => (c, i.toLong) } ++
      merges.zipWithIndex.map { case ((_, m), i) => (m, (alpha.size + i).toLong) }
    entries.groupBy(_._1).view.mapValues(_.map(_._2).min).toSeq.sortBy(_._2)
  }

  /** INCREMENTAL training: continue a frozen merge list with `rounds`
    * NEW merges learned from (possibly different) `docs` — the
    * new-data-batch story of the incremental-dedup family applied to
    * the tokenizer: the standing vocabulary is immutable (ids already
    * shipped in trained models), and fresh corpus batches extend it.
    * Numbering continues from `existing.size + 1`, and by construction
    * `trainMerges(d, k + r) == trainMerges(d, k) ++ continueMerges(d,
    * firstK, r)` on an unchanged corpus (BpeSpec pins it). Same scale
    * shape as [[trainMerges]]: ONE corpus pass (existing merges are
    * applied to the word table map-side during that pass), then
    * vocab-table rounds. */
  def continueMerges(docs: DataFrame, textCol: String,
      existing: Seq[(String, String)], rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 64, s"rounds=$rounds out of range")
    val spark = docs.sparkSession
    val words0 = wordTable(docs, textCol)
      .withColumn("sym", existing.foldLeft(
        trim(regexp_replace(col("w"), "(.)", "$1 "))) {
        case (c, (pair, merged)) => replace(c, lit(pair), lit(merged))
      })
      .persist()
    try spark.createDataFrame(
        mergeRounds(words0, existing.size + 1, rounds))
      .toDF("round", "pair", "merged", "n")
    finally words0.unpersist()
  }

  /** Vocabulary for [[encode]]: every distinct corpus CODE POINT (ids
    * 0..A-1 in code-point order) followed by one entry per merge in
    * training order (id A+round-1). Distinct merges CAN compose the
    * same string ('a bc' and 'ab c' both yield 'abc'); first-wins,
    * the rule the oracle replays with min(id).
    *
    * Engine determinism on NON-ASCII corpora, by construction:
    *  - the alphabet is extracted with the SAME `(.)` regex split the
    *    symbol/encode paths use. Java regex `.` matches a full code
    *    point (one match per astral emoji), exactly like RE2's `.` in
    *    UTF-8 mode — unlike `split(text, "")`, which fractures
    *    supplementary characters into lone UTF-16 surrogates that no
    *    other engine produces (the pre-round-7 OOV hole);
    *  - ids are assigned by an explicit DRIVER-side code-point sort
    *    (each entry is a single code point, so `codePointAt(0)` is
    *    total), which equals UTF-8 binary order — the ordering DuckDB
    *    replays with a plain ORDER BY — independent of any engine
    *    collation configuration.
    * Because the alphabet and the encode symbol split share one
    * mechanism, every symbol the encoder can emit over the training
    * corpus is in the vocab: OOV on the training corpus is impossible
    * by construction (frozen-vocab encode of NEW text still surfaces
    * unseen code points as NULL ids — loud, never silent;
    * [[encodeFallback]] closes even that hole with GPT-2-style byte
    * ids).
    *
    * The alphabet scan explodes per-doc DISTINCT characters (bounded
    * by charset size per doc, never corpus length), and the result is
    * bounded driver model state — |alphabet| + |merges| entries, the
    * same discipline as the merge table itself. */
  def vocab(docs: DataFrame, textCol: String,
      merges: Seq[(String, String)]): Seq[(String, Long)] = {
    // Alphabet via DISTINCT WORDS, not the raw corpus: the `(.)` regex
    // costs O(text), and running it on the deduplicated word table
    // (Heaps'-law sublinear) instead of every document cuts the scan
    // kernel by the word-repetition factor AND moves the regex behind
    // the distinct exchange, off the unsplittable 1-task scan
    // (round-17 profile: the alphabet pass was a multi-second 1-task
    // stage in every BPE query). Equivalent by construction: words
    // contain no ' ' (the split key), and `(.)` is applied with the
    // identical mechanism the symbol/encode paths use, so the distinct
    // symbol set over distinct words equals the one over the corpus —
    // including the non-DOTALL newline quirk, which fractures the same
    // way in both formulations.
    val alpha = docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .distinct()
      .select(explode(array_distinct(
        split(trim(regexp_replace(col("w"), "(.)", "$1 ")), " "))).as("c"))
      .filter(col("c") =!= "")
      .distinct()
      .collect().map(_.getString(0)).toSeq
      .sortBy(_.codePointAt(0))
    vocabEntries(alpha, merges)
  }

  /** Word-structured encode: `array<array<bigint>>` — one inner array
    * of token ids per word, preserving the word boundaries the flat
    * [[encode]] stream drops. The invertible form: [[decodeWords]]
    * reconstructs the exact text (single-space joined), and the
    * round-trip is what proves the vocab/merge tables actually carry
    * the corpus' information. Same zero-shuffle map-pass shape as
    * [[encode]]. */
  def encodeWords(docs: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)], vocab: Seq[(String, Long)]): DataFrame =
    docs.select(col(idCol),
      graft.plans.TokenizerExpressions
        .bpe_word_ids(col(textCol), merges, vocab).as("bpe_word_ids"))

  /** Inverse of [[encodeWords]]: token ids → token strings (reverse
    * vocab map literal), concatenated per word, words joined by one
    * space. `decodeWords(encodeWords(text)) == text` for any
    * single-spaced corpus — BpeSpec proves the round-trip on real
    * fixture docs. */
  def decodeWords(wordIds: org.apache.spark.sql.Column,
      vocab: Seq[(String, Long)]): org.apache.spark.sql.Column = {
    val rmap = typedLit(vocab.map { case (t, i) => (i, t) }.toMap)
    array_join(transform(wordIds, ids =>
      array_join(transform(ids, i => element_at(rmap, i)), "")), " ")
  }

  /** Re-tokenize to the actual BPE token ID SEQUENCE per doc — the
    * dataloader-facing sibling of [[applyMerges]]: per-word symbol
    * split, merges applied in training order, each resulting symbol
    * looked up in the vocab. One compiled kernel per document
    * ([[graft.plans.TokenizerExpressions.bpe_ids]] — hash vocab
    * probes and java String.replace with the identical left-to-right
    * non-overlapping semantics as the Spark `replace` chain the SQL
    * oracles replay), still a zero-shuffle map pass. Empty words
    * (doubled-separator split artifacts) are dropped identically on
    * both engines; a symbol missing from the vocab surfaces as a
    * NULL id — loud, never silently skipped. */
  def encode(docs: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)], vocab: Seq[(String, Long)]): DataFrame =
    docs.select(col(idCol),
      graft.plans.TokenizerExpressions
        .bpe_ids(col(textCol), merges, vocab).as("bpe_ids"))
      .withColumn("n_bpe", size(col("bpe_ids")).cast("long"))

  /** [[encode]] with GPT-2-style BYTE FALLBACK: a symbol absent from
    * the vocab encodes as its UTF-8 bytes, one id per byte, in the
    * reserved id range `[base, base + 256)` where
    * `base = max(vocab id) + 1` — so OOV is impossible BY CONSTRUCTION
    * on ANY input, not just the training corpus. The paths that encode
    * HELD-OUT text (decontamination probes, eval sets, SFT data the
    * tokenizer never trained on) hit exactly this: plain [[encode]]
    * surfaces their unseen code points as NULL ids (loud), this
    * variant degrades them to byte ids instead (usable). In-vocab
    * symbols take the identical id as [[encode]], so on the training
    * corpus the two functions agree id-for-id.
    *
    * Still a zero-shuffle codegen'd map pass, and still portable SQL:
    * the byte expansion is `hex(encode(sym, 'utf-8'))` cut into
    * 2-char byte pairs — builtins on both engines, so the oracle
    * replays fallback ids bit-for-bit. */
  def encodeFallback(docs: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)], vocab: Seq[(String, Long)]): DataFrame = {
    val vmap = typedLit(vocab.toMap)
    val base = vocab.map(_._2).max + 1
    def symIds(t: org.apache.spark.sql.Column) = {
      val utf8 = org.apache.spark.sql.functions.encode(t, "UTF-8")
      val h = hex(utf8)
      val byteIds = transform(sequence(lit(1), length(utf8)),
        i => lit(base) + conv(h.substr(i * 2 - 1, lit(2)), 16, 10).cast("long"))
      when(element_at(vmap, t).isNotNull, array(element_at(vmap, t)))
        .otherwise(byteIds)
    }
    def wordIds(w: org.apache.spark.sql.Column) = {
      val sym = merges.foldLeft(trim(regexp_replace(w, "(.)", "$1 "))) {
        case (c, (pair, merged)) => replace(c, lit(pair), lit(merged))
      }
      flatten(transform(split(sym, " "), symIds(_)))
    }
    docs.select(col(idCol),
      flatten(transform(
        filter(split(col(textCol), " "), w => length(w) > 0),
        wordIds(_))).as("bpe_ids"))
      .withColumn("n_bpe", size(col("bpe_ids")).cast("long"))
      .withColumn("n_fallback",
        size(filter(col("bpe_ids"), id => id >= base)).cast("long"))
  }

  /** Persist a trained tokenizer (ordered merge list + vocab) as two
    * parquet tables under `path` — the artifact a training run ships
    * so every later job (and every OTHER engine that reads parquet)
    * re-tokenizes with the identical id mapping. Merge ORDER is the
    * model (BPE applies merges in training order), so it is stored as
    * an explicit `ord` column, never directory order. */
  def save(spark: org.apache.spark.sql.SparkSession, path: String,
           merges: Seq[(String, String)], vocab: Seq[(String, Long)]): Unit = {
    import spark.implicits._
    merges.zipWithIndex.map { case ((p, m), i) => (i, p, m) }
      .toDF("ord", "pair", "merged")
      .repartition(1).write.mode("overwrite").parquet(s"$path/merges")
    vocab.toDF("tok", "id")
      .repartition(1).write.mode("overwrite").parquet(s"$path/vocab")
  }

  /** Inverse of [[save]]: (merges in training order, vocab by id).
    * `encode(load(save(m, v))) == encode(m, v)` — BpeSpec pins the
    * round-trip on real fixture docs. */
  def load(spark: org.apache.spark.sql.SparkSession,
           path: String): (Seq[(String, String)], Seq[(String, Long)]) = {
    val m = spark.read.parquet(s"$path/merges")
      .orderBy("ord").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val v = spark.read.parquet(s"$path/vocab")
      .orderBy("id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    (m, v)
  }

  /** Re-tokenize `textCol` with a trained merge list: per-word symbol
    * split, merges applied in training order, symbols counted. The
    * apply side of [[trainMerges]] — a ZERO-shuffle map pass (merges
    * are literals in the plan; the whole per-doc count is one
    * transform+aggregate over the word array, no explode/groupBy),
    * emitting the per-doc BPE token count. */
  def applyMerges(docs: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    def wordTokens(w: org.apache.spark.sql.Column) = {
      val sym = merges.foldLeft(trim(regexp_replace(w, "(.)", "$1 "))) {
        case (c, (pair, merged)) => replace(c, lit(pair), lit(merged))
      }
      size(split(sym, " ")).cast("long")
    }
    docs.select(col(idCol),
      aggregate(transform(split(col(textCol), " "), wordTokens(_)),
        lit(0L), _ + _).as("n_bpe_tokens"))
  }
}
