package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Post-training (SFT / preference-tuning) data preparation — the
  * stage after the pretraining curation the rest of this package
  * covers: multi-turn conversations are rendered into a chat template,
  * supervised examples get loss masks over their prompt tokens, and
  * preference pairs (chosen, rejected) are mined per prompt for
  * DPO/RLHF-style optimization.
  *
  * Everything here is deterministic (integer ids, exact string
  * assembly, total-order tiebreaks), so the materialized training
  * examples themselves are oracle-checkable — the same discipline as
  * the span-corruption/FIM example materialization in [[Denoise]].
  *
  * Scale shape: one shuffle each. [[renderChat]] groups by
  * conversation (conversations are bounded — thousands of turns at the
  * pathological tail, never corpus-sized), [[lossMask]] is a
  * ZERO-shuffle map pass over already-encoded word arrays, and
  * [[dpoPairs]] is two row_number windows over one hash partitioning
  * of the candidate table (both windows share the prompt-key exchange;
  * candidate sets per prompt are bounded by the sampler's N).
  */
object PostTraining {

  /** Flatten (conversation, turn, role, message) rows into one rendered
    * chat-template string per conversation (ChatML-style
    * `<|im_start|>role\nmessage<|im_end|>` blocks joined by newlines,
    * after a fixed system preamble).
    *
    * collect_list carries (turn, role, message) structs through ONE
    * groupBy shuffle; array_sort on the leading turn ordinal makes the
    * assembly order total and engine-independent regardless of arrival
    * order — rendered output is byte-deterministic. */
  def renderChat(turns: DataFrame, convCol: String, turnCol: String,
      roleCol: String, msgCol: String,
      systemPrompt: String = "You are a helpful assistant."): DataFrame = {
    val sorted = array_sort(collect_list(
      struct(col(turnCol).as("t"), col(roleCol).as("role"),
        col(msgCol).as("msg"))))
    turns.groupBy(col(convCol))
      .agg(count(lit(1)).as("n_turns"), sorted.as("ts"))
      .select(col(convCol), col("n_turns"),
        concat(
          lit(s"<|im_start|>system\n$systemPrompt<|im_end|>\n"),
          array_join(transform(col("ts"), t =>
            concat(lit("<|im_start|>"), t.getField("role"), lit("\n"),
              t.getField("msg"), lit("<|im_end|>"))), "\n")).as("rendered"))
  }

  /** SFT loss-masking over word-structured BPE ids
    * ([[Bpe.encodeWords]] output): the first `promptWords` words of
    * each example are the prompt — their token ids are replaced by the
    * `ignoreIndex` sentinel (-100, the cross-entropy ignore_index
    * convention) in the label stream, while input_ids keep the full
    * sequence. Returns (id, input_ids, labels, n_masked).
    *
    * Masking at the WORD boundary (not a character offset) is what the
    * word-structured encode exists for: the prompt/response split point
    * is exact under any merge table, with no partial-token ambiguity.
    * Zero-shuffle: one transform-with-index over the nested arrays,
    * fused into whatever scan produced the encode. */
  def lossMask(encodedWords: DataFrame, idCol: String, wordIdsCol: String,
      promptWords: Column, ignoreIndex: Long = -100L): DataFrame =
    encodedWords.select(col(idCol),
      flatten(col(wordIdsCol)).as("input_ids"),
      flatten(transform(col(wordIdsCol), (word, i) =>
        when(i.cast("long") < promptWords,
          transform(word, _ => lit(ignoreIndex))).otherwise(word)))
        .as("labels"))
      .withColumn("n_masked",
        size(filter(col("labels"), _ === lit(ignoreIndex))).cast("long"))

  /** Preference-pair mining: per prompt, pair the highest-scoring
    * candidate (chosen) with the lowest-scoring one (rejected), both
    * under the total order (score, id) so ties are engine-independent.
    * Prompts with a single candidate produce no pair (chosen ==
    * rejected is filtered). Returns (prompt, chosen_id, rejected_id,
    * margin).
    *
    * Both row_number windows partition by the SAME prompt key, so
    * Catalyst plans ONE exchange and two in-partition sorts — the
    * CANDIDATE TABLE is never self-joined. The final pairing IS still
    * a join, but of the two 1-row-per-prompt extreme branches (chosen
    * ⋈ rejected on the prompt key) — |prompts|-sized sides, not
    * candidate-sized. */
  def dpoPairs(cands: DataFrame, promptCol: String, idCol: String,
      scoreCol: String): DataFrame = {
    val best = Window.partitionBy(col(promptCol))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    val worst = Window.partitionBy(col(promptCol))
      .orderBy(col(scoreCol).asc, col(idCol).asc)
    val ranked = cands
      .withColumn("__rc", row_number().over(best))
      .withColumn("__rr", row_number().over(worst))
    val chosen = ranked.filter(col("__rc") === 1)
      .select(col(promptCol), col(idCol).as("chosen_id"),
        col(scoreCol).as("chosen_score"))
    val rejected = ranked.filter(col("__rr") === 1)
      .select(col(promptCol), col(idCol).as("rejected_id"),
        col(scoreCol).as("rejected_score"))
    chosen.join(rejected, promptCol)
      .filter(col("chosen_id") =!= col("rejected_id"))
      .select(col(promptCol), col("chosen_id"), col("rejected_id"),
        round(col("chosen_score") - col("rejected_score"), 6).as("margin"))
  }

  /** Best-of-N rejection sampling (the RFT / STaR / Llama-2-RS data
    * step): per prompt, keep the single highest-reward candidate under
    * the total (reward DESC, id ASC) order, flag whether it clears the
    * absolute acceptance `threshold`, and report the group's
    * acceptance stats — the curation step that turns N sampled
    * rollouts into at most one fine-tuning example each.
    *
    * Every prompt emits a row (accepted = false rather than a silent
    * drop — the caller filters); accept_rate is ONE IEEE division of
    * two exact counts, so the row hash-matches across engines.
    *
    * Scale: the row_number window and the stats aggregate hash-
    * partition on the SAME prompt key, so the final join of two
    * 1-row-per-prompt sides is co-partitioned — the candidate table
    * is never self-joined (the [[dpoPairs]] shape). */
  def bestOfN(cands: DataFrame, promptCol: String, idCol: String,
      rewardCol: String, threshold: Double): DataFrame = {
    val w = Window.partitionBy(col(promptCol))
      .orderBy(col(rewardCol).desc, col(idCol).asc)
    val best = cands.withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1)
      .select(col(promptCol), col(idCol).as("best_id"),
        col(rewardCol).as("best_reward"))
    val stats = cands.groupBy(col(promptCol))
      .agg(count(lit(1)).as("group_n"),
        sum(when(col(rewardCol) >= threshold, 1L).otherwise(0L))
          .as("n_accepted"))
    best.join(stats, promptCol)
      .select(col(promptCol), col("best_id"), col("best_reward"),
        col("group_n"), col("n_accepted"),
        round(col("n_accepted").cast("double") /
          col("group_n").cast("double"), 6).as("accept_rate"),
        (col("best_reward") >= threshold).as("accepted"))
  }

  /** Group-relative advantage normalization (the GRPO preprocessing
    * step): per prompt group, advantage = (reward − group mean) /
    * group population std — the per-group z-score RL-from-grouped-
    * rollouts training consumes instead of a learned value baseline.
    * Degenerate groups (std = 0: a single candidate, or all rewards
    * equal) get advantage 0 by convention — no signal, not NaN.
    * Returns (prompt, cand, reward, group_n, advantage).
    *
    * Determinism discipline: double sums under GROUP BY do not
    * commute, so mean and variance are LEFT FOLDS over the group's
    * candidates collected and sorted by candidate id — one prompt-key
    * shuffle of (id, reward) structs, the same ordered-fold trick as
    * the vector kernels (Spark `aggregate` ≡ DuckDB fold over
    * `list(... ORDER BY ...)`), so every advantage is oracle-exact.
    * Group size is bounded by the sampler's N (an RL rollout count,
    * typically 4-64), never corpus-sized — collect_list here is
    * bounded per key by construction. */
  def groupAdvantage(cands: DataFrame, promptCol: String, idCol: String,
      rewardCol: String): DataFrame = {
    val cs = array_sort(collect_list(
      struct(col(idCol).as("id"), col(rewardCol).as("r"))))
    cands.groupBy(col(promptCol))
      .agg(cs.as("cs"))
      .withColumn("group_n", size(col("cs")).cast("long"))
      .withColumn("mean",
        aggregate(col("cs"), lit(0.0), (a, x) => a + x.getField("r")) /
          col("group_n").cast("double"))
      .withColumn("sd", sqrt(
        aggregate(col("cs"), lit(0.0), (a, x) =>
          a + (x.getField("r") - col("mean")) * (x.getField("r") - col("mean"))) /
          col("group_n").cast("double")))
      .select(col(promptCol), col("group_n"), col("mean"), col("sd"),
        explode(col("cs")).as("c"))
      .select(col(promptCol), col("c.id").as("cand_id"),
        col("c.r").as("reward"), col("group_n"),
        when(col("sd") === 0.0, lit(0.0))
          .otherwise(round((col("c.r") - col("mean")) / col("sd"), 6))
          .as("advantage"))
  }

  /** Threaded-conversation flattening: messages with a `parent` pointer
    * (forum threads, branching chat trees) become ONE row per LEAF —
    * the root-to-leaf path a linear training example is rendered from.
    * Returns (leaf_id, root_id, depth, path_ids: array<bigint> in
    * root→leaf order). Leaves are nodes no other message answers
    * (left-anti join on the parent column); paths are built by
    * `maxDepth` bounded walk-up rounds, each ONE equi-join of the
    * frontier against the (id, parent) table — the kCore/pageRank
    * fixed-rounds discipline: O(maxDepth) shuffles of LEAF-count rows,
    * plus one exchange of the (id, parent) projection that Catalyst
    * reuses across rounds (identical subtree; at fixture scale it
    * broadcasts instead) regardless of corpus size (chat trees are
    * shallow; a thread
    * deeper than maxDepth keeps its truncated tail LOUDLY: depth =
    * maxDepth + 1 rows carry a NULL root_id rather than a silently
    * wrong one). Composes with [[renderChat]]: explode the path,
    * alternate roles by position, render. */
  def threadPaths(msgs: DataFrame, idCol: String, parentCol: String,
      maxDepth: Int = 16): DataFrame = {
    val t = msgs.select(
      Sampling.strictLongId(col(idCol), "threadPaths").as("id"),
      Sampling.strictLongId(col(parentCol), "threadPaths(parent)").as("parent"))
    val leaves = t.join(
      t.select(col("parent").as("id")).where(col("id").isNotNull).distinct(),
      Seq("id"), "left_anti")
    var walk = leaves.select(col("id").as("leaf_id"),
      array(col("id")).as("path"), col("parent").as("cur"))
    for (_ <- 1 to maxDepth) {
      walk = walk
        .join(t.select(col("id").as("cur"), col("parent").as("next")),
          Seq("cur"), "left")
        .select(col("leaf_id"),
          when(col("cur").isNull, col("path"))
            .otherwise(concat(array(col("cur")), col("path"))).as("path"),
          when(col("cur").isNull, lit(null).cast("long"))
            .otherwise(col("next")).as("cur"))
    }
    walk.select(col("leaf_id"),
      when(col("cur").isNull, element_at(col("path"), 1))
        .otherwise(lit(null).cast("long")).as("root_id"),
      size(col("path")).cast("long").as("depth"),
      col("path").as("path_ids"))
  }

  /** Preference-data consistency audit: how INTRANSITIVE is the
    * pairwise preference graph? Majority-vote each pair into a
    * tournament edge (ties drop), then count directed 3-cycles
    * (a≻b, b≻c, c≻a) against all fully-connected triples — the cyclic
    * fraction is a direct annotator-noise measure (a perfectly
    * consistent ranking has zero cycles; random voting approaches
    * 1/4), and a high rate says the [[bradleyTerry]] strengths are
    * averaging contradictions, not revealing a ranking.
    *
    * Scale shape: votes aggregate once to per-pair counts (≤ items²
    * rows — preference items are bounded candidate sets, not
    * corpus-scale); cycles come from one wedge join of the edge list
    * with itself plus one closing join — the adamicAdar join geometry
    * on a majority graph whose degrees are bounded by the item count.
    * Each directed cycle appears under all 3 rotations, so the count
    * divides by 3 exactly. Output: one row
    * (n_items, n_edges, n_triangles, n_cycles, cyclic_rate). */
  def preferenceCycles(matches: DataFrame, winnerCol: String,
                       loserCol: String): DataFrame = {
    val m = matches.select(col(winnerCol).as("w"), col(loserCol).as("l"))
      .filter(col("w") =!= col("l"))
    val votes = m.groupBy(col("w"), col("l")).agg(count(lit(1)).as("n"))
    // majority direction per unordered pair; exact ties carry no edge
    val e = votes.select(least(col("w"), col("l")).as("a"),
        greatest(col("w"), col("l")).as("b"),
        when(col("w") < col("l"), col("n")).otherwise(-col("n")).as("s"))
      .groupBy("a", "b").agg(sum(col("s")).as("s"))
      .filter(col("s") =!= 0L)
      .select(when(col("s") > 0, col("a")).otherwise(col("b")).as("src"),
        when(col("s") > 0, col("b")).otherwise(col("a")).as("dst"))
    val und = e.select(least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b"))
    // triangles in the undirected majority graph (a < b < c once each)
    val tri = und.as("x").join(und.as("y"), col("x.b") === col("y.a"))
      .select(col("x.a").as("a"), col("x.b").as("b"), col("y.b").as("c"))
      .join(und.select(col("a"), col("b").as("c")), Seq("a", "c"))
    // directed 3-cycles: each appears under 3 rotations
    val cyc = e.as("x").join(e.as("y"), col("x.dst") === col("y.src"))
      .select(col("x.src").as("p"), col("y.dst").as("q"))
      .join(e.select(col("src").as("q"), col("dst").as("p")), Seq("p", "q"))
    val spark = matches.sparkSession
    import spark.implicits._
    val items = m.select(col("w").as("i"))
      .unionByName(m.select(col("l").as("i"))).distinct().count()
    val nEdges = e.count()
    val nTri = tri.count()
    val nCyc = cyc.count() / 3
    Seq((items, nEdges, nTri, nCyc,
      if (nTri == 0) 0.0
      else BigDecimal(nCyc.toDouble / nTri.toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toDF("n_items", "n_edges", "n_triangles", "n_cycles", "cyclic_rate")
  }

  /** Inverse Cloze Task pairs (Lee et al., "Latent Retrieval for
    * Weakly Supervised Open Domain Question Answering", ACL 2019) —
    * the standard self-supervised pretraining data for dense
    * retrievers: one window of each document becomes the pseudo-QUERY,
    * the rest becomes the CONTEXT it must retrieve. A deterministic
    * `keepQueryPct`% of documents keep the query window inside the
    * context (the paper's trick: without it the model learns "the
    * answer is never in the passage" and fails on real queries, where
    * it usually is).
    *
    * Windows are fixed `windowWords`-word slices (sentence splitting
    * is locale- and punctuation-dependent; fixed windows are the
    * engine-exact choice, and at pretraining scale the distinction
    * does not matter). Window choice and the keep decision are
    * [[Sampling.hash32]] draws under distinct salts — the q_mlm_mask
    * discipline, zero RNG state. Documents with fewer than two
    * windows cannot form a (query, context) pair and are dropped.
    *
    * Scale shape: pure map-side array arithmetic over the split
    * tokens, zero shuffle; every draw replays in SQL, so
    * `q_ict_pairs` hash-checks the materialized pairs verbatim. */
  /** Verbosity-bias audit for preference pairs: per group, how often
    * the CHOSEN response is simply the LONGER one, and by how much.
    * Reward models trained on length-confounded preferences learn
    * "longer is better" (the classic RLHF length-hack); this measures
    * the confound BEFORE training does. Word counts are exact ints,
    * frac/mean are ONE division each of exact int64 sums — nothing to
    * fold, bit-deterministic. One group-keyed aggregation with
    * map-side partials; groups are sources/annotator batches, bounded. */
  def lengthBiasAudit(pairs: DataFrame, groupCol: String,
                      chosenCol: String, rejectedCol: String): DataFrame = {
    def wc(c: Column) =
      size(filter(split(c, " "), w => length(w) > 0)).cast("long")
    pairs.select(col(groupCol).as("g"),
      wc(col(chosenCol)).as("lc"), wc(col(rejectedCol)).as("lr"))
      .groupBy("g").agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("lc") > col("lr"), 1L).otherwise(0L))
          .as("n_chosen_longer"),
        sum(when(col("lc") === col("lr"), 1L).otherwise(0L)).as("n_ties"),
        sum(col("lc") - col("lr")).as("delta_sum"))
      .select(col("g").as(groupCol), col("n_pairs"),
        col("n_chosen_longer"), col("n_ties"),
        round(col("n_chosen_longer").cast("double") /
          col("n_pairs").cast("double"), 6).as("frac_chosen_longer"),
        round(col("delta_sum").cast("double") /
          col("n_pairs").cast("double"), 6).as("mean_len_delta"))
  }

  /** Chat-format lint over per-conversation role arrays — the
    * structural gate SFT data passes before rendering: system turns
    * only in position 1, the non-system turns strictly alternating
    * user/assistant starting with user, and the conversation ending
    * on an assistant turn (a trailing user turn trains nothing).
    * Pure zero-shuffle array arithmetic; `valid` is the conjunction,
    * each flag kept separate so a failing corpus says WHY. */
  def chatLint(convs: DataFrame, idCol: String, rolesCol: String): DataFrame = {
    val r = col(rolesCol)
    val nonSys = filter(r, x => x =!= "system")
    val misplacedSystem = filter(transform(r, (x, i) =>
      x === "system" && i > 0), b => b)
    val altOk = forall(transform(nonSys, (x, i) =>
      x === when(pmod(i, lit(2)) === 0, "user").otherwise("assistant")),
      b => b)
    convs.select(col(idCol),
      size(r).cast("long").as("n_turns"),
      element_at(r, 1).as("first_role"),
      (element_at(r, -1) === "assistant").as("ends_assistant"),
      (size(misplacedSystem) === 0).as("system_only_first"),
      altOk.as("alternates"))
      .withColumn("valid", col("ends_assistant") &&
        col("system_only_first") && col("alternates"))
  }

  def ictPairs(docs: DataFrame, idCol: String, textCol: String,
               windowWords: Int = 16, keepQueryPct: Int = 10): DataFrame = {
    require(windowWords >= 1, "windowWords must be positive")
    require(keepQueryPct >= 0 && keepQueryPct <= 100, "keepQueryPct in [0,100]")
    val w = windowWords
    val ws = expr(s"filter(split(`$textCol`, ' '), t -> t <> '')")
    val base = docs.select(col(idCol).as("doc_id"), ws.as("ws"))
      .withColumn("nw", // Column `/` is double division — use integer div
        expr(s"CAST((size(ws) + ${w - 1}) div $w AS BIGINT)"))
      .filter(col("nw") >= 2)
      .withColumn("q_idx", pmod(Sampling.hash32(col("doc_id"), "ict_q"),
        col("nw")))
      .withColumn("kept",
        (pmod(Sampling.hash32(col("doc_id"), "ict_k"), lit(100L)) <
          keepQueryPct).cast("int"))
    base.select(col("doc_id"), col("q_idx"), col("kept"),
      concat_ws(" ", slice(col("ws"), (col("q_idx") * w + 1).cast("int"),
        lit(w))).as("query"),
      when(col("kept") === 1, concat_ws(" ", col("ws")))
        .otherwise(concat_ws(" ", concat(
          slice(col("ws"), lit(1), (col("q_idx") * w).cast("int")),
          slice(col("ws"), ((col("q_idx") + 1) * w + 1).cast("int"),
            size(col("ws")))))).as("context"))
  }

  /** Bradley–Terry preference strengths from pairwise outcomes — the
    * reward-modeling primitive that turns (winner, loser) rows (human
    * preference votes, model-arena matches, best-of-n comparisons)
    * into one per-item strength the BT model ties to win odds:
    * P(i beats j) = p_i / (p_i + p_j).
    *
    * Fit is the classic MM / Zermelo iteration (Hunter, "MM algorithms
    * for generalized Bradley-Terry models", Annals of Statistics
    * 2004): p'_i = W_i / Σ_j n_ij/(p_i + p_j), run a FIXED `rounds`
    * times from p = 1, regularized by ONE virtual win and ONE virtual
    * loss per item against a fixed strength-1 opponent
    * (p'_i = (W_i + 1) / (Σ_j n_ij/(p_i+p_j) + 2/(p_i+1))): zero-win
    * or zero-loss items stay finite and positive, and the fixed
    * virtual opponent anchors the scale, so no normalization step (and
    * no driver-side scalar) exists at all.
    *
    * Determinism: each opponent term n_ij/(p_i+p_j) is rounded to 9
    * decimals AT BIRTH and summed by a sorted fold (the naive-Bayes
    * ln discipline — these are data-dependent doubles under an
    * unordered GROUP BY); the update divides once and re-rounds to 9,
    * so every round's p table is engine-exact and the whole
    * trajectory replays through materialized SQL CTEs
    * (`q_bradley_terry`).
    *
    * Scale shape: outcomes aggregate ONCE to (pair, n) / (item, wins)
    * tables; each round is two item-keyed joins of the pair table
    * against the current p (items-sized — AQE broadcasts it when
    * small) plus one item-keyed fold aggregation. Plan depth is
    * bounded by `checkpointInterval` exactly as in
    * [[Graph.labelPropagation]]. Output: (item, wins, games,
    * strength = round(p, 6)). */
  def bradleyTerry(matches: DataFrame, winnerCol: String, loserCol: String,
                   rounds: Int = 8, checkpointInterval: Int = 4): DataFrame = {
    require(rounds >= 1 && rounds <= 64, s"rounds=$rounds out of range")
    import graft.core.Checkpoints
    val m = matches.select(col(winnerCol).as("w"), col(loserCol).as("l"))
      .filter(col("w") =!= col("l"))
    val wins = m.groupBy(col("w").as("item")).agg(count(lit(1)).as("wins"))
    // undirected pair game counts, then both directions for the fold
    val pairs = m.select(least(col("w"), col("l")).as("a"),
        greatest(col("w"), col("l")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n"))
    val adj = Checkpoints.eager(
      pairs.select(col("a").as("item"), col("b").as("opp"), col("n"))
        .unionByName(pairs.select(col("b").as("item"), col("a").as("opp"),
          col("n"))))
    val items = adj.select("item").distinct()
      .join(wins, Seq("item"), "left")
      .select(col("item"), coalesce(col("wins"), lit(0L)).as("wins"))
    var p = items.select(col("item"), lit(1.0).as("p"))
    var held = p // the checkpoint `p` reads; none yet, so free is a no-op
    for (r <- 1 to rounds) {
      val next = adj
        .join(p.select(col("item"), col("p").as("pi")), Seq("item"))
        .join(p.select(col("item").as("opp"), col("p").as("pj")), Seq("opp"))
        .withColumn("term", round(col("n") / (col("pi") + col("pj")), 9))
        .groupBy("item")
        // first(pi) is order-safe: pi joined on the group key itself,
        // so every row of the group carries the SAME value
        .agg(sort_array(collect_list(col("term"))).as("terms"),
          first(col("pi")).as("pi"))
        .join(items, Seq("item"))
        .select(col("item"), round(
          (col("wins") + lit(1.0)) /
            (expr("aggregate(terms, cast(0 as double), (acc, x) -> acc + x)") +
              round(lit(2.0) / (col("pi") + lit(1.0)), 9)), 9).as("p"))
      if (r % checkpointInterval == 0 && r < rounds) {
        p = Checkpoints.eager(next)
        Checkpoints.free(held)
        held = p
      } else {
        p = next
      }
    }
    val games = adj.groupBy("item").agg(sum(col("n")).as("games"))
    items.join(games, Seq("item"))
      .join(p, Seq("item"))
      .select(col("item"), col("wins"), col("games"),
        round(col("p"), 6).as("strength"))
  }
}
