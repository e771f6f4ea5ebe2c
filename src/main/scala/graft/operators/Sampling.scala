package graft.operators

import graft.core.Checkpoints
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, engine-independent sampling for reproducible
  * training-data splits.
  *
  * `df.sample()` is seeded per-partition — results change with
  * partitioning, executor count, and engine, which is poison for
  * reproducible dataset curation. Hash-sampling decides membership from
  * the ROW KEY alone (md5-derived bucket in [0,10000)), so a row's
  * split assignment is stable across runs, partitionings, engines and
  * even re-ingestions of the same data. Pure map-side — no shuffle, no
  * state; the predicate pushes into the scan where Catalyst allows.
  */
object Sampling {

  /** Stable bucket in [0, 10000) from the key's md5. `salt` namespaces
    * the bucket per operator — see [[hash32]] for why composed samplers
    * must not share a draw. */
  def hashBucket(key: Column, salt: String = ""): Column =
    pmod(hash32(key, salt), lit(10000L))

  /** Keep ~fraction of rows, deterministically by key. */
  def hashSample(df: DataFrame, key: Column, fraction: Double): DataFrame =
    df.filter(hashBucket(key, "hs_") < (fraction * 10000).toLong)

  /** Disjoint deterministic train/test split by key: test gets
    * ~testFraction, train the rest. Same key always lands on the same
    * side — no leakage across re-runs. */
  def trainTestSplit(df: DataFrame, key: Column,
                     testFraction: Double): (DataFrame, DataFrame) = {
    val cut = (testFraction * 10000).toLong
    (df.filter(hashBucket(key, "tts_") >= cut),
      df.filter(hashBucket(key, "tts_") < cut))
  }

  /** Leakage-safe train/val/test assignment: the split is hashed from
    * the row's DUPLICATE-CLUSTER key, not the row key, so every member
    * of a near-dup family lands in the SAME split — the property plain
    * [[trainTestSplit]] cannot give (hash a near-identical pair by row
    * id and one copy trains while its twin evaluates: silent
    * memorization leakage). `clusters` is a (doc_id, canonical_id)
    * table ([[Dedup.duplicateClusters]] output — only dup-involved
    * rows appear); singletons fall back to their own key. Returns the
    * input plus `cluster_key` and `split` ('train'/'val'/'test').
    *
    * One broadcast-or-shuffle left join against the (small) cluster
    * table; the split predicate itself is a map-side md5 bucket,
    * deterministic across runs, partitionings and engines. */
  def leakageSafeSplit(df: DataFrame, keyCol: String, clusters: DataFrame,
      valFraction: Double, testFraction: Double): DataFrame = {
    require(valFraction >= 0 && testFraction >= 0 &&
      valFraction + testFraction < 1, "fractions must leave room for train")
    val valCut = ((1.0 - valFraction - testFraction) * 10000).toLong
    val testCut = ((1.0 - testFraction) * 10000).toLong
    df.join(clusters.select(col("doc_id").as(keyCol), col("canonical_id")),
        Seq(keyCol), "left")
      .withColumn("cluster_key", coalesce(col("canonical_id"), col(keyCol)))
      .drop("canonical_id")
      .withColumn("split", {
        val b = hashBucket(col("cluster_key"), "split_")
        when(b < valCut, "train").when(b < testCut, "val").otherwise("test")
      })
  }

  /** Temperature resampling for source mixing: DOWN-sample each group
    * toward a flatter distribution, keeping rate
    * `r_g = (n_min / n_g)^(1-alpha)` — `alpha = 1` keeps everything,
    * `alpha = 0` equalizes every group to ~n_min rows, values between
    * interpolate (the n^alpha mixing rule, downsampling-only form).
    * Membership is decided by the md5 hash bucket of the row key, so
    * the SAME rows are kept across runs, partitionings and engines.
    *
    * One tiny count aggregation (broadcast back); the keep-filter is
    * map-side. NOTE on determinism: with `alpha = 0.5` the rate is a
    * pure `sqrt` — IEEE-exact in every engine; other alphas go through
    * `pow`, which may differ in the last ulp across libm
    * implementations (only rows exactly on a bucket boundary could
    * flip). */
  def temperatureResample(df: DataFrame, groupCol: String, key: Column,
                          alpha: Double = 0.5): DataFrame = {
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
    val withMin = counts.crossJoin(
      broadcast(counts.agg(min(col("__n")).as("__nmin"))))
    val rated = withMin.withColumn("__rate",
      when(lit(alpha) === 0.5,
        sqrt(col("__nmin").cast("double") / col("__n").cast("double")))
        .otherwise(pow(col("__nmin").cast("double") / col("__n").cast("double"),
          lit(1.0 - alpha))))
      .select(col(groupCol), col("__rate"))
    df.join(broadcast(rated), groupCol)
      .filter(hashBucket(key, "temp_").cast("double") < col("__rate") * 10000.0)
      .drop("__rate")
  }

  /** Deterministic global corpus shuffle: every row gets a stable
    * permutation position `shuffle_pos` in [1, N] — the "shuffle the
    * training data" step, made reproducible by ordering on
    * (md5(key), key) instead of a seeded RNG. The same corpus always
    * yields the same permutation, on any cluster size or engine.
    *
    * Scale shape — the naive formulation is
    * `row_number() OVER (ORDER BY md5(key))`, an empty-frame window
    * that Spark executes on a SINGLE partition (the whole corpus
    * through one task). Here instead ([[orderedPositions]]):
    *   1. range-repartition + sort within partitions on the hash key
    *      (the boundaries come from Spark's reservoir sample; ANY
    *      boundaries give the same global order since partitions are
    *      range-disjoint and internally sorted);
    *   2. checkpoint the sorted partitions — the two passes
    *      below each read the materialized blocks, not the shuffle
    *      lineage;
    *   3. pass 1 counts rows per partition (tiny: numPartitions rows
    *      to the driver), prefix-summed into per-partition offsets;
    *   4. pass 2 assigns rank = offset(pid) + local index, where the
    *      local index is recovered from `monotonically_increasing_id`
    *      (its low 33 bits are exactly the row's position within its
    *      partition's evaluation order — the sorted order after step 1).
    * No global sort to one task, no corpus-wide window state: the
    * heaviest step is one range exchange, same cost class as any
    * `ORDER BY` write. */
  def globalShuffle(df: DataFrame, key: Column,
                    numPartitions: Int = 0): DataFrame = {
    val h = md5(concat(lit("shuf_"), key.cast("string")))
    orderedPositions(df, Seq(h, key.cast("string")), "shuffle_pos",
      numPartitions)
  }

  /** Deterministic curriculum ordering: a global training position
    * `curriculum_pos` that walks the phase column in ascending order
    * (phase 0 first — e.g. highest-quality docs, or shortest
    * sequences) and SHUFFLES within each phase by the `cur_`-salted
    * md5 of the key — the "easy-first, random within difficulty tier"
    * schedule curriculum training consumes (Bengio et al. 2009),
    * reproducible on any engine or cluster size.
    *
    * Same machinery as [[globalShuffle]] ([[orderedPositions]] on
    * (phase, hash, key)), so the phase column never becomes a window
    * PARTITION: a 3-phase curriculum over a 100 TB corpus would
    * otherwise sort through 3 tasks. */
  def curriculumOrder(df: DataFrame, phase: Column, key: Column,
                      numPartitions: Int = 0): DataFrame = {
    val h = md5(concat(lit("cur_"), key.cast("string")))
    orderedPositions(df, Seq(phase, h, key.cast("string")),
      "curriculum_pos", numPartitions)
  }

  /** Shared kernel of [[globalShuffle]] / [[curriculumOrder]]: assign
    * each row its 1-based global rank under lexicographic `sortCols`
    * order WITHOUT a single-partition global window (range exchange +
    * per-partition offsets; see the [[globalShuffle]] scaladoc for the
    * 4-step argument). `sortCols` must be a total order (append the
    * key as the last column). */
  private def orderedPositions(df: DataFrame, sortCols: Seq[Column],
                               posName: String,
                               numPartitions: Int): DataFrame = {
    val n = if (numPartitions > 0) numPartitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val tagged = sortCols.zipWithIndex.foldLeft(df) { case (acc, (c, i)) =>
      acc.withColumn(s"__s$i", c)
    }
    val sCols = sortCols.indices.map(i => col(s"__s$i"))
    val sorted = Checkpoints.eager(tagged
      .repartitionByRange(n, sCols: _*)
      .sortWithinPartitions(sCols: _*))
    val mask = (1L << 33) - 1
    val counts = sorted
      .groupBy(spark_partition_id().as("__pid")).agg(count(lit(1)).as("__c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until n).scanLeft(0L) { (acc, pid) =>
      acc + counts.getOrElse(pid, 0L)
    }
    val offsetsDf = df.sparkSession.createDataFrame(
      java.util.Arrays.asList((0 until n).map(pid =>
        org.apache.spark.sql.Row(pid, offsets(pid))): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__pid",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("__off",
          org.apache.spark.sql.types.LongType))))
    sorted
      .withColumn("__pid", spark_partition_id())
      .withColumn("__li", monotonically_increasing_id().bitwiseAND(mask))
      .join(broadcast(offsetsDf), "__pid")
      .withColumn(posName, col("__off") + col("__li") + lit(1))
      .drop(sortCols.indices.map(i => s"__s$i") :+ "__pid" :+ "__li" :+ "__off": _*)
  }

  /** Per-GROUP 1-based positions under `sortCols` order — the
    * `row_number() OVER (PARTITION BY groupCols ORDER BY sortCols)`
    * result WITHOUT a window over the group key, for BOUNDED-
    * CARDINALITY groups (length rungs, curriculum phases, shard
    * labels): a window would sort each group's ENTIRE population in
    * one task — six rungs means six tasks no matter the cluster size —
    * while here the global rank comes from [[orderedPositions]]'s
    * range exchange on (group, sort), so every partition sorts only
    * its range slice, and the per-group position is recovered by
    * subtracting the group's minimum global rank (a |groups|-row
    * aggregate, broadcast back). `sortCols` must totalize order within
    * a group (append the row key last). Output positions are LONG
    * (ranks can exceed Int at corpus scale). */
  def groupedPositions(df: DataFrame, groupCols: Seq[String],
                       sortCols: Seq[Column], posName: String,
                       numPartitions: Int = 0): DataFrame = {
    val withPos = orderedPositions(df, groupCols.map(col) ++ sortCols,
      "__gpos", numPartitions)
    val firsts = withPos.groupBy(groupCols.map(col): _*)
      .agg(min(col("__gpos")).as("__gmin"))
    withPos.join(broadcast(firsts), groupCols)
      .withColumn(posName, col("__gpos") - col("__gmin") + 1)
      .drop("__gpos", "__gmin")
  }

  /** Global 1-based rank AND running int64 prefix sum of `valueCol`
    * under lexicographic `sortCols` order, WITHOUT an unpartitioned
    * window: the `row_number() + sum() OVER (ORDER BY …)` pair that a
    * coverage/CDF query wants, built like [[orderedPositions]] — a
    * range exchange slices the order, per-slice (partition-LOCAL)
    * windows rank and prefix-sum in parallel, and each slice's
    * (row-count, value-sum) offsets are a numPartitions-row driver
    * scan broadcast back. No task ever sorts more than its range
    * slice, so the shape survives any table size; the one extra
    * exchange (window re-clusters by slice id) carries the input
    * table once.
    *
    * `sortCols` must be a total order of VALUE expressions (no
    * SortOrder — express descending as a negated column, the
    * [[orderedPositions]] convention) and `valueCol` must be integral
    * (the exact-int64 running-sum discipline; fixed-point doubles
    * first). */
  def rankedPrefixSums(df: DataFrame, sortCols: Seq[Column],
                       valueCol: Column, rankName: String, cumName: String,
                       numPartitions: Int = 0): DataFrame = {
    val n = if (numPartitions > 0) numPartitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val tagged = sortCols.zipWithIndex
      .foldLeft(df.withColumn("__val", valueCol.cast("long"))) {
        case (acc, (c, i)) => acc.withColumn(s"__s$i", c)
      }
    val sCols = sortCols.indices.map(i => col(s"__s$i"))
    val sliced = Checkpoints.eager(tagged
      .repartitionByRange(n, sCols: _*)
      .withColumn("__pid", spark_partition_id()))
    val parts = sliced.groupBy("__pid")
      .agg(count(lit(1)).as("__c"), sum("__val").as("__sv"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val cOff = (0 until n).scanLeft(0L) { (acc, pid) =>
      acc + parts.get(pid).map(_._1).getOrElse(0L) }
    val vOff = (0 until n).scanLeft(0L) { (acc, pid) =>
      acc + parts.get(pid).map(_._2).getOrElse(0L) }
    val offsetsDf = df.sparkSession.createDataFrame(
      java.util.Arrays.asList((0 until n).map(pid =>
        org.apache.spark.sql.Row(pid, cOff(pid), vOff(pid))): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__pid",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("__coff",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("__voff",
          org.apache.spark.sql.types.LongType))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid")).orderBy(sCols: _*)
    sliced.join(broadcast(offsetsDf), "__pid")
      .withColumn(rankName,
        col("__coff") + row_number().over(w).cast("long"))
      .withColumn(cumName, col("__voff") +
        sum(col("__val")).over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .drop(sortCols.indices.map(i => s"__s$i") :+
        "__pid" :+ "__val" :+ "__coff" :+ "__voff": _*)
  }

  /** Cross-group quantile normalization of a score column: every row's
    * score is replaced by the GLOBAL score at the same quantile
    * position, mapping each group's score distribution onto the pooled
    * distribution (the rank-based calibration from the microarray
    * literature, applied to corpus curation: quality classifiers
    * calibrated per-source don't share a scale, and mixing on raw
    * scores over- or under-selects whole sources).
    *
    * Exact integer discipline: within-group rank rn and global rank g
    * both come from [[groupedPositions]] under the total
    * (score, id) order — range exchanges, never a one-task-per-group
    * window — and the target position is
    * ((rn − 1) · N) div n_g + 1 (integer div: deterministic, no float
    * interpolation; always lands in [1, N]). Group sizes and N are
    * |groups|-row broadcast aggregates. NAMED bound: the product
    * (rn − 1) · N must fit a signed 64-bit long — exact to ~3e9 rows
    * per group at 3e9 total; beyond that widen to decimal on both
    * engine sides.
    *
    * Output: (id, group, score, calibrated). */
  def quantileNormalize(df: DataFrame, groupCol: String, scoreCol: String,
                        idCol: String): DataFrame = {
    val base = df.select(col(idCol), col(groupCol), col(scoreCol))
    val ranked = groupedPositions(base, Seq(groupCol),
      Seq(col(scoreCol), col(idCol)), "__rn")
    val sizes = base.groupBy(groupCol).agg(count(lit(1)).as("__ns"))
    val tot = base.agg(count(lit(1)).as("__n"))
    val global = groupedPositions(base.withColumn("__all", lit(0)),
        Seq("__all"), Seq(col(scoreCol), col(idCol)), "__g")
      .select(col("__g"), col(scoreCol).as("calibrated"))
    ranked.join(broadcast(sizes), groupCol)
      .crossJoin(broadcast(tot))
      .withColumn("__g",
        expr("((__rn - 1) * __n) div __ns + 1"))
      .join(global, "__g")
      .select(col(idCol), col(groupCol), col(scoreCol), col("calibrated"))
  }

  /** Greedy maximum-coverage data selection (the classic 1−1/e greedy
    * for budgeted subset selection): `k` rounds, each picking the
    * document whose n-gram shingle set covers the most NOT-YET-COVERED
    * grams, ties by lowest id — the lexical-coverage complement of
    * [[Embeddings.kCenterGreedy]]'s embedding diversity. Returns one
    * row per round: (round, id, gain = newly covered gram count).
    *
    * Scale shape: the exploded (id, gram) table materializes ONCE
    * (checkpointed — each round re-reads blocks, not the corpus)
    * and every round is one anti-join against the covered-gram table,
    * one count agg, and a TakeOrdered top-1 (never a full sort). The
    * covered set stays DISTRIBUTED — a union of the winners' gram
    * slices, k bounded — never driver state, unlike the k centers,
    * because coverage sets are corpus-scale. O(k) passes; k is a
    * selection budget. Stops early (fewer rows) once every gram is
    * covered. */
  def coverageSelect(docs: DataFrame, idCol: String, textCol: String,
                     k: Int, n: Int = 3): DataFrame = {
    require(k >= 1, "k must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val g = Checkpoints.eager(
      Dedup.shingleSets(docs, idCol, textCol, n)
        .select(strictLongId(col("id"), "coverageSelect").as("id"),
          explode(col("sh")).as("gram")))
    val out = Seq.newBuilder[(Int, Long, Long)]
    var covered: DataFrame = null
    for (r <- 1 to k) {
      val rem = if (covered == null) g
        else g.join(covered, Seq("gram"), "left_anti")
      val top = rem.groupBy("id").agg(count(lit(1)).as("gain"))
        .orderBy(desc("gain"), asc("id")).limit(1).collect()
      if (top.nonEmpty) {
        val id = top.head.getLong(0)
        out += ((r, id, top.head.getLong(1)))
        val newCov = g.filter(col("id") === id).select(col("gram"))
        covered = if (covered == null) newCov else covered.unionByName(newCov)
      }
    }
    out.result().toDF("round", "id", "gain")
  }

  /** Deterministic stratified sampling: exactly min(perStratum, |stratum|)
    * rows from every stratum, chosen by md5 order of the key — a
    * class-balanced subset that is stable across runs, partitionings
    * and engines (the md5 order is the "random" permutation).
    *
    * One shuffle on the strata columns; within each stratum the
    * window's rank is computed after a partition-local sort. For very
    * hot strata at 100 TB, pre-filter with [[hashSample]] at a fraction
    * safely above perStratum/|stratum| to bound the sorted volume, then
    * stratify exactly. Ties (md5 collisions) break on the key itself. */
  def stratified(df: DataFrame, strataCols: Seq[String], key: Column,
                 perStratum: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCols.map(col): _*)
      .orderBy(md5(concat(lit("strat_"), key.cast("string"))),
        key.cast("string"))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= perStratum)
      .drop("__rn")
  }

  /** Per-domain frequency cap: at most `cap` rows per group, survivors
    * chosen by the `cap_`-salted md5 order of the key — the
    * over-represented-domain guard of web-corpus curation (RefinedWeb
    * caps pages per registered domain so no single site dominates the
    * mixture). Same mechanics as [[stratified]] but the SEMANTICS
    * differ: strata are classes you balance a sample across; the cap
    * is a ceiling applied to every domain, keeping small domains
    * intact. One shuffle on the group column. At 100 TB a pathological
    * domain (a crawler trap with 10⁹ pages) still window-sorts its
    * whole group; pre-thin such groups with [[hashSample]] at a rate
    * safely above cap/|domain| (from a first-pass count), then cap
    * exactly — survivors are identical as long as the thinning keeps
    * ≥ cap rows, because both orders are the same md5 order. */
  def domainCap(df: DataFrame, groupCol: String, key: Column,
                cap: Int): DataFrame = {
    require(cap > 0, "cap must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(md5(concat(lit("cap_"), key.cast("string"))),
        key.cast("string"))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= cap)
      .drop("__rn")
  }

  /** [[domainCap]] with the hot-domain pre-thinning ENGAGED — the
    * 100 TB formulation. A crawler-trap domain with 10⁹ rows would
    * make the plain cap window-sort the whole group; here a first
    * aggregation counts each domain, and domains above
    * `oversample · cap` rows are pre-thinned to rows whose `cap_`-hash
    * PREFIX (the numeric value of the md5's first 8 hex chars) falls
    * under `2³² · oversample · cap / n` before the exact window runs.
    *
    * Survivors are PROVABLY identical to [[domainCap]]'s: md5 hex
    * strings of equal length compare lexicographically ⇔ numerically,
    * so if any true winner (global `cap_`-order rank ≤ cap) were
    * thinned away, every one of the ≥ cap retained rows would compare
    * strictly smaller — contradiction. The only failure mode is the
    * thinning keeping FEWER than cap rows (Binomial(n, oversample·cap/n)
    * under-shooting — Chernoff-improbable at oversample 8), and that
    * fails LOUDLY: the audit compares per-domain survivor counts
    * against min(cap, n) and throws on any shortfall, at the cost of
    * one extra aggregation over the (already capped, ≤ cap·G rows)
    * output. Disable `audit` only after sizing `oversample` for the
    * corpus. */
  def domainCapThinned(df: DataFrame, groupCol: String, key: Column,
                       cap: Int, oversample: Int = 8,
                       audit: Boolean = true): DataFrame = {
    require(cap > 0 && oversample >= 2, "need cap > 0 and oversample >= 2")
    val target = oversample.toLong * cap
    // The threshold compare runs in decimal(38,0): the naive int64 form
    // 2^32 * target overflows (wraps negative, ANSI off) once
    // oversample*cap exceeds 2^31, silently thinning every hot domain
    // to zero rows. Rearranged as hash*n < target*2^32 the products are
    // <= 29 decimal digits — exact in decimal(38,0) for any cap/n.
    // With audit on, `counts` is checkpointed so the audit reuses the
    // G-row aggregate instead of re-scanning the corpus (the scaladoc
    // prices the audit at one aggregation over the CAPPED output, not a
    // second full-corpus pass); with audit off it stays lazy — computed
    // once when the caller materializes the result, and nothing leaks.
    def countsPlan = df.groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
    val counts = if (audit) Checkpoints.eager(countsPlan) else countsPlan
    def dec(c: Column) = c.cast("decimal(20,0)")
    val thinned = df.join(broadcast(counts), Seq(groupCol))
      .filter(col("__n") <= target ||
        dec(hash32(key, "cap_")) * dec(col("__n")) <
          dec(lit(target)) * dec(lit(4294967296L)))
      .drop("__n")
    val capped = domainCap(thinned, groupCol, key, cap)
    if (!audit) capped
    else {
      val ck = Checkpoints.eager(capped)
      val bad = counts.join(
          ck.groupBy(col(groupCol)).agg(count(lit(1)).as("__got")),
          Seq(groupCol), "left")
        .filter(coalesce(col("__got"), lit(0L)) <
          least(col("__n"), lit(cap.toLong)))
        .limit(1).collect()
      Checkpoints.free(counts)
      if (bad.nonEmpty) {
        Checkpoints.free(ck)
        throw new IllegalStateException(
          s"domainCapThinned: thinning shortfall in group ${bad.head.get(0)} " +
            s"— raise oversample (=$oversample)")
      }
      ck
    }
  }

  /** Per-group TOKEN budget: walk each group in `tb_`-salted md5 order
    * and keep documents until the group's running token total reaches
    * `budget` (the straddler that crosses the line is kept, so every
    * group with enough material fills its budget). This is the
    * mixture-construction primitive when the recipe is expressed in
    * tokens — "20 B tokens of web, 5 B of code" — rather than document
    * counts ([[domainCap]]) or proportions ([[temperatureResample]]).
    *
    * One shuffle on the group column; the window's running sum carries
    * 8 bytes of state. The same hot-domain note as [[domainCap]]
    * applies, with the thinning rate bounded via the domain's mean
    * tokens/doc. */
  def tokenBudget(df: DataFrame, groupCol: String, key: Column,
                  tokens: Column, budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(md5(concat(lit("tb_"), key.cast("string"))),
        key.cast("string"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.withColumn("__before", coalesce(sum(tokens).over(w), lit(0L)))
      .filter(col("__before") < budget)
      .drop("__before")
  }

  /** Data-mixing weights: per-group size (in `unit`, e.g. a token
    * count) plus each group's corpus share and the resampling weight
    * that would equalize the mixture to a UNIFORM target — the report
    * a training run's data-mixture config is written from.
    * `weight > 1` means the group is under-represented (sample it more
    * / repeat epochs), `< 1` over-represented.
    *
    * One aggregation (map-side partials, one shuffle on the group key)
    * + a 1-row total broadcast back. Division order is pinned
    * (share = n/total, weight = total/(G·n) — each one IEEE division)
    * so results reproduce bitwise across engines. */
  def mixtureWeights(df: DataFrame, groupCol: String, unit: Column): DataFrame = {
    val counts = df.groupBy(col(groupCol)).agg(sum(unit).as("n_units"))
    val total = counts.agg(sum(col("n_units")).as("__total"),
      count(lit(1)).as("__groups"))
    counts.crossJoin(broadcast(total))
      .select(col(groupCol),
        col("n_units"),
        (col("n_units").cast("double") / col("__total").cast("double"))
          .as("share"),
        (col("__total").cast("double") /
          (col("__groups") * col("n_units")).cast("double")).as("weight"))
  }

  /** UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and
    * More Effective Language Sampling"): split a token budget
    * B = total·budgetNum/budgetDen across groups as UNIFORMLY as
    * possible, capping each group at `maxEpochs` passes over its own
    * data — the principled alternative to temperature sampling for
    * multilingual mixes (small languages get up-sampled, but never
    * past the epoch cap that makes them memorize). Water-filling in
    * closed form over the cap-ASCENDING group list: group i (of k,
    * prefix caps C_{i−1}) is capped iff cap_i·(k−i+1) < B − C_{i−1} —
    * the condition is ABSORBING once false (caps ascend while the
    * per-head remainder can only fall), so one indexed pass decides
    * every group; the m capped groups take their full capacity and the
    * rest split B − Σcaps equally.
    *
    * Determinism: capacities, the budget, prefix sums, and every
    * capped/uncapped comparison are exact int64 — NAMED BOUND:
    * cap·k and total·budgetNum must stay below 2⁶³ (at k ≤ 10³ groups
    * that is ~9·10¹⁵ tokens per group before the comparison wraps —
    * far past any real mixture config, and the bound is the caller's
    * budget arithmetic, not corpus size); the equal share is ONE IEEE
    * division, allocations and epochs round 6.
    *
    * Scale shape: one group-keyed count aggregate (map-side partials),
    * then the whole waterfill runs inside ONE collected k-row struct
    * array (groups are a config-bounded dimension — languages,
    * sources; the Krippendorff bounded-fold discipline), re-exploded
    * to k output rows. The corpus itself never re-shuffles — this
    * emits the PLAN (per-group allocation + epochs) that
    * [[temperatureResample]]/[[mixtureSample]]-style executors act on.
    * Output: (group, n_units, capacity, capped, alloc, epochs). */
  def unimaxBudget(df: DataFrame, groupCol: String, unit: Column,
                   budgetNum: Long, budgetDen: Long,
                   maxEpochs: Long): DataFrame = {
    require(budgetNum > 0 && budgetDen > 0, "budget fraction must be positive")
    require(maxEpochs > 0, "maxEpochs must be positive")
    val counts = df.groupBy(col(groupCol).as("g"))
      .agg(sum(unit).as("n_units"))
      .select(col("g"), col("n_units"),
        (col("n_units") * maxEpochs).as("cap"))
    val folded = counts.agg(
      sort_array(collect_list(struct(col("cap"), col("g"),
        col("n_units")))).as("cs"),
      sum(col("n_units")).as("tot"),
      count(lit(1)).as("k"))
      .select(col("cs"), col("k"),
        expr(s"tot * ${budgetNum}L div ${budgetDen}L").as("budget"))
    // per-group capped flag via the indexed closed form; O(k²) prefix
    // re-sums inside one k-row array — k is config-bounded
    val marked = folded.select(col("budget"), col("k"), expr(
      """transform(cs, (x, i) -> named_struct(
        |  'g', x.g, 'n_units', x.n_units, 'cap', x.cap,
        |  'capped', x.cap * (k - i) <
        |    budget - aggregate(slice(cs, 1, i), 0L, (a, y) -> a + y.cap)))
        |""".stripMargin).as("cs"))
    val shared = marked.select(col("budget"), col("k"), col("cs"),
      expr("size(filter(cs, x -> x.capped))").as("m"),
      expr("aggregate(filter(cs, x -> x.capped), 0L, (a, y) -> a + y.cap)")
        .as("csum"))
    shared.select(col("budget"), col("k"), col("m"), col("csum"),
        explode(col("cs")).as("x"))
      .select(col("x.g").as(groupCol),
        col("x.n_units").as("n_units"),
        col("x.cap").as("capacity"),
        col("x.capped").as("capped"),
        round(when(col("x.capped"), col("x.cap").cast("double"))
          .otherwise((col("budget") - col("csum")).cast("double") /
            (col("k") - col("m")).cast("double")), 6).as("alloc"),
        round(when(col("x.n_units") > 0,
          when(col("x.capped"), col("x.cap").cast("double"))
            .otherwise((col("budget") - col("csum")).cast("double") /
              (col("k") - col("m")).cast("double")) /
            col("x.n_units").cast("double"))
          .otherwise(lit(null).cast("double")), 6).as("epochs"))
  }

  /** Neyman optimal allocation for stratified sampling (Neyman 1934):
    * split a sample budget n across strata ∝ N_h·σ_h — the
    * variance-minimizing design beside [[unimaxBudget]]'s fairness
    * one (allocate MORE to big, NOISY strata; a uniform stratum needs
    * almost no sample to pin its mean). σ_h is the POPULATION standard
    * deviation of the measure (the design-phase convention — the
    * stratum IS the population being sampled):
    * σ² = (Σv² − S²/N)/N, alloc_h = n·w_h/Σw with w_h = N_h·σ_h.
    * Output: one row per stratum (stratum, n_rows, sigma, weight,
    * alloc).
    *
    * Determinism: Σv/Σv² exact decimal(38,0) (the [[Profile.cohensD]]
    * 2⁵³ cast bound, named there); σ and each w_h compose in one
    * fixed IEEE order, w_h rounds to 9 AT BIRTH, Σw folds in
    * stratum-key order (bounded-fold discipline), outputs round 6.
    * All-constant strata everywhere (Σw = 0) report NULL allocs.
    *
    * Scale shape: one stratum-keyed aggregate with map-side partials
    * (strata are a config-bounded dimension), a ≤k-struct fold, a
    * 1-row broadcast back. Rows never shuffle. */
  def neymanAllocation(df: DataFrame, stratumCol: String, valueCol: String,
                       sampleSize: Long): DataFrame = {
    require(sampleSize > 0, "sampleSize must be positive")
    val per = df.select(col(stratumCol).cast("string").as("g"),
        col(valueCol).cast("long").as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull)
      .groupBy("g").agg(
        count(lit(1)).as("nh"),
        sum(col("v").cast("decimal(38,0)")).as("s"),
        sum(col("v").cast("decimal(38,0)") * col("v")).as("q"))
    val nhD = col("nh").cast("double")
    val sigma = sqrt((col("q").cast("double") -
      col("s").cast("double") * col("s").cast("double") / nhD) / nhD)
    val weighted = per.select(col("g"), col("nh"), sigma.as("sigma"),
      round(nhD * sigma, 9).as("w"))
    val tot = weighted
      .select(struct(col("g"), col("w")).as("s"))
      .agg(sort_array(collect_list(col("s"))).as("ws"))
      .select(expr(
        "aggregate(ws, cast(0 as double), (acc, x) -> acc + x.w)")
        .as("wsum"))
    weighted.crossJoin(broadcast(tot))
      .select(col("g").as(stratumCol), col("nh").as("n_rows"),
        round(col("sigma"), 6).as("sigma"),
        round(col("w"), 6).as("weight"),
        when(col("wsum") > 0.0,
          round(lit(sampleSize.toDouble) * col("w") / col("wsum"), 6))
          .otherwise(lit(null).cast("double")).as("alloc"))
  }

  /** Raw md5-derived 32-bit hash of the key (uniform on [0, 2³²)) — the
    * integer "random" draw every deterministic sampler here is built
    * from. `salt` namespaces the draw PER OPERATOR: without it, a
    * pipeline composing several samplers would hand every stage the
    * SAME uniform draw for a given key (e.g. a doc's mixture extra-copy
    * indicator becoming a monotone function of its weighted-sample
    * priority), biasing multi-stage sampling. Each operator passes its
    * own salt ("wt_", "mix_", "pack_"), mirrored verbatim in the SQL
    * oracles. */
  /** Strict int64 cast for id columns. kCenterGreedy / coverageSelect /
    * threadPaths key joins and bounded driver-side model state on long
    * ids; a plain `cast("long")` silently maps a non-numeric string id
    * to NULL — surfacing later as an NPE at `getLong`, or worse in
    * threadPaths, where an unparseable PARENT looks like a NULL parent
    * and the row is silently promoted to a path root. Fail at the first
    * bad row instead, carrying the offending value in the error. */
  def strictLongId(c: Column, ctx: String): Column =
    when(c.isNotNull && c.cast("long").isNull,
      raise_error(concat(lit(s"$ctx: non-long-castable id '"),
        c.cast("string"), lit("' — this operator requires int64 ids"))))
      .otherwise(c.cast("long"))

  def hash32(key: Column, salt: String = ""): Column = {
    val k = if (salt.isEmpty) key.cast("string")
      else concat(lit(salt), key.cast("string"))
    conv(substring(md5(k), 1, 8), 16, 10).cast("long")
  }

  /** Deterministic weighted sampling: `perGroup` rows per group, chosen
    * with probability (approximately) proportional to `weight`, without
    * replacement. Each row draws priority = hash32(key)/weight — a
    * heavier row gets a stochastically smaller priority, and the
    * `perGroup` smallest priorities win (weighted priority sampling;
    * the single-division analogue of the Efraimidis–Spirakis
    * exponential-key scheme, chosen because one IEEE division
    * reproduces bitwise in any engine while `ln`/`pow` keys are at the
    * mercy of libm). Ties (identical priority) break on the key.
    *
    * Rows with `weight <= 0` (or null) are EXCLUDED — they have no
    * meaningful inclusion probability (weight 0 would yield priority
    * Infinity/NaN, negative weights would always win), so they are
    * filtered rather than silently producing nonsense.
    *
    * Same scale shape as [[stratified]]: one shuffle on the group
    * column, per-stratum window rank; pre-filter hot groups with
    * [[hashSample]] to bound sorted volume at extreme scale. */
  def weightedSample(df: DataFrame, groupCol: String, key: Column,
                     weight: Column, perGroup: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col("__prio"), key.cast("string"))
    df.filter(weight > 0)
      .withColumn("__prio",
        hash32(key, "wt_").cast("double") / weight.cast("double"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= perGroup)
      .drop("__prio", "__rn")
  }

  /** UNGROUPED weighted sampling: the `k` globally-smallest priorities
    * (same `wt_`-salted priority = hash32/weight and same key
    * tie-break as [[weightedSample]], so the selected SET is identical
    * to `weightedSample(df, <constant group>, …)`), but formulated as
    * `orderBy(priority).limit(k)` — Spark plans that as
    * TakeOrderedAndProject: a bounded k-row heap per partition merged
    * on the driver, ZERO shuffle, no single-partition global window.
    * The window formulation moves the whole corpus (text columns
    * included) through one task; this one moves k rows per partition.
    * Use this whenever the sample is corpus-global (DSIR selection,
    * budgeted pools); use [[weightedSample]] when a per-group quota is
    * the point.
    *
    * `weightProvablyPositive`: Catalyst pushes the `weight > 0` guard
    * below the projection that computes `weight` and INLINES the full
    * expression into the filter condition — if the weight is an
    * expensive derived column (DSIR importance evaluates its
    * hashed-ngram featurizer 34× per row inside the pushed-down
    * predicate), the guard can dominate the query. A caller that can
    * prove positivity by construction (e.g. Laplace-smoothed
    * likelihood ratios are > 0 whenever any feature fires, and the
    * featureless fallback is 1.0) sets this to skip the guard; the
    * default keeps it, because weight ≤ 0 silently corrupts the
    * priority order. */
  def weightedTopK(df: DataFrame, key: Column, weight: Column,
                   k: Int, weightProvablyPositive: Boolean = false): DataFrame = {
    val pool = if (weightProvablyPositive) df else df.filter(weight > 0)
    pool
      .withColumn("__prio",
        hash32(key, "wt_").cast("double") / weight.cast("double"))
      .orderBy(col("__prio"), key.cast("string"))
      .limit(k)
      .drop("__prio")
  }

  /** Deterministic mixture resampling by REPETITION: each row is
    * emitted `⌊w⌋ + [u < frac(w)]` times, where `w` is its group's
    * resampling weight and `u = hash32(key)/2³²` — i.e. groups with
    * weight 2.3 are repeated twice always and a deterministic 30% of
    * their rows a third time; weight 0.4 keeps a 40% subset (the
    * repetition generalization of [[temperatureResample]], covering
    * up-sampling as well as down-). In expectation every group
    * contributes `n_g·w_g` rows — the epoch-style mixture a training
    * run materializes. `maxRepeat` caps pathological weights so one
    * tiny group cannot explode the output (capped groups are simply
    * repeated `maxRepeat` times — log the cap, don't hide it).
    *
    * The weight table is one tiny broadcast; the repetition is
    * map-side `explode(sequence(...))` — no shuffle at all. The output
    * carries `copy` (1-based repetition index) so downstream global
    * shuffling can separate the copies.
    *
    * NOTE: the weight join is INNER — rows whose group is absent from
    * `weights` are dropped (an absent group has no defined mixture
    * weight; pass weight 0 explicitly to drop a group on purpose, or
    * 1.0 to pass it through unchanged). */
  def mixtureResample(df: DataFrame, groupCol: String, key: Column,
                      weights: DataFrame, weightCol: String = "weight",
                      maxRepeat: Int = 8): DataFrame = {
    val w = least(col(weightCol).cast("double"), lit(maxRepeat.toDouble))
    val reps = floor(w).cast("long") +
      when(hash32(key, "mix_").cast("double") / lit(4294967296.0) < (w - floor(w)),
        1L).otherwise(0L)
    df.join(broadcast(weights.select(col(groupCol), col(weightCol))), groupCol)
      .withColumn("__reps", reps)
      // sequence(1, 0) would count DOWN ([1, 0]); zero-rep rows need an
      // empty array so explode drops them
      .withColumn("copy", explode(when(col("__reps") >= 1L,
        sequence(lit(1L), col("__reps")))
        .otherwise(array().cast("array<bigint>"))))
      .drop("__reps", weightCol)
  }

  /** One DoReMi-style mixture-weight update (Xie et al. 2023's
    * Group-DRO step, the multiplicative-weights form): each domain's
    * weight multiplies by exp(η · excess) where excess = max(0,
    * loss − ref_loss) — domains the proxy model finds HARDER than the
    * reference get upweighted — then the vector renormalizes to sum 1.
    * The reweighting half of the mixture toolchain: feed the output
    * to [[mixtureResample]] and the corpus physically re-balances.
    *
    * Determinism: the multiplier rounds to 9 AT BIRTH
    * (round(exp(η·excess), 9) — exp has cross-engine precedent in the
    * BLEU oracle), the raw product re-rounds to 9, and the normalizer
    * folds the ≤#domains raw weights in DOMAIN ORDER (sorted structs,
    * the calibration/ECE discipline) before ONE division each,
    * round-6 at output. η is embedded in the SQL replay as the
    * Scala-printed double (the mmrSelect lesson). Input is one row
    * per domain — bounded model state, a broadcast-sized table; the
    * op is a map + one B-struct fold, nothing corpus-scale. */
  def doremiReweight(domains: DataFrame, domainCol: String,
                     lossCol: String, refCol: String, weightCol: String,
                     eta: Double = 1.0): DataFrame = {
    val excess = greatest(col(lossCol).cast("double") -
      col(refCol).cast("double"), lit(0.0))
    val raw = round(col(weightCol).cast("double") *
      round(exp(lit(eta) * excess), 9), 9)
    val base = domains.select(col(domainCol).as("d"), excess.as("excess"),
      raw.as("raw"))
    val z = base
      .agg(sort_array(collect_list(struct(col("d"), col("raw")))).as("xs"))
      .select(expr(
        "aggregate(xs, cast(0 as double), (acc, x) -> acc + x.raw)").as("z"))
    base.crossJoin(broadcast(z))
      .select(col("d").as(domainCol), round(col("excess"), 6).as("excess"),
        when(col("z") > 0, round(col("raw") / col("z"), 6))
          .otherwise(lit(0.0)).as("weight"))
  }
}
