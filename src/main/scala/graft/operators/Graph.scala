package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph centrality — the data-quality signal family the
  * big crawl pipelines use (PageRank / harmonic centrality over the
  * link graph decides which domains are worth keeping). Complements
  * [[Dedup.duplicateClusters]] (connected components): components say
  * WHICH rows belong together, centrality says which node of a
  * component is the prototype.
  *
  * Determinism: ranks are FIXED-POINT integers (scaled by `scale`,
  * floor division everywhere), so every iteration is exact 64-bit
  * integer arithmetic — bit-identical across runs, partitionings and
  * engines, hash-comparable against a SQL replay. Floating-point
  * PageRank cannot make that promise: per-node contributions arrive in
  * shuffle order and double addition does not commute.
  *
  * Scale shape: each iteration is one equi-join of the edge list
  * against the current ranks on `src` (shuffle on a bounded-width key,
  * map-side partial aggregation of contributions) plus a left join
  * back to the node set; `localCheckpoint` truncates lineage per
  * iteration exactly like the components loop. Driver state is ONE
  * scalar (the node count). Dangling nodes keep the teleport term.
  */
object Graph {

  /** Size-gated broadcast of a per-node vector (ranks, sums): the node
    * count is EXACT driver knowledge in every iterative loop here (one
    * scalar from `nodes.count()`), so the broadcast decision needs no
    * Catalyst size estimate — below the cap the rank side broadcasts
    * and the (much larger) checkpointed edge table is never shuffled;
    * above it the plain shuffle join stands. Cap: rows, defaulting to
    * 4M (~64 MB built relation of (id, rank) longs — comfortably inside
    * executor memory, far under the 8 GB broadcast hard cap); override
    * with spark.graft.graph.broadcastNodesMax for clusters with more
    * or less headroom. Join strategy cannot change the VALUES (all
    * iteration arithmetic is exact int64), only the exchange count. */
  private def rankSide(df: DataFrame, nNodes: Long): DataFrame = {
    val cap = df.sparkSession.conf
      .get("spark.graft.graph.broadcastNodesMax", "4000000").toLong
    if (nNodes <= cap) broadcast(df) else df
  }

  /** Fixed-point PageRank over a directed edge list (`src`, `dst`):
    * r'(v) = (15·scale)/(100·N) + (85 · Σ_{u→v} r(u) div outdeg(u)) div 100,
    * run for exactly `iterations` rounds from the uniform start
    * (scale div N). Returns (id, rank_fp) with rank_fp ≈ rank·scale.
    *
    * Unlike the components loop (which must materialize each generation
    * to read its convergence flag), a fixed-iteration PageRank needs NO
    * mid-loop job: iterations compose into one lazy plan whose repeated
    * edge/outdeg subtrees collapse via exchange reuse, and the whole
    * rank computation runs as a single job. `checkpointInterval` bounds
    * the plan depth for LARGE iteration counts (Catalyst analysis grows
    * with the chain): every `interval` generations the loop eagerly
    * checkpoints and frees the superseded generation's blocks
    * ([[graft.core.Checkpoints]]). At the default 5 iterations the loop
    * is checkpoint-free — measured 3-4× faster than checkpointing every
    * generation. */
  def pageRank(edges: DataFrame, iterations: Int = 5,
               scale: Long = 1000000000000L,
               checkpointInterval: Int = 5): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    require(checkpointInterval >= 1, "checkpoint interval must be positive")
    import graft.core.Checkpoints
    // the returned lazy plan reads these on every downstream action;
    // the ContextCleaner frees them once the caller drops the result
    val e = Checkpoints.eager(
      edges.select(col("src"), col("dst")).distinct()
    ) // edge generation runs exactly once
    val nodes = Checkpoints.eager(
      e.select(col("src").as("id"))
        .unionByName(e.select(col("dst").as("id"))).distinct())
    val n = nodes.count() // bounded driver state: one scalar
    // outDeg rides the SAME size gate as the ranks: broadcast once,
    // the identical subtree reuses one build across all iterations —
    // the checkpointed edge table then never shuffles (round 17)
    val outDeg = rankSide(e.groupBy("src").agg(count(lit(1)).as("deg")), n)
    val teleport = 15L * scale / (100L * n) // floor, same in the SQL replay
    var ranks = nodes.withColumn("r", lit(scale / n))
    var held = ranks // the checkpoint `ranks` reads; none yet, so free is a no-op
    for (i <- 1 to iterations) {
      val sums = e
        .join(rankSide(ranks.withColumnRenamed("id", "src"), n), "src")
        .join(outDeg, "src")
        .select(col("dst").as("id"), expr("r div deg").as("c"))
        .groupBy("id").agg(sum(col("c")).as("s"))
      // nodes (checkpointed hash(id)) and sums (agg output hash(id))
      // are co-partitioned: the left join is exchange-free — do NOT
      // broadcast sums, that would trade a free join for a build job
      val next = nodes.join(sums, Seq("id"), "left")
        .select(col("id"), (lit(teleport) +
          expr("(85 * coalesce(s, cast(0 as bigint))) div 100")).as("r"))
      if (i % checkpointInterval == 0 && i < iterations) {
        ranks = Checkpoints.eager(next)
        Checkpoints.free(held) // superseded generation is dead
        held = ranks
      } else {
        ranks = next
      }
    }
    ranks.select(col("id"), col("r").as("rank_fp"))
  }

  /** Personalized PageRank: identical fixed-point arithmetic to
    * [[pageRank]], but the teleport mass lands ONLY on the `seeds`
    * set — r'(v) = [v ∈ seeds]·(15·scale)/(100·|seeds|) + (85 ·
    * Σ_{u→v} r(u) div outdeg(u)) div 100, from the uniform-over-seeds
    * start. The crawl-seed-expansion form: rank mass diffuses outward
    * from a trusted seed list, so high-PPR unseen nodes are the next
    * domains worth fetching (and low-PPR high-degree nodes are spam
    * hubs). Same scale shape and determinism promise as [[pageRank]];
    * seeds are a driver-side bounded set shipped as a broadcast-joined
    * literal table. */
  def personalizedPageRank(edges: DataFrame, seeds: Seq[Long],
                           iterations: Int = 5,
                           scale: Long = 1000000000000L,
                           checkpointInterval: Int = 5): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    require(seeds.nonEmpty, "personalization needs at least one seed")
    import graft.core.Checkpoints
    val spark = edges.sparkSession
    import spark.implicits._
    val e = Checkpoints.eager(
      edges.select(col("src"), col("dst")).distinct())
    val nodes = Checkpoints.eager(
      e.select(col("src").as("id"))
        .unionByName(e.select(col("dst").as("id"))).distinct())
    val n = nodes.count() // drives the same size-gated broadcast as pageRank
    val seedDf = seeds.distinct.toDF("id").withColumn("is_seed", lit(true))
    val teleport = 15L * scale / (100L * seeds.distinct.size)
    val start = scale / seeds.distinct.size
    // outDeg broadcast once under the same size gate (see pageRank)
    val outDeg = rankSide(e.groupBy("src").agg(count(lit(1)).as("deg")), n)
    val withSeed = nodes.join(broadcast(seedDf), Seq("id"), "left")
      .select(col("id"), coalesce(col("is_seed"), lit(false)).as("is_seed"))
    var ranks = withSeed
      .withColumn("r", when(col("is_seed"), lit(start)).otherwise(lit(0L)))
      .select("id", "r")
    var held = ranks
    for (i <- 1 to iterations) {
      val sums = e
        .join(rankSide(ranks.withColumnRenamed("id", "src"), n), "src")
        .join(outDeg, "src")
        .select(col("dst").as("id"), expr("r div deg").as("c"))
        .groupBy("id").agg(sum(col("c")).as("s"))
      val next = withSeed.join(sums, Seq("id"), "left")
        .select(col("id"),
          (when(col("is_seed"), lit(teleport)).otherwise(lit(0L)) +
            expr("(85 * coalesce(s, cast(0 as bigint))) div 100")).as("r"))
      if (i % checkpointInterval == 0 && i < iterations) {
        ranks = Checkpoints.eager(next)
        Checkpoints.free(held)
        held = ranks
      } else {
        ranks = next
      }
    }
    ranks.select(col("id"), col("r").as("rank_fp"))
  }

  /** Fixed-point HITS hubs-and-authorities (Kleinberg 1999) over a
    * directed edge list: a'(v) = Σ_{u→v} h(u), h'(u) = Σ_{u→v} a'(v),
    * each vector re-normalized after its half-step. The second link
    * centrality the crawl pipelines actually use next to [[pageRank]]:
    * directories/link farms light up as HUBS while the pages worth
    * fetching light up as AUTHORITIES — PageRank alone conflates the
    * two roles into one score.
    *
    * Determinism: same promise as [[pageRank]] — all arithmetic is
    * exact int64. Classic HITS normalizes by the L2 norm (a square
    * root — not integer-replayable); this implementation uses the
    * equally standard L∞ normalization x ← (x·scale) div max(x),
    * whose fixed point is the same principal eigenvector direction
    * and which is floor-exact in both engines. max(x) is a 1-row
    * aggregate broadcast back — bounded driver-free scalar state.
    * Overflow bound, NAMED: after normalization x ≤ scale, so a raw
    * sum is ≤ deg_max·scale and the renormalization multiplies by
    * scale again — deg_max·scale² must stay below 2⁶³ (at the default
    * scale 10⁶ that allows in/out-degrees to ~9·10⁶; drop scale for
    * spammier graphs).
    *
    * Scale shape per iteration: two edge-keyed equi-joins (shuffle on
    * src then dst, map-side partial sums) and two 1-row max
    * aggregates broadcast back. Each half-step's raw sums are LAZILY
    * CHECKPOINTED before the max: the normalization consumes the sums
    * twice (once in the 1-row max's broadcast job, once row-wise in
    * the main job), and without the checkpoint each iteration
    * re-derives the whole prior chain through both reads — the plan
    * doubles per half-step, 2^8 recompute at 4 iterations (measured
    * at sf0.1: 15.2 s fully lazy vs 10.9 s checkpointed; the
    * remaining cost is the honest price of 8 edge-join half-steps —
    * q_pagerank's 5 single-step iterations measure ~6 s on the same
    * graph). The broadcast job itself materializes each half-step's
    * blocks, so no extra actions run; the ContextCleaner frees the
    * blocks once nothing references them (lazy checkpoints must not be
    * freed mid-loop — see [[graft.core.Checkpoints.lazily]]). Returns
    * (id, hub_fp, auth_fp). */
  def hits(edges: DataFrame, iterations: Int = 5,
           scale: Long = 1000000L): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    import graft.core.Checkpoints
    val e = Checkpoints.eager(
      edges.select(col("src"), col("dst")).distinct())
    val nodes = Checkpoints.eager(
      e.select(col("src").as("id"))
        .unionByName(e.select(col("dst").as("id"))).distinct())
    val n = nodes.count() // drives the same size-gated broadcast as pageRank
    def renorm(raw: DataFrame, c: String): DataFrame = {
      val mx = raw.agg(max(col(c)).as("mx"))
      raw.crossJoin(broadcast(mx))
        .select(col("id"), when(col("mx") > 0,
          expr(s"($c * ${scale}L) div mx")).otherwise(lit(0L)).as(c))
    }
    var hubs = nodes.withColumn("h", lit(scale))
    var auths: DataFrame = null
    for (_ <- 1 to iterations) {
      val aRaw = Checkpoints.lazily(nodes.join(
        e.join(rankSide(hubs.withColumnRenamed("id", "src"), n), "src")
          .groupBy(col("dst").as("id")).agg(sum("h").as("a")),
        Seq("id"), "left")
        .select(col("id"), coalesce(col("a"), lit(0L)).as("a")))
      auths = renorm(aRaw, "a")
      val hRaw = Checkpoints.lazily(nodes.join(
        e.join(rankSide(auths.withColumnRenamed("id", "dst"), n), "dst")
          .groupBy(col("src").as("id")).agg(sum("a").as("h")),
        Seq("id"), "left")
        .select(col("id"), coalesce(col("h"), lit(0L)).as("h")))
      hubs = renorm(hRaw, "h")
    }
    hubs.join(auths, Seq("id"))
      .select(col("id"), col("h").as("hub_fp"), col("a").as("auth_fp"))
  }

  /** Bounded-radius harmonic centrality over the undirected graph:
    * hc_R(v) = Σ_{r=1..R} n_r(v) · round(1/r, 9), where n_r(v) is the
    * EXACT count of nodes at shortest-path distance r — the
    * centrality Boldi & Vigna (2014) recommend over closeness for
    * disconnected web graphs, here truncated at radius R (the
    * hyperball trick without the sketch: counts stay exact). PageRank
    * rewards being linked FROM important nodes; harmonic rewards
    * being NEAR everything — a crawl-frontier prioritization signal
    * with a different failure mode than both [[pageRank]] and
    * [[hits]].
    *
    * Determinism: BFS layers are exact distinct (v, u) sets (integer
    * equi-joins + anti-joins), layer counts are int64, and the final
    * score is a FIXED R-term expression of count·constant products —
    * the 1/r constants are decimal-rounded to 9 ONCE in Scala and
    * embedded as identical literals in both engines, so the sum is
    * bit-identical (R ≤ 6 terms, fixed order).
    *
    * Scale bound, NAMED: `visited` holds every (v, u) pair within
    * distance R — O(n · ball_R) rows. Truncated-radius centrality is
    * exactly the regime where that ball is small (R ≤ 3 on sparse
    * graphs); on dense graphs use the HyperBall sketch instead (the
    * [[graft.operators.Dedup]] HLL machinery would carry it). Each
    * round checkpoints, bounding plan depth like the other loops. */
  def harmonicCentrality(edges: DataFrame, radius: Int = 3): DataFrame = {
    require(radius >= 1 && radius <= 6, "radius out of the exact-count regime")
    import graft.core.Checkpoints
    val e0 = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val und = Checkpoints.eager(
      e0.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(e0.select(col("b").as("src"), col("a").as("dst"))))
    val nodes = Checkpoints.eager(und.select(col("src").as("id")).distinct())
    var visited = nodes.select(col("id").as("v"), col("id").as("u"))
    var frontier = visited
    val layerCounts = Seq.newBuilder[DataFrame]
    for (r <- 1 to radius) {
      val next = frontier.join(und, frontier("u") === und("src"))
        .select(frontier("v").as("v"), und("dst").as("u")).distinct()
        .join(visited, Seq("v", "u"), "left_anti")
      val nf = Checkpoints.eager(next)
      layerCounts += nf.groupBy("v").agg(count(lit(1)).as(s"n$r"))
      val vis = Checkpoints.eager(visited.unionByName(nf))
      Checkpoints.free(visited) // a no-op on round 1's projection of nodes
      visited = vis
      frontier = nf
    }
    // the output reads only nodes and the frontier layers
    Checkpoints.free(visited)
    Checkpoints.free(und)
    val consts = (1 to radius).map(r =>
      BigDecimal(1).bigDecimal.divide(BigDecimal(r).bigDecimal, 9,
        java.math.RoundingMode.HALF_UP).toPlainString)
    val base = layerCounts.result().foldLeft(
      nodes.select(col("id").as("v")))((acc, df) => acc.join(df, Seq("v"), "left"))
    val filled = (1 to radius).foldLeft(base)((df, r) =>
      df.withColumn(s"n$r", coalesce(col(s"n$r"), lit(0L))))
    val hc = (1 to radius).map(r =>
      col(s"n$r").cast("double") * lit(consts(r - 1).toDouble))
      .reduce(_ + _)
    filled.select((col("v").as("id") +:
      (1 to radius).map(r => col(s"n$r"))) :+ hc.as("harmonic"): _*)
  }

  /** EXACT triangle enumeration by degree-ordered orientation (the
    * standard distributed formulation): orient every undirected edge
    * from its lower-(degree, id) endpoint to the higher, enumerate
    * wedges only at each vertex's OUT-neighbors, and close them with
    * one semi-join back against the oriented edges.
    *
    * Why the orientation matters at scale: out-degrees under it are
    * bounded by O(√m), so the wedge self-join emits O(m^1.5) rows
    * worst-case — a celebrity hub in a follower graph contributes its
    * edges as wedge ENDPOINTS, never as a Σdeg² wedge center (the same
    * skew-bomb discipline as the rarity-ordered PPJoin prefixes).
    * Everything is integer equi-joins, so the result is the exact
    * triangle SET, deterministic and oracle-checkable — returned as
    * canonical rank-ordered (u, v, w) rows, u the wedge center. */
  def triangles(edges: DataFrame, src: String = "src",
                dst: String = "dst"): DataFrame = {
    val e0 = edges
      .select(least(col(src), col(dst)).as("a"),
        greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = e0.select(explode(array(col("a"), col("b"))).as("x"))
      .groupBy("x").agg(count(lit(1)).as("d"))
    val withDeg = e0
      .join(deg.withColumnRenamed("x", "a").withColumnRenamed("d", "da"), "a")
      .join(deg.withColumnRenamed("x", "b").withColumnRenamed("d", "db"), "b")
    val aLower = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg.select(
      when(aLower, col("a")).otherwise(col("b")).as("lo"),
      when(aLower, col("b")).otherwise(col("a")).as("hi"))
    // hi-endpoint rank rides along so the wedge pair (v, w) comes out
    // rank-ordered — which is exactly the orientation of the closing
    // edge, so the semi-join needs no direction disjunction.
    // spreadForCpu pins the wedge self-join's width on the small
    // fixture: the join's input BYTES are tiny (AQE coalesced it to
    // one task) but its output fan-out is the O(m^1.5) wedge set —
    // CPU-dense generation that should run machine-wide (round-17
    // profile: 1.2-1.6 s single-task wedge stages per kTruss round).
    // Both join sides are this same subtree, so the one exchange is
    // shared (ReuseExchange); at scale the spread is a no-op.
    val oriR = graft.core.Par.spreadForCpu(oriented
      .join(deg.withColumnRenamed("x", "hi").withColumnRenamed("d", "dh"), "hi"),
      col("lo"))
    val wedges = oriR.as("e1").join(oriR.as("e2"),
        col("e1.lo") === col("e2.lo") &&
          (col("e1.dh") < col("e2.dh") ||
            (col("e1.dh") === col("e2.dh") && col("e1.hi") < col("e2.hi"))))
      .select(col("e1.lo").as("u"), col("e1.hi").as("v"), col("e2.hi").as("w"))
    wedges.join(
        oriented.withColumnRenamed("lo", "v").withColumnRenamed("hi", "w"),
        Seq("v", "w"), "left_semi")
      .select(col("u"), col("v"), col("w"))
  }

  /** k-core peeling over an undirected edge list: repeatedly delete
    * every vertex of degree < k (and its edges) for exactly `rounds`
    * peels, returning the surviving vertices with their residual
    * degree (id, core_deg). Bounded rounds rather than
    * run-to-convergence keeps the result a pure function of (edges, k,
    * rounds) — deterministic, oracle-replayable round by round — and
    * in practice peeling converges in a handful of rounds on
    * power-law graphs (each peel removes the whole current fringe at
    * once, not one vertex at a time as the sequential textbook
    * algorithm does).
    *
    * Scale shape per peel: one degree aggregation (map-side partials
    * over the edge list) + two semi-joins of the edge list against
    * the surviving-vertex set — every operation keyed on vertex ids,
    * no all-pairs anything, hubs cost their degree and nothing more.
    * Like [[pageRank]], iterations compose into one lazy plan with
    * periodic eager checkpoints bounding analysis depth; driver state
    * is zero rows. */
  def kCore(edges: DataFrame, k: Int, rounds: Int = 8,
            checkpointInterval: Int = 4): DataFrame = {
    require(k >= 1, "k must be positive")
    require(rounds >= 1 && rounds <= 64, s"rounds=$rounds out of range")
    import graft.core.Checkpoints
    def degrees(e: DataFrame): DataFrame =
      e.select(explode(array(col("a"), col("b"))).as("x"))
        .groupBy("x").agg(count(lit(1)).as("d"))
    var cur = Checkpoints.eager(
      edges.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") =!= col("b")).distinct())
    var held = cur // the checkpoint `cur` reads
    for (r <- 1 to rounds) {
      val keep = degrees(cur).filter(col("d") >= k).select("x")
      val next = cur
        .join(keep.withColumnRenamed("x", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("x", "b"), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
      if (r % checkpointInterval == 0 && r < rounds) {
        cur = Checkpoints.eager(next)
        Checkpoints.free(held)
        held = cur
      } else {
        cur = next
      }
    }
    degrees(cur).select(col("x").as("id"), col("d").as("core_deg"))
  }

  /** Synchronous label propagation community detection (Raghavan,
    * Albert & Kumara 2007), made deterministic: every node starts
    * labeled with its own id, and each round relabels EVERY node with
    * the most frequent label among its neighbors, ties broken by the
    * SMALLEST label — run for exactly `rounds` synchronous rounds.
    * The async/random-order variant of the paper converges faster but
    * is irreproducible by construction; the synchronous fixed-round
    * form replays exactly in SQL (materialized per-round CTEs, the
    * kCore discipline). Dense communities collapse onto their minimum
    * id within a few rounds; the known bipartite-oscillation property
    * of synchronous LPA is harmless under a fixed round count and
    * identical in both engines. Output: (id, community).
    *
    * Scale shape: the input symmetrizes once (both directions,
    * distinct); each round is ONE join of the undirected edge list
    * against current labels on the neighbor key plus two id-keyed
    * aggregations (label counts, then an argmax via max(struct) — no
    * window). Labels are single longs per node — the per-round
    * shuffle carries (id, label, count) triples, never adjacency
    * lists. `checkpointInterval` bounds plan depth exactly as in
    * [[pageRank]]. */
  def labelPropagation(edges: DataFrame, rounds: Int = 4,
                       checkpointInterval: Int = 4): DataFrame = {
    require(rounds >= 1 && rounds <= 64, s"rounds=$rounds out of range")
    import graft.core.Checkpoints
    val dir0 = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    val und = Checkpoints.eager(
      dir0.unionByName(dir0.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())
    var labels = und.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id"))
    var held = labels
    for (r <- 1 to rounds) {
      val next = und
        .join(labels.select(col("id").as("dst"), col("lbl").as("nlbl")), "dst")
        .groupBy(col("src").as("id"), col("nlbl"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("id")
        .agg(max(struct(col("cnt"), (-col("nlbl")).as("neg"))).as("m"))
        .select(col("id"), (-col("m.neg")).as("lbl"))
      if (r % checkpointInterval == 0 && r < rounds) {
        labels = Checkpoints.eager(next)
        Checkpoints.free(held)
        held = labels
      } else {
        labels = next
      }
    }
    labels.select(col("id"), col("lbl").as("community"))
  }

  /** Adamic–Adar link prediction: for every non-adjacent vertex pair
    * (u, v) sharing at least one neighbor, score = Σ_z 1/ln(deg(z))
    * over the common neighbors z — the classic common-neighbor
    * predictor that down-weights hub intermediaries (Adamic & Adar,
    * "Friends and neighbors on the Web", 2003). Output:
    * (u, v, n_common, aa) with u < v; each term 1/ln(deg) is rounded
    * to 9 decimals at birth and the sum is an explicit sorted fold,
    * rounded to 6 — the suite's transcendental-sum discipline.
    *
    * Scale shape: wedges are enumerated by ONE neighbor-keyed
    * self-join of the adjacency list — each z contributes deg(z)²
    * candidate pairs, the quadratic hub bomb. `maxHubDeg` EXCLUDES
    * wedge centers above the cap (deterministically, mirrored by the
    * oracle): a hub's weight 1/ln(deg) is the least informative
    * contribution by construction, and capping bounds the join at
    * Σ_z min(deg(z), cap)² — the triangle-orientation idea applied
    * where orientation cannot help (both wedge endpoints are outputs
    * here, not probes). The existing-edge exclusion is one left-anti
    * join on the canonical (u, v) key. */
  def adamicAdar(edges: DataFrame, src: String = "src",
                 dst: String = "dst", maxHubDeg: Long = 1000L): DataFrame = {
    val e0 = edges
      .select(least(col(src), col(dst)).as("a"),
        greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val adj = e0.select(col("a").as("x"), col("b").as("z"))
      .unionByName(e0.select(col("b").as("x"), col("a").as("z")))
    val deg = adj.groupBy("z").agg(count(lit(1)).as("d"))
    val center = adj.join(deg.filter(col("d") <= maxHubDeg), "z")
    val wedges = center.as("l").join(center.as("r"),
        col("l.z") === col("r.z") && col("l.x") < col("r.x"))
      .select(col("l.x").as("u"), col("r.x").as("v"), col("l.d").as("dz"))
    wedges
      .join(e0.withColumnRenamed("a", "u").withColumnRenamed("b", "v"),
        Seq("u", "v"), "left_anti")
      // determinism: each wedge term 1/ln(deg) is rounded to 9 AT
      // BIRTH and summed by a sorted fold (the naive-Bayes ln
      // discipline) — round-6 AFTER an unordered GROUP-BY double sum
      // was the one house-rule deviation left in the suite
      .withColumn("term",
        round(lit(1.0) / log(col("dz").cast("double")), 9))
      .groupBy("u", "v")
      .agg(count(lit(1)).as("n_common"),
        sort_array(collect_list(col("term"))).as("terms"))
      .select(col("u"), col("v"), col("n_common"),
        round(expr("aggregate(terms, cast(0 as double), (acc, x) -> acc + x)"),
          6).as("aa"))
  }

  /** k-truss decomposition by fixed-round support peeling (Cohen,
    * 2008) — the EDGE-level cohesion rung above [[kCore]]'s
    * node-level one: each round counts, per surviving edge, the
    * triangles it closes (its SUPPORT) and drops edges with support
    * < k−2; a converged result is the maximal subgraph where every
    * edge sits in ≥ k−2 triangles. Exactly `rounds` synchronous
    * rounds (the kCore bounded-rounds discipline — no data-dependent
    * driver loop; an unconverged graph just reports its current
    * supports, which the final recount makes explicit). Returns
    * (a, b, support) for surviving edges, support recounted on the
    * FINAL edge set so the output is self-consistent.
    *
    * Scale shape: triangles enumerate once per round through
    * [[triangles]]'s degree-ordered orientation (wedge fan-out
    * bounded by Σ d_lo² over LOW-degree endpoints — the standard
    * hub guard), each triangle expands to its three undirected
    * edges, and the support aggregation + semi-join filter are both
    * (a, b)-keyed. Per-round shuffles carry edge pairs and triangle
    * triples only — never adjacency lists. */
  def kTruss(edges: DataFrame, k: Int, rounds: Int = 3): DataFrame = {
    require(k >= 3, "k-truss needs k >= 3 (k-2 >= 1)")
    require(rounds >= 1 && rounds <= 64, s"rounds=$rounds out of range")
    import graft.core.Checkpoints
    def support(e: DataFrame): DataFrame =
      triangles(e, "a", "b")
        .select(explode(array(
          struct(least(col("u"), col("v")).as("a"),
            greatest(col("u"), col("v")).as("b")),
          struct(least(col("u"), col("w")).as("a"),
            greatest(col("u"), col("w")).as("b")),
          struct(least(col("v"), col("w")).as("a"),
            greatest(col("v"), col("w")).as("b")))).as("ed"))
        .select(col("ed.a").as("a"), col("ed.b").as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("support"))
    var cur = Checkpoints.eager(
      edges.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") =!= col("b")).distinct())
    // checkpoint EVERY round: `cur` is referenced twice per round
    // (inside support() and as the semi-join's left side) and the
    // per-reference cost is a full triangle enumeration — a lazy
    // chain re-derives 2^rounds times (the q_hits lesson; measured
    // 67.6 → see BASELINE round-10 notes on the 500k-edge soak graph)
    for (_ <- 1 to rounds) {
      val keep = support(cur).filter(col("support") >= k - 2)
        .select("a", "b")
      val ck = Checkpoints.eager(cur.join(keep, Seq("a", "b"), "left_semi"))
      Checkpoints.free(cur)
      cur = ck
    }
    cur.join(support(cur), Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** Degree assortativity (Newman 2002) over the undirected simple
    * graph — the one-number answer to "do hubs link to hubs?" (social
    * graphs ≈ +0.2, the web ≈ −0.1; a crawl graph's sign drives
    * frontier-scheduling and sampling choices). Over the
    * both-directions edge list E (|E| = 2m):
    * r = [Σjk/|E| − (Σ(j+k)/(2|E|))²] /
    *     [Σ(j²+k²)/(2|E|) − (Σ(j+k)/(2|E|))²]
    * with j, k the endpoint degrees — the Pearson correlation of
    * degrees across edges. ONE row out: (n_nodes, n_edges, r) with
    * n_edges the UNDIRECTED count |E|/2.
    *
    * Determinism: every Σ is an exact decimal(38,0) over int64
    * degrees; r composes in ONE fixed IEEE order, round 6. A
    * degree-regular graph (zero variance) reports NULL. Self-loops
    * dropped, edges deduplicated — the [[labelPropagation]] graph
    * convention.
    *
    * Scale shape: one distinct on edges, one degree aggregate, two
    * broadcast joins of degrees onto edges, a 1-row reduce — no
    * iteration, no window. */
  def assortativity(edges: DataFrame): DataFrame = {
    val dir0 = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    val und = dir0
      .unionByName(dir0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val deg = und.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("d"))
    val joined = und
      .join(deg.select(col("id").as("src"), col("d").as("j")), "src")
      .join(deg.select(col("id").as("dst"), col("d").as("k")), "dst")
    val agg = joined.agg(
      count(lit(1)).as("ecnt"),
      sum(col("j").cast("decimal(38,0)") * col("k")).as("sjk"),
      sum(col("j").cast("decimal(38,0)") + col("k")).as("sjpk"),
      sum(col("j").cast("decimal(38,0)") * col("j") +
        col("k").cast("decimal(38,0)") * col("k")).as("sj2k2"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"))
    val eD = col("ecnt").cast("double")
    val mu = col("sjpk").cast("double") / (lit(2.0) * eD)
    val num = col("sjk").cast("double") / eD - mu * mu
    val den = col("sj2k2").cast("double") / (lit(2.0) * eD) - mu * mu
    agg.crossJoin(broadcast(nodes))
      .select(col("n_nodes"),
        expr("ecnt div 2L").as("n_edges"),
        when(col("ecnt") > 0 && den > 0.0, round(num / den, 6))
          .otherwise(lit(null).cast("double")).as("r"))
  }

  /** Newman–Girvan modularity of a community assignment over the
    * undirected simple graph — the NUMBER that grades what
    * [[labelPropagation]] found (Q near 0: no better than random;
    * Q ≳ 0.3: real structure): Q = Σ_c [e_c/m − (d_c/2m)²], computed
    * here in the fully-exact integer form
    * Q = (4m·Σe_c − Σd_c²) / (4m²) — one division, NO per-community
    * float fold, so community count can be data-sized (it is — every
    * singleton is a community) without any bounded-fold concern.
    * e_c = undirected within-community edges, d_c = Σ degrees in c.
    * ONE row out: (n_nodes, n_edges, n_communities, modularity).
    *
    * Determinism: Σe_c and Σd_c² exact decimal(38,0); one IEEE
    * division, round 6. m = 0 reports NULL. Same graph convention as
    * [[assortativity]].
    *
    * Scale shape: the degree/community joins are id-keyed shuffles;
    * within-community edge counting is ONE join of the a<b edge list
    * against the community map on both endpoints. */
  def modularity(edges: DataFrame, communities: DataFrame): DataFrame = {
    val dir0 = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    val und = dir0
      .unionByName(dir0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val half = und.filter(col("src") < col("dst"))
    val deg = und.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("d"))
    val com = communities.select(col("id"), col("community"))
    val m = half.agg(count(lit(1)).as("m"))
    val ein = half
      .join(com.select(col("id").as("src"), col("community").as("ca")), "src")
      .join(com.select(col("id").as("dst"), col("community").as("cb")), "dst")
      .filter(col("ca") === col("cb"))
      .agg(coalesce(count(lit(1)), lit(0L)).as("e_in"))
    val dsq = deg.join(com, "id")
      .groupBy("community").agg(sum(col("d")).as("dc"))
      .agg(sum(col("dc").cast("decimal(38,0)") * col("dc")).as("sdc2"),
        count(lit(1)).as("n_communities"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"))
    val q = (lit(4).cast("decimal(38,0)") * col("m") * col("e_in") -
      col("sdc2")).cast("double") /
      (lit(4.0) * col("m").cast("double") * col("m").cast("double"))
    m.crossJoin(broadcast(ein)).crossJoin(broadcast(dsq))
      .crossJoin(broadcast(nodes))
      .select(col("n_nodes"), col("m").as("n_edges"),
        col("n_communities"),
        when(col("m") > 0, round(q, 6))
          .otherwise(lit(null).cast("double")).as("modularity"))
  }
}
