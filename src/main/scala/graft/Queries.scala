package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.{TextAnalysis, Web}
import graft.operators.{Components, Dedup, Pipeline, Similarity}
import graft.sources.Listing

/** The oracle-checked query suite: every operator from SURVEY.md §2 plus
  * the LLM-data-pipeline operators, each as a (SparkSession, sfDir) =>
  * DataFrame and (where SQL-expressible) a DuckDB oracle query over the
  * same parquet tables.
  *
  * Float-determinism discipline (so hash-compare against DuckDB works):
  *  - money arithmetic is done EXACTLY in decimal and cast to double at
  *    the end — identical bit patterns in both engines;
  *  - vector math is double-precision left folds (Spark `aggregate` ≡
  *    DuckDB `list_sum`), identical operand order;
  *  - every aggregate / computed column is aliased identically on both
  *    sides (the driver compare sorts columns by name).
  */
object Queries {

  type QueryFn = (SparkSession, String) => DataFrame

  /** Exactly 10 tokens — one aligned k=10 passage when prepended; the
    * planted template block for the boilerplate-removal oracle. */
  private val BoilerplateBlock =
    "subscribe to our newsletter for daily updates click here now"

  /** Frozen 16-dim classifier weights (deterministic, non-trivial,
    * mixed-sign). `Double.toString` round-trips exactly, so the SAME
    * literals reach both engines. */
  private val ClassifierWeights: Seq[Double] =
    (0 until 16).map(i => ((i * 7) % 11 - 5) / 10.0)

  /** Blocklist dictionary for `q_blocklist` — shared verbatim by the
    * Spark automaton and the oracle's generated substring counts.
    * Deliberately includes a pattern pair where one is a suffix of
    * another ('he'/'she') and a self-overlapping pattern ('aba'). */
  private val BlocklistDict: Seq[String] =
    Seq("lorem ipsum", "click here", "aba", "she", "he")

  /** Shared DuckDB-oracle prefix for the BPE encode-family queries:
    * the 3 training rounds (identical to q_bpe_train's CTEs), the
    * vocab build (corpus alphabet in code-point order — DuckDB's
    * binary ORDER BY — then one id per merge, min(id) first-wins on
    * composed collisions), and the per-doc id-sequence encode. Ends
    * with the `enc` CTE (doc_id, bpe_ids) and NO trailing comma —
    * callers append either the final SELECT or further CTEs.
    * `preCtes` + `src` let a caller interpose a derived corpus CTE
    * (e.g. q_bpe_encode's planted non-ASCII suffixes) as the table
    * the pipeline reads — DuckDB forbids a CTE shadowing a base
    * table, so the derived corpus needs its own name. `encSrc` (when
    * non-empty) decouples the ENCODED table from the TRAINING corpus
    * — the held-out-text regime; `fallback` switches the encode to
    * [[operators.Bpe.encodeFallback]]'s byte-level base (absent
    * symbols expand to `max(vocab id) + 1 + utf8_byte` ids via the
    * same hex-pair arithmetic). */
  private def bpeEncodeOracleCtes(preCtes: String = "",
      src: String = "documents", encSrc: String = "",
      fallback: Boolean = false): String = {
    val encFrom = if (encSrc.isEmpty) src else encSrc
    def round(i: Int) =
      s"""p$i AS (SELECT pair, CAST(sum(cnt) AS BIGINT) c FROM (
         |  SELECT cnt, unnest([ss[i] || ' ' || ss[i+1] for i in range(1, len(ss))]) AS pair
         |  FROM (SELECT cnt, string_split(sym, ' ') ss FROM s${i - 1})) GROUP BY 1),
         |m$i AS (SELECT pair, replace(pair, ' ', '') merged, c FROM p$i
         |  ORDER BY c DESC, pair ASC LIMIT 1),
         |s$i AS (SELECT cnt, replace(sym, (SELECT pair FROM m$i),
         |  (SELECT merged FROM m$i)) sym FROM s${i - 1})""".stripMargin
    s"""WITH ${preCtes}toks AS (SELECT unnest(string_split(text, ' ')) w FROM $src),
       |wf AS (SELECT w, count(*) AS cnt FROM toks GROUP BY 1),
       |s0 AS (SELECT cnt, trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS sym FROM wf),
       |${round(1)},
       |${round(2)},
       |${round(3)},
       |alpha AS (SELECT c, CAST(row_number() OVER (ORDER BY c) - 1 AS BIGINT) id
       |  FROM (SELECT DISTINCT unnest(string_split(w, '')) AS c FROM wf)),
       |vocab0 AS (
       |  SELECT c AS tok, id FROM alpha
       |  UNION ALL SELECT merged, (SELECT count(*) FROM alpha) + 0 FROM m1
       |  UNION ALL SELECT merged, (SELECT count(*) FROM alpha) + 1 FROM m2
       |  UNION ALL SELECT merged, (SELECT count(*) FROM alpha) + 2 FROM m3),
       |vocab AS (SELECT tok, min(id) AS id FROM vocab0 GROUP BY tok),
       |vm AS (SELECT map(list(tok ORDER BY id), list(id ORDER BY id)) m FROM vocab),
       |mm AS (SELECT m1.pair pr1, m1.merged mg1, m2.pair pr2, m2.merged mg2,
       |              m3.pair pr3, m3.merged mg3 FROM m1, m2, m3),
       |${if (!fallback)
        s"""encw AS (SELECT doc_id, [
           |    [element_at(m, t)[1] for t in string_split(
           |       replace(replace(replace(trim(regexp_replace(w, '(.)', '\\1 ', 'g')),
           |         pr1, mg1), pr2, mg2), pr3, mg3), ' ')]
           |    for w in [x for x in string_split(text, ' ') if x <> '']] AS bpe_words
           |  FROM $encFrom, vm, mm),
           |enc AS (SELECT doc_id, flatten(bpe_words) AS bpe_ids FROM encw)""".stripMargin
      else
        s"""vs AS (SELECT max(id) + 1 AS v FROM vocab),
           |encw AS (SELECT doc_id, [
           |    [CASE WHEN element_at(m, t)[1] IS NOT NULL THEN [element_at(m, t)[1]]
           |          ELSE [v + CAST('0x' || substr(hex(encode(t)), 2*i-1, 2) AS BIGINT)
           |                for i in range(1, octet_length(encode(t)) + 1)] END
           |     for t in string_split(
           |       replace(replace(replace(trim(regexp_replace(w, '(.)', '\\1 ', 'g')),
           |         pr1, mg1), pr2, mg2), pr3, mg3), ' ')]
           |    for w in [x for x in string_split(text, ' ') if x <> '']] AS bpe_words
           |  FROM $encFrom, vm, mm, vs),
           |enc AS (SELECT doc_id, flatten(flatten(bpe_words)) AS bpe_ids FROM encw)""".stripMargin
      }""".stripMargin
  }

  /** The old zero-arg form, for the callers that read the base corpus. */
  private val BpeEncodeOracleCtes: String = bpeEncodeOracleCtes()

  /** Shared DuckDB replay of the jaccard>=0.8 near-dup clusters over
    * `documents` (trigram shingles → exact-overlap pairs →
    * recursive-CTE closure), ending with
    * `cl(doc_id, canonical_id)` — the [[operators.Dedup
    * .duplicateClusters]] contract (canonical = component min id;
    * only dup-involved docs appear). No leading WITH and no trailing
    * comma: callers compose `"WITH " + JaccardClusterOracleCtes +
    * ",..."`. Used by q_dedup_clusters and the round-7
    * cluster-representative / leakage-safe-split queries. */
  private val JaccardClusterOracleCtes: String =
    """w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
      |g AS (SELECT doc_id, CASE WHEN len(ws) >= 3
      |  THEN list_distinct([ws[i+1] || '_' || ws[i+2] || '_' || ws[i+3] for i in range(len(ws)-2)])
      |  ELSE [] END sh FROM w),
      |ex AS (SELECT doc_id, unnest(sh) sg FROM g),
      |sz AS (SELECT doc_id, len(sh) n FROM g),
      |p AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) inter
      |      FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |pairs AS (SELECT id_a, id_b FROM p
      |  JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
      |  WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.8),
      |e AS (SELECT id_a a, id_b b FROM pairs UNION SELECT id_b, id_a FROM pairs),
      |r AS (
      |  WITH RECURSIVE reach(x, y) AS (
      |    SELECT a, b FROM e
      |    UNION
      |    SELECT reach.x, e.b FROM reach JOIN e ON reach.y = e.a
      |  ) SELECT * FROM reach
      |),
      |cl AS (SELECT x AS doc_id, least(x, min(y)) AS canonical_id FROM r GROUP BY x)""".stripMargin

  // Exact-decimal money fragments — same text works in Spark SQL and DuckDB.
  private val Price = "cast(l_extendedprice as decimal(18,2))"
  private val OneMinusDisc = "(cast(1 as decimal(4,2)) - cast(l_discount as decimal(4,2)))"
  private val OnePlusTax = "(cast(1 as decimal(4,2)) + cast(l_tax as decimal(4,2)))"
  private val Revenue = s"cast(sum($Price * $OneMinusDisc) as double)"

  /** DuckDB oracle for the full hyperplane-LSH ANN pipeline
    * ([[Similarity.lshTopK]] with multi-probe): the plane components are
    * deterministic ([[Similarity.planeComponent]]) and embedded here as
    * literals (Double.toString round-trips exactly), so bucket sign
    * bits, probe sets and re-rank scores reproduce bit-for-bit —
    * list_sum mirrors the fused dot's left-to-right double summation. */
  private def lshOracleSql(dims: Int, planes: Int, k: Int): String = {
    val planeRows = (0 until planes).map { p =>
      val vs = (0 until dims).map(d => Similarity.planeComponent(p, d)).mkString(", ")
      s"($p, [$vs])"
    }.mkString(",\n")
    s"""WITH pl(p, v) AS (SELECT * FROM (VALUES
       |$planeRows
       |) t(p, v)),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb FROM embeddings),
       |n AS (SELECT vec_id, emb, list_sum([x*x for x in emb]) n2 FROM e),
       |bk AS (SELECT n.vec_id,
       |  CAST(sum(CASE WHEN list_sum([n.emb[i+1] * pl.v[i+1] for i in range(len(n.emb))]) >= 0
       |    THEN (CAST(1 AS BIGINT) << pl.p) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM n, pl GROUP BY n.vec_id),
       |c AS (SELECT n.vec_id, emb, n2, bucket FROM n JOIN bk USING (vec_id)),
       |q AS (SELECT vec_id AS query_id, emb AS q_emb, n2 AS q_n2,
       |  unnest(list_prepend(bucket,
       |    [xor(bucket, CAST(1 AS BIGINT) << CAST(pp AS INTEGER)) for pp in range($planes)])) AS bucket
       |  FROM c WHERE vec_id < 8),
       |s AS (SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id,
       |  list_sum([c.emb[i+1] * q.q_emb[i+1] for i in range(len(c.emb))]) / sqrt(c.n2 * q.q_n2) AS score
       |  FROM c JOIN q ON c.bucket = q.bucket AND c.vec_id != q.query_id),
       |r AS (SELECT query_id, neighbor_id, score,
       |  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) rn FROM s)
       |SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id, round(score, 6) AS score
       |FROM r WHERE rn <= $k""".stripMargin
  }

  /** Literal-hyperplane oracle for the blocking-free LSH PAIR variant:
    * per-table buckets over disjoint plane ranges, same-bucket
    * candidates, exact cosine verify. */
  private def lshPairsOracleSql(dims: Int, ppt: Int, tables: Int,
                                threshold: Double): String = {
    val planeRows = (0 until ppt * tables).map { p =>
      val vs = (0 until dims).map(d => Similarity.planeComponent(p, d)).mkString(", ")
      s"($p, [$vs])"
    }.mkString(",\n")
    s"""WITH pl(p, v) AS (SELECT * FROM (VALUES
       |$planeRows
       |) t(p, v)),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb FROM embeddings),
       |n AS (SELECT vec_id, emb, list_sum([x*x for x in emb]) n2 FROM e),
       |bk AS (SELECT n.vec_id, pl.p // $ppt AS tbl,
       |  CAST(sum(CASE WHEN list_sum([n.emb[i+1] * pl.v[i+1] for i in range(len(n.emb))]) >= 0
       |    THEN (CAST(1 AS BIGINT) << (pl.p % $ppt)) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM n, pl GROUP BY 1, 2),
       |c AS (SELECT DISTINCT a.vec_id id_a, b.vec_id id_b FROM bk a
       |  JOIN bk b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |s AS (SELECT id_a, id_b,
       |  list_sum([x.emb[i+1] * y.emb[i+1] for i in range(len(x.emb))]) / sqrt(x.n2 * y.n2) score
       |  FROM c JOIN n x ON x.vec_id = id_a JOIN n y ON y.vec_id = id_b)
       |SELECT id_a, id_b, round(score, 6) AS score FROM s WHERE score >= $threshold""".stripMargin
  }

  /** BM25 (k1=1.2, b=0.75) scores over `docs` for a (query_id, t)
    * term table → (query_id, doc_id, bm25 = round(Σ contrib, 6)).
    * The term table is the broadcast side (bounded query sets); the
    * corpus tokenizes ONCE. Rounding BEFORE any downstream ranking is
    * the suite's double-sum discipline. Shared by the RRF legs and
    * the hard-negative miner — one BM25, several consumers. */
  /** `candidates` (query_id, doc_id), when given, restricts scoring to
    * those pairs BEFORE the contribution sum — the candidate-generator
    * composition (ANN / impact-pruned retrieval): the semi-join lands
    * on the aggregated fan-out, so non-candidate pairs never reach the
    * BM25 arithmetic. Restriction on the pair key commutes with the
    * per-pair aggregation, so an oracle may equivalently filter AFTER
    * its bm CTE. */
  private[graft] def bm25Scores(docs: DataFrame, terms: DataFrame,
                                candidates: Option[DataFrame] = None): DataFrame = {
    val ws = split(col("text"), " ")
    // tokenize+explode is the CPU-dense leg — spread unsplittable
    // small scans across the machine (no-op at scale); `stats` below
    // stays on the bare scan (one cheap agg pass)
    val tok = graft.core.Par.spreadForCpu(docs, col("doc_id"))
      .select(col("doc_id"),
        size(ws).cast("long").as("dl"), explode(ws).as("t"))
    // Aggregate per (doc, term) BEFORE fanning out to queries: tf and
    // df are query-independent, so the query join touches one row per
    // (doc, matching term) — Σ_q Σ_t df(t) rows — instead of one row
    // per token OCCURRENCE per query sharing the term (the
    // |occurrences|×|queries| blowup that made exhaustive scoring pay
    // ~10× at sf0.1, and a skew bomb on stopword-shaped terms at
    // 100 TB). The broadcast semi-filter on the distinct query-term
    // set keeps the aggregation itself to query-relevant tokens only,
    // and df comes from a per-term count of that same doc-term
    // aggregate (tiny — bounded by the query vocabulary) joined back
    // by broadcast, replacing the old 2.4M-row (query_id, t) window.
    val qvocab = terms.select("t").distinct()
    val dtf = tok.join(broadcast(qvocab), "t")
      .groupBy("doc_id", "t")
      .agg(count(lit(1)).as("tf"), max("dl").as("dl"))
    val dfq = dtf.groupBy("t").agg(count(lit(1)).as("df"))
    val stats = docs.agg(count(lit(1)).as("n"),
      sum(size(split(col("text"), " ")).cast("long")).as("sumdl"))
    val fanned = dtf.join(broadcast(terms), "t")
      .join(broadcast(dfq), "t")
    val kept = candidates.fold(fanned)(c =>
      fanned.join(broadcast(c), Seq("query_id", "doc_id"), "left_semi"))
    kept.crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sumdl").cast("double") / col("n").cast("double"))
      .withColumn("idf", log(
        (col("n").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)) + lit(1.0)))
      .withColumn("contrib",
        col("idf") * (col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") +
            lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / col("avgdl"))))
      .groupBy("query_id", "doc_id")
      .agg(round(sum(col("contrib")), 6).as("bm25"))
  }

  /** Lexical leg of the RRF-fusion queries: BM25 for 4 fixed 2-term
    * queries over `documents`, top-20 per query under the
    * (bm25 desc, doc_id) total order. Shared by q_rrf_fusion and
    * q_rrf_fusion_ann so both fuse the IDENTICAL lexical ranking. */
  private def rrfLexLeg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val terms = Seq((0L, "spark"), (0L, "join"), (1L, "merge"), (1L, "table"),
      (2L, "stream"), (2L, "window"), (3L, "vector"), (3L, "scan"))
      .toDF("query_id", "t")
    bm25Scores(Tables.documents(s, dir), terms)
      .withColumn("rank_lex", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("bm25"), asc("doc_id"))))
      .filter(col("rank_lex") <= 20).select("query_id", "doc_id", "rank_lex")
  }

  /** Reciprocal-rank fusion (Cormack et al.): full-outer join of the
    * two rankings on (query, doc), rrf = Σ 1/(60 + rank), top-10 per
    * query under the (rrf desc, doc_id) total order. */
  private def rrfFuse(lex: DataFrame, vec: DataFrame): DataFrame =
    lex.join(vec, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (col("rank_lex").cast("double") + lit(60.0)), lit(0.0)) +
          coalesce(lit(1.0) / (col("rank_vec").cast("double") + lit(60.0)), lit(0.0)))
      .withColumn("fused_rank", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("rrf"), asc("doc_id"))))
      .filter(col("fused_rank") <= 10)
      .select(col("query_id"), col("fused_rank"), col("doc_id"),
        round(col("rrf"), 6).as("rrf"),
        coalesce(col("rank_lex"), lit(0)).as("rank_lex"),
        coalesce(col("rank_vec"), lit(0)).as("rank_vec"))

  /** BM25 (k1=1.2, b=0.75) DuckDB CTE chain from a query-term CTE
    * named `qt(query_id, t)` to `bm(query_id, doc_id, bm25)` with
    * round(…, 6) — composed by the RRF oracles and the hard-negative
    * miner. No leading WITH / trailing comma. */
  private val Bm25CtesSql: String =
    """tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      |dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
      |ft AS (SELECT qt.query_id, tok.doc_id, tok.t FROM tok JOIN qt USING (t)),
      |tf AS (SELECT query_id, doc_id, t, count(*) AS tf FROM ft GROUP BY 1, 2, 3),
      |dfreq AS (SELECT query_id, t, count(DISTINCT doc_id) AS df FROM ft GROUP BY 1, 2),
      |stats AS (SELECT count(*) AS n,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sumdl FROM documents),
      |bm AS (SELECT tf.query_id, tf.doc_id,
      |  round(sum(
      |    ln((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0)
      |    * (CAST(tf AS DOUBLE) * 2.2)
      |    / (CAST(tf AS DOUBLE)
      |       + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))
      |  ), 6) AS bm25
      |  FROM tf JOIN dfreq USING (query_id, t) JOIN dl ON dl.doc_id = tf.doc_id
      |  CROSS JOIN stats GROUP BY 1, 2)""".stripMargin

  /** DuckDB twin of [[rrfLexLeg]]: the fixed 4-query term table +
    * [[Bm25CtesSql]] + the top-20 `lex(query_id, doc_id, rank_lex)`
    * ranking. No leading WITH / trailing comma. */
  private val RrfLexCtesSql: String =
    """qt(query_id, t) AS (SELECT * FROM (VALUES
      |  (0, 'spark'), (0, 'join'), (1, 'merge'), (1, 'table'),
      |  (2, 'stream'), (2, 'window'), (3, 'vector'), (3, 'scan')) v(q, t)),
      |""".stripMargin + Bm25CtesSql + ",\n" +
    """lex AS (SELECT query_id, doc_id, rank_lex FROM (
      |  SELECT query_id, doc_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY bm25 DESC, doc_id ASC) AS rank_lex
      |  FROM bm) WHERE rank_lex <= 20)""".stripMargin

  /** DuckDB twin of [[rrfFuse]]: full-outer fusion of `lex` and `vec`
    * + the final top-10 select. Appended after the vec CTE chain. */
  private val RrfFuseSelectSql: String =
    """,fu AS (SELECT COALESCE(lex.query_id, vec.query_id) AS query_id,
      |  COALESCE(lex.doc_id, vec.doc_id) AS doc_id, rank_lex, rank_vec,
      |  COALESCE(1.0 / (CAST(rank_lex AS DOUBLE) + 60.0), 0.0)
      |    + COALESCE(1.0 / (CAST(rank_vec AS DOUBLE) + 60.0), 0.0) AS rrf
      |  FROM lex FULL OUTER JOIN vec
      |    ON lex.query_id = vec.query_id AND lex.doc_id = vec.doc_id)
      |SELECT CAST(query_id AS BIGINT) AS query_id,
      |  CAST(fused_rank AS INTEGER) AS fused_rank, doc_id,
      |  round(rrf, 6) AS rrf,
      |  CAST(COALESCE(rank_lex, 0) AS INTEGER) AS rank_lex,
      |  CAST(COALESCE(rank_vec, 0) AS INTEGER) AS rank_vec
      |FROM (SELECT *, row_number() OVER (
      |    PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC) AS fused_rank
      |  FROM fu)
      |WHERE fused_rank <= 10""".stripMargin

  /** The [[lshOracleSql]] CTE chain re-targeted at composition: ends
    * in `vec(query_id, doc_id, rank_vec)` (top-`k` multi-probe LSH
    * cosine ranking for query vectors selected by `queryPred`), no
    * leading WITH — the ANN vector leg of the fused-retrieval and
    * ANN-hard-negative oracles. */
  private def lshVecCtesSql(dims: Int, planes: Int, k: Int,
                            queryPred: String = "vec_id < 4"): String = {
    val planeRows = (0 until planes).map { p =>
      val vs = (0 until dims).map(d => Similarity.planeComponent(p, d)).mkString(", ")
      s"($p, [$vs])"
    }.mkString(",\n")
    s"""pl(p, v) AS (SELECT * FROM (VALUES
       |$planeRows
       |) t(p, v)),
       |pe AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb FROM embeddings),
       |pn AS (SELECT vec_id, emb, list_sum([x*x for x in emb]) n2 FROM pe),
       |bk AS (SELECT pn.vec_id,
       |  CAST(sum(CASE WHEN list_sum([pn.emb[i+1] * pl.v[i+1] for i in range(len(pn.emb))]) >= 0
       |    THEN (CAST(1 AS BIGINT) << pl.p) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM pn, pl GROUP BY pn.vec_id),
       |pc AS (SELECT pn.vec_id, emb, n2, bucket FROM pn JOIN bk USING (vec_id)),
       |pq AS (SELECT vec_id AS query_id, emb AS q_emb, n2 AS q_n2,
       |  unnest(list_prepend(bucket,
       |    [xor(bucket, CAST(1 AS BIGINT) << CAST(pp AS INTEGER)) for pp in range($planes)])) AS bucket
       |  FROM pc WHERE $queryPred),
       |ps AS (SELECT DISTINCT pq.query_id, pc.vec_id AS neighbor_id,
       |  list_sum([pc.emb[i+1] * pq.q_emb[i+1] for i in range(len(pc.emb))]) / sqrt(pc.n2 * pq.q_n2) AS score
       |  FROM pc JOIN pq ON pc.bucket = pq.bucket AND pc.vec_id != pq.query_id),
       |vec AS (SELECT query_id, neighbor_id AS doc_id, CAST(rn AS INTEGER) AS rank_vec FROM (
       |  SELECT query_id, neighbor_id, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) rn
       |  FROM ps) WHERE rn <= $k)""".stripMargin
  }

  /** Literal-hyperplane oracle for [[Similarity.bitextMarginPairsAnn]]:
    * per-side banding over `tables` disjoint plane ranges, the
    * cross-corpus (tbl, bucket) candidate join, exact cosine on
    * candidates, then the SAME margin/mutual windows as the brute
    * bitext oracle — restricted to the candidate set. */
  private def bitextAnnOracleSql(dims: Int, ppt: Int, tables: Int): String = {
    val planeRows = (0 until ppt * tables).map { p =>
      val vs = (0 until dims).map(d => Similarity.planeComponent(p, d)).mkString(", ")
      s"($p, [$vs])"
    }.mkString(",\n")
    s"""WITH pl(p, v) AS (SELECT * FROM (VALUES
       |$planeRows
       |) t(p, v)),
       |e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) emb FROM embeddings),
       |n AS (SELECT vec_id, label, emb, list_sum([x*x for x in emb]) n2 FROM e),
       |a AS (SELECT * FROM n WHERE label < 5),
       |b AS (SELECT * FROM n WHERE label >= 5),
       |bka AS (SELECT a.vec_id, pl.p // $ppt AS tbl,
       |  CAST(sum(CASE WHEN list_sum([a.emb[i+1] * pl.v[i+1] for i in range(len(a.emb))]) >= 0
       |    THEN (CAST(1 AS BIGINT) << (pl.p % $ppt)) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM a, pl GROUP BY 1, 2),
       |bkb AS (SELECT b.vec_id, pl.p // $ppt AS tbl,
       |  CAST(sum(CASE WHEN list_sum([b.emb[i+1] * pl.v[i+1] for i in range(len(b.emb))]) >= 0
       |    THEN (CAST(1 AS BIGINT) << (pl.p % $ppt)) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM b, pl GROUP BY 1, 2),
       |c AS (SELECT DISTINCT x.vec_id AS src_id, y.vec_id AS tgt_id FROM bka x
       |  JOIN bkb y ON x.tbl = y.tbl AND x.bucket = y.bucket),
       |fs AS (SELECT c.src_id, c.tgt_id,
       |  list_sum([sa.emb[i+1] * tb.emb[i+1] for i in range(len(sa.emb))]) / sqrt(sa.n2 * tb.n2) AS score
       |  FROM c JOIN a sa ON sa.vec_id = c.src_id JOIN b tb ON tb.vec_id = c.tgt_id),
       |fr AS (SELECT src_id, tgt_id, score,
       |  row_number() OVER (PARTITION BY src_id ORDER BY score DESC, tgt_id ASC) AS rn FROM fs),
       |br AS (SELECT tgt_id, src_id,
       |  row_number() OVER (PARTITION BY tgt_id ORDER BY score DESC, src_id ASC) AS rn FROM fs),
       |bb AS (SELECT tgt_id AS match_id, src_id AS back_id FROM br WHERE rn = 1),
       |f1 AS (SELECT src_id, tgt_id AS match_id, round(score, 6) AS score
       |  FROM fr WHERE rn = 1),
       |f2 AS (SELECT src_id, round(score, 6) AS score2 FROM fr WHERE rn = 2)
       |SELECT f1.src_id, f1.match_id, f1.score,
       |  round(f1.score / f2.score2, 6) AS margin,
       |  (bb.back_id = f1.src_id) AS mutual
       |FROM f1 JOIN f2 USING (src_id) JOIN bb USING (match_id)""".stripMargin
  }

  /** The embeddings table with a planted near-dup cohort: every
    * vec_id < 30 additionally appears as (vec_id + 100000) with each
    * component nudged by 5% of its circular neighbor — cosine ≈ 0.9988
    * to its base, so realistic high thresholds (0.85+) have non-trivial
    * answers on the synthetic fixture. Shared by the semantic-cluster,
    * diversity-pruning and embedding-decontamination queries; the
    * DuckDB replay is the `emb0` CTE of [[plantedClusterCte]]. */
  private def plantedEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir).select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("emb"))
    val planted = base.filter(col("vec_id") < 30).select(
      (col("vec_id") + 100000).as("vec_id"),
      expr("transform(emb, (x, i) -> x + 0.05D * element_at(emb, (i + 1) % 64 + 1))")
        .as("emb"))
    base.unionByName(planted)
  }

  /** WITH-prefix replaying [[plantedEmbeddings]] + multi-table LSH
    * pairs ≥ threshold + recursive-CTE connected components; exposes
    * `emb0` (the planted corpus), `pairs` and `r` (reachability) for a
    * final SELECT appended by the caller. */
  private def plantedClusterCte(threshold: Double): String = {
    val ppt = 6; val tables = 4
    val planeRows = (0 until ppt * tables).map { p =>
      val vs = (0 until 64).map(d => Similarity.planeComponent(p, d)).mkString(", ")
      s"($p, [$vs])"
    }.mkString(",\n")
    s"""WITH pl(p, v) AS (SELECT * FROM (VALUES
       |$planeRows
       |) t(p, v)),
       |raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb FROM embeddings),
       |emb0 AS (SELECT vec_id, emb FROM raw
       |  UNION ALL
       |  SELECT vec_id + 100000,
       |    [emb[i+1] + 0.05 * emb[((i+1) % 64) + 1] for i in range(64)]
       |  FROM raw WHERE vec_id < 30),
       |n AS (SELECT vec_id, emb, list_sum([x*x for x in emb]) n2 FROM emb0),
       |bk AS (SELECT n.vec_id, pl.p // $ppt AS tbl,
       |  CAST(sum(CASE WHEN list_sum([n.emb[i+1] * pl.v[i+1] for i in range(len(n.emb))]) >= 0
       |    THEN (CAST(1 AS BIGINT) << (pl.p % $ppt)) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM n, pl GROUP BY 1, 2),
       |c AS (SELECT DISTINCT a.vec_id id_a, b.vec_id id_b FROM bk a
       |  JOIN bk b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |pairs AS (SELECT id_a, id_b FROM c
       |  JOIN n x ON x.vec_id = id_a JOIN n y ON y.vec_id = id_b
       |  WHERE list_sum([x.emb[i+1] * y.emb[i+1] for i in range(len(x.emb))]) / sqrt(x.n2 * y.n2) >= $threshold),
       |e AS (SELECT id_a a, id_b b FROM pairs UNION SELECT id_b, id_a FROM pairs),
       |r AS (
       |  WITH RECURSIVE reach(x, y) AS (
       |    SELECT a, b FROM e
       |    UNION
       |    SELECT reach.x, e.b FROM reach JOIN e ON reach.y = e.a
       |  ) SELECT * FROM reach
       |)""".stripMargin
  }

  /** Literal-hyperplane oracle for the corpus-wide kNN graph: same
    * multi-table bucketing as [[lshPairsOracleSql]], both-direction
    * candidates, per-vector top-k by (score desc, id asc). */
  private def knnGraphOracleSql(dims: Int, ppt: Int, tables: Int, k: Int,
                                idBound: Long): String = {
    val planeRows = (0 until ppt * tables).map { p =>
      val vs = (0 until dims).map(d => Similarity.planeComponent(p, d)).mkString(", ")
      s"($p, [$vs])"
    }.mkString(",\n")
    s"""WITH pl(p, v) AS (SELECT * FROM (VALUES
       |$planeRows
       |) t(p, v)),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb FROM embeddings
       |      WHERE vec_id < $idBound),
       |n AS (SELECT vec_id, emb, list_sum([x*x for x in emb]) n2 FROM e),
       |bk AS (SELECT n.vec_id, pl.p // $ppt AS tbl,
       |  CAST(sum(CASE WHEN list_sum([n.emb[i+1] * pl.v[i+1] for i in range(len(n.emb))]) >= 0
       |    THEN (CAST(1 AS BIGINT) << (pl.p % $ppt)) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM n, pl GROUP BY 1, 2),
       |c AS (SELECT DISTINCT a.vec_id query_id, b.vec_id neighbor_id FROM bk a
       |  JOIN bk b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id != b.vec_id),
       |s AS (SELECT query_id, neighbor_id,
       |  list_sum([x.emb[i+1] * y.emb[i+1] for i in range(len(x.emb))]) / sqrt(x.n2 * y.n2) score
       |  FROM c JOIN n x ON x.vec_id = query_id JOIN n y ON y.vec_id = neighbor_id),
       |r AS (SELECT query_id, neighbor_id, score,
       |  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) rn FROM s)
       |SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id, round(score, 6) AS score
       |FROM r WHERE rn <= $k""".stripMargin
  }

  /** name -> (spark impl, optional DuckDB oracle SQL). Ordered. */
  val all: Seq[(String, (QueryFn, Option[String]))] = Seq(

    // ===== reference capabilities (SURVEY.md §2.3/2.5/2.6, F1-F3) =====

    "q_subst_project" -> ((
      (s: SparkSession, dir: String) => {
        val customer = Tables.customer(s, dir)
        Components.conform(customer,
          Seq("name", "segment", "cust_nation", "cancellation_dt"),
          Map(
            "name" -> "c_name",
            "segment" -> "c_mktsegment",
            "cust_nation" -> "c_custkey || '-' || c_nationkey",
            "cancellation_dt" -> "'NA'")).distinct()
      },
      Some("""SELECT DISTINCT c_name AS name, c_mktsegment AS segment,
             |c_custkey || '-' || c_nationkey AS cust_nation, 'NA' AS cancellation_dt
             |FROM customer""".stripMargin)
    )),

    "q_union_dedup" -> ((
      (s: SparkSession, dir: String) => {
        val cust = Components.conform(Tables.customer(s, dir),
          Seq("name", "nationkey", "acctbal"),
          Map("name" -> "c_name", "nationkey" -> "c_nationkey", "acctbal" -> "c_acctbal"))
        val supp = Components.conform(Tables.supplier(s, dir),
          Seq("name", "nationkey", "acctbal"),
          Map("name" -> "s_name", "nationkey" -> "s_nationkey", "acctbal" -> "s_acctbal"))
        Components.merge(Seq(cust, supp))
      },
      Some("""SELECT c_name AS name, c_nationkey AS nationkey, c_acctbal AS acctbal FROM customer
             |UNION
             |SELECT s_name, s_nationkey, s_acctbal FROM supplier""".stripMargin)
    )),

    "q_merge_first_writer_wins" -> ((
      (s: SparkSession, dir: String) => {
        val cust = Components.conform(Tables.customer(s, dir),
          Seq("nationkey", "name"),
          Map("nationkey" -> "c_nationkey", "name" -> "c_name"))
        val supp = Components.conform(Tables.supplier(s, dir),
          Seq("nationkey", "name"),
          Map("nationkey" -> "s_nationkey", "name" -> "s_name"))
        Components.mergeFirstWriterWins(Seq(cust, supp),
          keys = Seq("nationkey"), tieBreak = Seq(col("name")))
      },
      Some("""SELECT nationkey, name FROM (
             |  SELECT nationkey, name, row_number() OVER (PARTITION BY nationkey ORDER BY pri, name) AS rn
             |  FROM (
             |    SELECT c_nationkey AS nationkey, c_name AS name, 0 AS pri FROM customer
             |    UNION ALL
             |    SELECT s_nationkey, s_name, 1 FROM supplier
             |  ) u
             |) w WHERE rn = 1""".stripMargin)
    )),

    "q_include_filter" -> ((
      (s: SparkSession, dir: String) => {
        val keys = Tables.documents(s, dir).select(col("source").as("key"))
        Listing.includeFilter(keys, Seq("^src[0-3]$", "7$"))
      },
      Some("""SELECT DISTINCT source AS key FROM documents
             |WHERE (regexp_matches(source, '^src[0-3]$') OR regexp_matches(source, '7$'))
             |AND NOT source LIKE '%/'""".stripMargin)
    )),

    "q_schema_evolution" -> ((
      (s: SparkSession, dir: String) =>
        Components.withNullColumn(
          Tables.customer(s, dir).select(col("c_custkey"), col("c_name")), "email"),
      Some("SELECT c_custkey, c_name, CAST(NULL AS VARCHAR) AS email FROM customer")
    )),

    // The ingest path end-to-end under the hard gate: a zip'd UTF-16 TSV
    // with broken quotes and dirty headers (written as a deterministic
    // fixture at verify time) flows through dispatch → streaming unzip →
    // charset decode → quotequote repair → header normalize → all-string
    // parse; the oracle reads back the hand-pinned expected rows
    // (reference semantics: bin/fetcher.bash:90-122, bin/quotequote:1-6).
    "q_ingest_zip_repair" -> ((
      (s: SparkSession, dir: String) => {
        graft.sources.IngestFixture.ensure()
        val (name, df) =
          graft.sources.RawTable.load(s, graft.sources.IngestFixture.zipPath)
        require(name == "vr_snapshot_20240601")
        df.select(col("county_id"), col("last_name"), col("note"))
      },
      Some(s"""SELECT county_id, last_name, note
              |FROM read_csv('${graft.sources.IngestFixture.expectedCsvPath}',
              |  header=true, all_varchar=true)""".stripMargin)
    )),

    // Tar ingestion beyond the reference's zip (the format crawl dumps
    // and WebDataset shards actually ship in): a gzip'd TWO-member
    // ustar archive, dirty rows split across members with per-member
    // UTF-16 BOMs, through the hand-written checksum-verified header
    // walk -> concatenated decode -> the SAME repair/parse chain as the
    // zip path. A reader that mis-frames a member, mis-skips padding,
    // or decodes the second BOM as data shears rows 3-4 and
    // hash-mismatches.
    "q_ingest_tar" -> ((
      (s: SparkSession, dir: String) => {
        graft.sources.TarFixture.ensure()
        val paths = Seq(graft.sources.TarFixture.tarGzPath)
        val utf16 = java.nio.charset.Charset.forName("UTF-16")
        graft.sources.RawTable.parseLines(s,
            graft.sources.TarSource.lines(s, paths, utf16),
            graft.sources.TarSource.header(s, paths, utf16),
            graft.sources.SourceSpec(encoding = "UTF-16", repair = true))
          .select(col("county_id"), col("last_name"), col("note"))
      },
      Some(s"""SELECT county_id, last_name, note
              |FROM read_csv('${graft.sources.TarFixture.expectedCsvPath}',
              |  header=true, all_varchar=true)""".stripMargin)
    )),

    // The reference's WHOLE pipeline (Fetch→Sync→Load→Compress,
    // bin/fetcher.bash:13-24) in one oracle row: a mini-bucket with two
    // differently-shaped zip sources (UTF-16 dirty VR + LATIN1 clean
    // ncvoter) flows through include-filter planning → dispatch →
    // unzip/decode/repair/parse → per-compressor subst conformance →
    // cross-compressor union-distinct merge. The oracle replays only
    // the compress stage (bin/fetcher.bash:156-160 SELECT DISTINCT +
    // INSERT OR IGNORE ≡ UNION) over the hand-pinned post-load truth of
    // each source. Both component tables ride in one long-form result.
    "q_pipeline_components" -> ((
      (s: SparkSession, dir: String) => {
        val bucket = graft.sources.PipelineFixture.ensure()
        val spec = graft.core.Config.parse(graft.sources.PipelineFixture.configYaml)
        val r = Pipeline.run(s, spec, "cycle_t", Map("bucket1" -> bucket))
        require(r.tables.keySet == Set("vr_snapshot_20240601", "ncvoter_statewide"),
          s"pipeline planned/loaded wrong tables: ${r.tables.keySet}")
        val person = r.components("c_person").select(
          lit("c_person").as("component"),
          col("last_name").as("v1"), col("middle_name").as("v2"))
        val contact = r.components("c_contact").select(
          lit("c_contact").as("component"),
          col("full_phone").as("v1"), lit(null).cast("string").as("v2"))
        person.unionByName(contact)
      },
      Some(s"""WITH vr AS (SELECT * FROM read_csv('${graft.sources.PipelineFixture.vrExpectedPath}',
              |  header=true, all_varchar=true)),
              |ncv AS (SELECT * FROM read_csv('${graft.sources.PipelineFixture.ncvExpectedPath}',
              |  header=true, all_varchar=true)),
              |person AS (
              |  SELECT last_name, midl_name AS middle_name FROM vr
              |  UNION
              |  SELECT last_name, middle_name FROM ncv),
              |contact AS (
              |  SELECT area_cd || phone_num AS full_phone FROM vr
              |  UNION
              |  SELECT full_phone FROM ncv)
              |SELECT 'c_person' AS component, last_name AS v1, middle_name AS v2 FROM person
              |UNION ALL
              |SELECT 'c_contact', full_phone, NULL FROM contact""".stripMargin)
    )),

    // ===== analytics: aggregation / joins / windows / set ops =====

    "q1_pricing_summary" -> ((
      (s: SparkSession, dir: String) =>
        Tables.lineitem(s, dir)
          .filter(col("l_shipdate") <= lit("2000-12-31").cast("timestamp"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            expr("cast(sum(cast(l_quantity as decimal(12,2))) as double)").as("sum_qty"),
            expr(s"cast(sum($Price) as double)").as("sum_base_price"),
            expr(s"cast(sum($Price * $OneMinusDisc) as double)").as("sum_disc_price"),
            expr(s"cast(sum($Price * $OneMinusDisc * $OnePlusTax) as double)").as("sum_charge"),
            expr("cast(sum(cast(l_quantity as decimal(12,2))) as double) / count(*)").as("avg_qty"),
            expr(s"cast(sum($Price) as double) / count(*)").as("avg_price"),
            count(lit(1)).as("count_order")),
      Some(s"""SELECT l_returnflag, l_linestatus,
              |cast(sum(cast(l_quantity as decimal(12,2))) as double) AS sum_qty,
              |cast(sum($Price) as double) AS sum_base_price,
              |cast(sum($Price * $OneMinusDisc) as double) AS sum_disc_price,
              |cast(sum($Price * $OneMinusDisc * $OnePlusTax) as double) AS sum_charge,
              |cast(sum(cast(l_quantity as decimal(12,2))) as double) / count(*) AS avg_qty,
              |cast(sum($Price) as double) / count(*) AS avg_price,
              |count(*) AS count_order
              |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-31 00:00:00'
              |GROUP BY l_returnflag, l_linestatus""".stripMargin)
    )),

    "q3_top_orders" -> ((
      (s: SparkSession, dir: String) => {
        val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
        val ord = Tables.orders(s, dir)
          .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        val li = Tables.lineitem(s, dir)
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"))
          .agg(expr(Revenue).as("revenue"))
          .select(col("l_orderkey").as("orderkey"),
            col("o_orderdate").cast("date").as("orderdate"), col("revenue"))
          .orderBy(col("revenue").desc, col("orderkey").asc)
          .limit(10)
      },
      Some(s"""SELECT l_orderkey AS orderkey, CAST(o_orderdate AS DATE) AS orderdate, $Revenue AS revenue
              |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
              |GROUP BY l_orderkey, o_orderdate
              |ORDER BY revenue DESC, orderkey ASC LIMIT 10""".stripMargin)
    )),

    "q5_region_revenue" -> ((
      (s: SparkSession, dir: String) => {
        val region = Tables.region(s, dir).filter(col("r_name") === "ASIA")
        val nation = Tables.nation(s, dir)
        val cust = Tables.customer(s, dir)
        val supp = Tables.supplier(s, dir)
        val ord = Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        val li = Tables.lineitem(s, dir)
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
          .join(cust, col("o_custkey") === col("c_custkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(expr(Revenue).as("revenue"))
      },
      Some(s"""SELECT n_name, $Revenue AS revenue
              |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              |JOIN supplier ON l_suppkey = s_suppkey
              |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
              |JOIN nation ON s_nationkey = n_nationkey
              |JOIN region ON n_regionkey = r_regionkey
              |WHERE r_name = 'ASIA'
              |AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              |AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
              |GROUP BY n_name""".stripMargin)
    )),

    "q_window_top2" -> ((
      (s: SparkSession, dir: String) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        Tables.orders(s, dir)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 2)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            col("rn").cast("int").as("rn"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
             |  FROM orders
             |) t WHERE rn <= 2""".stripMargin)
    )),

    "q_running_total" -> ((
      (s: SparkSession, dir: String) => {
        Tables.orders(s, dir)
          .withColumn("running_spend",
            expr("cast(sum(cast(o_totalprice as decimal(18,2))) over " +
              "(partition by o_custkey order by o_orderdate, o_orderkey " +
              "rows between unbounded preceding and current row) as double)"))
          .select(col("o_custkey"), col("o_orderkey"), col("running_spend"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |cast(sum(cast(o_totalprice as decimal(18,2))) OVER
             |  (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as double) AS running_spend
             |FROM orders""".stripMargin)
    )),

    "q_range_frame" -> ((
      // RANGE frame: per-customer sum of all orders priced within 100 of
      // the current one (value-based frame, not row-based)
      (s: SparkSession, dir: String) =>
        Tables.orders(s, dir)
          .withColumn("near_total",
            expr("cast(sum(cast(o_totalprice as decimal(18,2))) over " +
              "(partition by o_custkey order by o_totalprice " +
              "range between 100 preceding and 100 following) as double)"))
          .select(col("o_custkey"), col("o_orderkey"), col("near_total")),
      Some("""SELECT o_custkey, o_orderkey,
             |cast(sum(cast(o_totalprice as decimal(18,2))) OVER
             |  (PARTITION BY o_custkey ORDER BY o_totalprice
             |   RANGE BETWEEN 100 PRECEDING AND 100 FOLLOWING) as double) AS near_total
             |FROM orders""".stripMargin)
    )),

    "q_first_last" -> ((
      (s: SparkSession, dir: String) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.orders(s, dir)
          .select(col("o_custkey"), col("o_orderkey"),
            first("o_orderkey").over(w).as("first_order"),
            last("o_orderkey").over(w).as("last_order"),
            nth_value(col("o_orderkey"), 2).over(w).as("second_order"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |first_value(o_orderkey) OVER w AS first_order,
             |last_value(o_orderkey) OVER w AS last_order,
             |nth_value(o_orderkey, 2) OVER w AS second_order
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin)
    )),

    "q_array_funcs" -> ((
      (s: SparkSession, dir: String) =>
        Tables.embeddings(s, dir)
          .select(col("vec_id"),
            size(col("embedding")).cast("int").as("dim"),
            element_at(col("embedding"), 1).cast("double").as("first_c"),
            array_max(col("embedding")).cast("double").as("max_c"),
            array_min(col("embedding")).cast("double").as("min_c"),
            element_at(sort_array(col("embedding"), asc = false), 3)
              .cast("double").as("third_largest")),
      Some("""SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim,
             |CAST(embedding[1] AS DOUBLE) AS first_c,
             |CAST(list_max(embedding) AS DOUBLE) AS max_c,
             |CAST(list_min(embedding) AS DOUBLE) AS min_c,
             |CAST(list_sort(embedding, 'DESC')[3] AS DOUBLE) AS third_largest
             |FROM embeddings""".stripMargin)
    )),

    "q_hash_sample" -> ((
      // deterministic ~10% sample by order key — reproducible across
      // engines/partitionings (oracle computes the same membership)
      (s: SparkSession, dir: String) =>
        graft.operators.Sampling.hashSample(
          Tables.orders(s, dir), col("o_orderkey"), 0.10)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |WHERE CAST(('0x' || substr(md5('hs_' || CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 < 1000""".stripMargin)
    )),

    "q_percentiles" -> ((
      (s: SparkSession, dir: String) =>
        Tables.orders(s, dir)
          .groupBy(col("o_orderstatus"))
          .agg(
            expr("round(percentile(o_totalprice, 0.5), 4)").as("p50"),
            expr("round(percentile(o_totalprice, 0.9), 4)").as("p90"),
            expr("cast(min(o_totalprice) as double)").as("p_min"),
            expr("cast(max(o_totalprice) as double)").as("p_max")),
      Some("""SELECT o_orderstatus,
             |round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
             |round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
             |cast(min(o_totalprice) as double) AS p_min,
             |cast(max(o_totalprice) as double) AS p_max
             |FROM orders GROUP BY o_orderstatus""".stripMargin)
    )),

    "q_semi_join" -> ((
      (s: SparkSession, dir: String) => {
        val cust = Tables.customer(s, dir)
        val ord = Tables.orders(s, dir)
        cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_semi")
          .select("c_custkey", "c_name")
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin)
    )),

    "q_anti_join" -> ((
      (s: SparkSession, dir: String) => {
        val cust = Tables.customer(s, dir)
        val ord = Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
        cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_anti")
          .select("c_custkey", "c_name")
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""".stripMargin)
    )),

    "q_set_ops" -> ((
      (s: SparkSession, dir: String) => {
        val custN = Tables.customer(s, dir).select(col("c_nationkey").as("nationkey"))
        val suppN = Tables.supplier(s, dir).select(col("s_nationkey").as("nationkey"))
        custN.intersect(suppN).withColumn("op", lit("both"))
          .unionByName(custN.except(suppN).withColumn("op", lit("cust_only")))
      },
      Some("""SELECT nationkey, 'both' AS op FROM
             |  (SELECT c_nationkey AS nationkey FROM customer INTERSECT SELECT s_nationkey FROM supplier) a
             |UNION ALL
             |SELECT nationkey, 'cust_only' AS op FROM
             |  (SELECT c_nationkey AS nationkey FROM customer EXCEPT SELECT s_nationkey FROM supplier) b""".stripMargin)
    )),

    "q_left_join_coalesce" -> ((
      (s: SparkSession, dir: String) => {
        val counts = Tables.orders(s, dir)
          .filter(col("o_orderstatus") === "F")
          .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_f"))
        Tables.customer(s, dir)
          .join(counts, col("c_custkey") === col("o_custkey"), "left")
          .select(col("c_custkey"),
            coalesce(col("n_f"), lit(0L)).as("n_f_orders"),
            col("n_f").isNull.as("never_f"))
      },
      Some("""SELECT c_custkey, coalesce(n_f, 0) AS n_f_orders, n_f IS NULL AS never_f
             |FROM customer LEFT JOIN (
             |  SELECT o_custkey, count(*) AS n_f FROM orders
             |  WHERE o_orderstatus = 'F' GROUP BY o_custkey
             |) t ON c_custkey = o_custkey""".stripMargin)
    )),

    "q_except_all" -> ((
      // bag semantics: multiplicity-aware difference
      (s: SparkSession, dir: String) => {
        val a = Tables.lineitem(s, dir).select(col("l_returnflag").as("flag"))
        val b = Tables.orders(s, dir).limit(0)
          .select(lit("R").as("flag")) // empty — except_all keeps all of a
        val c = Tables.lineitem(s, dir).filter(col("l_linenumber") === 1)
          .select(col("l_returnflag").as("flag"))
        a.exceptAll(c).groupBy("flag").agg(count(lit(1)).as("n"))
          .unionByName(b.groupBy("flag").agg(count(lit(1)).as("n")))
      },
      Some("""SELECT flag, count(*) AS n FROM (
             |  SELECT l_returnflag AS flag FROM lineitem
             |  EXCEPT ALL
             |  SELECT l_returnflag FROM lineitem WHERE l_linenumber = 1
             |) t GROUP BY flag""".stripMargin)
    )),

    "q_conditional_agg" -> ((
      (s: SparkSession, dir: String) =>
        Tables.orders(s, dir)
          .groupBy(col("o_orderpriority"))
          .agg(
            count(when(col("o_orderstatus") === "F", 1)).as("n_f"),
            expr("cast(sum(case when o_orderstatus = 'O' then cast(o_totalprice as decimal(18,2)) else cast(0 as decimal(18,2)) end) as double)").as("open_total"),
            max(col("o_orderstatus") === "P").as("any_p")),
      Some("""SELECT o_orderpriority,
             |count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
             |cast(sum(CASE WHEN o_orderstatus = 'O' THEN cast(o_totalprice as decimal(18,2)) ELSE cast(0 as decimal(18,2)) END) as double) AS open_total,
             |bool_or(o_orderstatus = 'P') AS any_p
             |FROM orders GROUP BY o_orderpriority""".stripMargin)
    )),

    "q_rollup" -> ((
      (s: SparkSession, dir: String) =>
        Tables.orders(s, dir)
          .withColumn("y", year(col("o_orderdate")).cast("int"))
          .rollup(col("y"), col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            expr("cast(sum(cast(o_totalprice as decimal(18,2))) as double)").as("total")),
      Some("""SELECT CAST(year(o_orderdate) AS INTEGER) AS y, o_orderstatus,
             |count(*) AS n, cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS total
             |FROM orders GROUP BY ROLLUP(y, o_orderstatus)""".stripMargin)
    )),

    // GROUPING SETS — the general form rollup/cube specialize; the
    // DataFrame API has no direct method, so this goes through Spark
    // SQL on a registered view (same Catalyst plan as rollup's).
    "q_grouping_sets" -> ((
      (s: SparkSession, dir: String) => {
        Tables.orders(s, dir).createOrReplaceTempView("orders_gs")
        s.sql("""SELECT CAST(year(o_orderdate) AS INT) AS y, o_orderstatus,
                 count(*) AS n,
                 cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS total
                 FROM orders_gs
                 GROUP BY GROUPING SETS ((y), (o_orderstatus), (y, o_orderstatus))""")
      },
      Some("""SELECT CAST(year(o_orderdate) AS INTEGER) AS y, o_orderstatus,
             |count(*) AS n, cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS total
             |FROM orders
             |GROUP BY GROUPING SETS ((y), (o_orderstatus), (y, o_orderstatus))""".stripMargin)
    )),

    // The rank-family windows not covered elsewhere: ntile buckets,
    // percent_rank and cume_dist (exact rational -> double, identical
    // arithmetic in both engines).
    "q_rank_family" -> ((
      (s: SparkSession, dir: String) => {
        val w = Window.partitionBy(col("c_mktsegment")).orderBy(col("c_acctbal"), col("c_custkey"))
        Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment"),
            ntile(4).over(w).as("quartile"),
            percent_rank().over(w).as("pr"),
            cume_dist().over(w).as("cd"))
      },
      Some("""SELECT c_custkey, c_mktsegment,
             |CAST(ntile(4) OVER w AS INTEGER) AS quartile,
             |percent_rank() OVER w AS pr,
             |cume_dist() OVER w AS cd
             |FROM customer
             |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)""".stripMargin)
    )),

    "q_pivot" -> ((
      (s: SparkSession, dir: String) =>
        Tables.orders(s, dir)
          .withColumn("y", year(col("o_orderdate")).cast("int"))
          .groupBy(col("y"))
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(expr("cast(sum(cast(o_totalprice as decimal(18,2))) as double)")),
      Some("""SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
             |cast(sum(cast(o_totalprice as decimal(18,2))) FILTER (WHERE o_orderstatus = 'F') as double) AS F,
             |cast(sum(cast(o_totalprice as decimal(18,2))) FILTER (WHERE o_orderstatus = 'O') as double) AS O,
             |cast(sum(cast(o_totalprice as decimal(18,2))) FILTER (WHERE o_orderstatus = 'P') as double) AS P
             |FROM orders GROUP BY 1""".stripMargin)
    )),

    "q_cube" -> ((
      (s: SparkSession, dir: String) =>
        Tables.orders(s, dir)
          .withColumn("y", year(col("o_orderdate")).cast("int"))
          .cube(col("y"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n")),
      Some("""SELECT CAST(year(o_orderdate) AS INTEGER) AS y, o_orderpriority, count(*) AS n
             |FROM orders GROUP BY CUBE(y, o_orderpriority)""".stripMargin)
    )),

    "q_lag_lead" -> ((
      (s: SparkSession, dir: String) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        Tables.orders(s, dir)
          .select(col("o_custkey"), col("o_orderkey"),
            lag("o_totalprice", 1).over(w).as("prev_price"),
            lead("o_totalprice", 1).over(w).as("next_price"),
            datediff(col("o_orderdate"), lag("o_orderdate", 1).over(w))
              .cast("int").as("days_since_prev"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |lag(o_totalprice, 1) OVER w AS prev_price,
             |lead(o_totalprice, 1) OVER w AS next_price,
             |CAST(datediff('day', lag(o_orderdate, 1) OVER w, o_orderdate) AS INTEGER) AS days_since_prev
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin)
    )),

    "q_above_cust_avg" -> ((
      (s: SparkSession, dir: String) => {
        val avgExpr = expr(
          "cast(sum(cast(o_totalprice as decimal(18,2))) over (partition by o_custkey) as double)" +
            " / count(*) over (partition by o_custkey)")
        Tables.orders(s, dir)
          .withColumn("cust_avg", avgExpr)
          .filter(col("o_totalprice") > col("cust_avg"))
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            round(col("cust_avg"), 6).as("cust_avg"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, round(cust_avg, 6) AS cust_avg FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    cast(sum(cast(o_totalprice as decimal(18,2))) OVER (PARTITION BY o_custkey) as double)
             |      / count(*) OVER (PARTITION BY o_custkey) AS cust_avg
             |  FROM orders
             |) t WHERE o_totalprice > cust_avg""".stripMargin)
    )),

    "q_string_funcs" -> ((
      (s: SparkSession, dir: String) =>
        Tables.part(s, dir).select(
          col("p_partkey"),
          upper(col("p_name")).as("name_up"),
          substring(col("p_type"), 1, 5).as("type5"),
          length(col("p_name")).cast("int").as("name_len"),
          lpad(col("p_size").cast("string"), 4, "0").as("size_pad"),
          trim(col("p_brand")).as("brand_trim"),
          regexp_extract(col("p_type"), "([a-z]+)", 1).as("type_word")),
      Some("""SELECT p_partkey, upper(p_name) AS name_up, substring(p_type, 1, 5) AS type5,
             |CAST(length(p_name) AS INTEGER) AS name_len,
             |lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
             |trim(p_brand) AS brand_trim,
             |regexp_extract(p_type, '([a-z]+)', 1) AS type_word
             |FROM part""".stripMargin)
    )),

    "q_asof_join" -> ((
      (s: SparkSession, dir: String) => {
        val events = Tables.events(s, dir)
        val orders = Tables.orders(s, dir)
        graft.operators.Joins.asofBackward(
          events, orders,
          leftKey = col("user_id"), rightKey = col("o_custkey"),
          leftTime = col("ts"), rightTime = col("o_orderdate"),
          leftId = col("event_id"), tieBreak = col("o_orderkey"))
          .select(col("event_id"), col("o_orderkey").as("orderkey"))
      },
      Some("""SELECT event_id, o_orderkey AS orderkey FROM (
             |  SELECT e.event_id, o.o_orderkey,
             |    row_number() OVER (PARTITION BY e.event_id
             |                       ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
             |  FROM events e JOIN orders o
             |    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
             |) t WHERE rn = 1""".stripMargin)
    )),

    "q_salted_agg" -> ((
      // two-phase salted aggregation — result must equal a plain GROUP BY
      (s: SparkSession, dir: String) =>
        graft.operators.Skew.saltedSum(
          Tables.lineitem(s, dir),
          keys = Seq("l_returnflag"),
          valueExpr = expr("cast(l_quantity as decimal(12,2))"),
          saltSource = col("l_orderkey"),
          outName = "sum_qty_dec")
          .select(col("l_returnflag"),
            col("sum_qty_dec").cast("double").as("sum_qty"),
            col("sum_qty_dec_n").as("n")),
      Some("""SELECT l_returnflag,
             |cast(sum(cast(l_quantity as decimal(12,2))) as double) AS sum_qty,
             |count(*) AS n
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)
    )),

    // Ordered funnel (view -> click -> purchase by FIRST occurrence,
    // strict timestamp order): one groupBy to per-user first-touch
    // times, then integer stage counts — microsecond timestamps, so
    // comparisons are exact in both engines.
    "q_funnel" -> ((
      (s: SparkSession, dir: String) => {
        def firstTs(t: String) =
          min(when(col("event_type") === t, col("ts"))).as(s"t_$t")
        Tables.events(s, dir)
          .groupBy(col("user_id"))
          .agg(firstTs("view"), firstTs("click"), firstTs("purchase"))
          .agg(
            count(col("t_view")).as("n_view"),
            count(when(col("t_view") < col("t_click"), 1)).as("n_view_click"),
            count(when(col("t_view") < col("t_click") &&
              col("t_click") < col("t_purchase"), 1)).as("n_full_funnel"))
      },
      Some("""WITH m AS (SELECT user_id,
             |  min(ts) FILTER (event_type = 'view') tv,
             |  min(ts) FILTER (event_type = 'click') tc,
             |  min(ts) FILTER (event_type = 'purchase') tp
             |  FROM events GROUP BY 1)
             |SELECT count(tv) AS n_view,
             |  count(CASE WHEN tv < tc THEN 1 END) AS n_view_click,
             |  count(CASE WHEN tv < tc AND tc < tp THEN 1 END) AS n_full_funnel
             |FROM m""".stripMargin)
    )),

    // Streaming funnel under the hard gate (seventh direct streaming
    // row): per-user first-seen timestamps per step in constant keyed
    // state, depth flushed by a __final__ control event — min-based
    // state makes the emissions arrival-order-free, so the stream
    // output equals the batch funnel's strict first-ts chain exactly.
    "q_stream_funnel" -> ((
      (s: SparkSession, dir: String) =>
        graft.streaming.EventStreams.replayFunnel(
          Tables.events(s, dir), "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"), maxUsers = 200),
      Some("""WITH m AS (SELECT user_id,
             |  min(ts) FILTER (event_type = 'view') t1,
             |  min(ts) FILTER (event_type = 'click') t2,
             |  min(ts) FILTER (event_type = 'purchase') t3
             |  FROM events WHERE user_id < 200 GROUP BY 1)
             |SELECT user_id,
             |  CAST(CASE WHEN t1 IS NULL THEN 0
             |       WHEN t2 IS NULL OR t2 <= t1 THEN 1
             |       WHEN t3 IS NULL OR t3 <= t2 THEN 2
             |       ELSE 3 END AS INTEGER) AS depth,
             |  CAST(CAST(t1 IS NOT NULL AS INTEGER)
             |     + CAST(t2 IS NOT NULL AS INTEGER)
             |     + CAST(t3 IS NOT NULL AS INTEGER) AS INTEGER) AS n_steps_seen
             |FROM m""".stripMargin)
    )),

    // Per-group z-score outliers WITHOUT floating-point variance:
    // on cent-integers, |v-mean| > 3σ  ⟺  (n·v − S)² > 9·(n·Q − S²)
    // with S=Σv, Q=Σv² — pure decimal(38,0) integer arithmetic, exact
    // and overflow-safe in both engines at any SF. The 5-row per-type
    // aggregate broadcasts back; no window over a 5-partition shuffle.
    "q_outliers" -> ((
      (s: SparkSession, dir: String) => {
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("event_type"),
            round(col("value") * 100).cast("decimal(38,0)").as("c"))
        val stats = ev.groupBy(col("event_type"))
          .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
            sum(col("c")).as("s"),
            sum(col("c") * col("c")).as("q"))
        ev.join(broadcast(stats), "event_type")
          .filter((col("n") * col("c") - col("s")) *
            (col("n") * col("c") - col("s")) >
            lit(9) * (col("n") * col("q") - col("s") * col("s")))
          .select(col("event_id"), col("event_type"))
      },
      // DuckDB side rides HUGEINT (int128) where Spark uses
      // decimal(38,0): same exact integer arithmetic, so the filter
      // boolean is engine-independent even though the internal types
      // differ (only ids are output).
      Some("""WITH e AS (SELECT event_id, event_type,
             |    CAST(round(value * 100) AS HUGEINT) c FROM events),
             |st AS (SELECT event_type, CAST(count(*) AS HUGEINT) n,
             |    sum(c) s, sum(c*c) q FROM e GROUP BY 1)
             |SELECT event_id, event_type FROM e JOIN st USING (event_type)
             |WHERE (n*c - s)*(n*c - s) > 9*(n*q - s*s)""".stripMargin)
    )),

    "q_sessionize" -> ((
      // batch twin of streaming/EventStreams.sessionize: 30-min gap
      (s: SparkSession, dir: String) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        Tables.events(s, dir)
          .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
          .withColumn("brk",
            when(col("prev_us").isNull ||
              unix_micros(col("ts")) - col("prev_us") > 30L * 60 * 1000000, 1)
              .otherwise(0))
          .withColumn("sess_idx",
            sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("int"))
          .groupBy(col("user_id"), col("sess_idx"))
          .agg(count(lit(1)).as("n_events"),
            date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
            expr("cast(sum(cast(value as decimal(18,2))) as double)").as("sum_value"))
      },
      Some("""WITH g AS (
             |  SELECT user_id, event_id, ts, value,
             |    CASE WHEN lag(epoch_us(ts), 1) OVER w IS NULL
             |           OR epoch_us(ts) - lag(epoch_us(ts), 1) OVER w > 30*60*1000000
             |         THEN 1 ELSE 0 END AS brk
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |),
             |sess AS (
             |  SELECT user_id, ts, value,
             |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER) AS sess_idx
             |  FROM g
             |)
             |SELECT user_id, sess_idx, count(*) AS n_events,
             |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
             |  cast(sum(cast(value as decimal(18,2))) as double) AS sum_value
             |FROM sess GROUP BY 1, 2""".stripMargin)
    )),

    "q_tfidf" -> ((
      (s: SparkSession, dir: String) => {
        val terms = Seq("spark", "join", "merge")
        val docs = Tables.documents(s, dir)
        val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
          .filter(col("t").isin(terms: _*))
        val tf = tok.groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
        val dfreq = tok.groupBy("t").agg(countDistinct(col("doc_id")).as("df"))
        val n = docs.agg(count(lit(1)).as("n"))
        tf.join(broadcast(dfreq), "t").crossJoin(broadcast(n))
          .groupBy("doc_id")
          .agg(round(sum(col("tf") * log(col("n").cast("double") / col("df").cast("double"))), 6)
            .as("score"))
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
             |),
             |ft AS (SELECT doc_id, t FROM tok WHERE t IN ('spark', 'join', 'merge')),
             |tf AS (SELECT doc_id, t, count(*) AS tf FROM ft GROUP BY 1, 2),
             |dfreq AS (SELECT t, count(DISTINCT doc_id) AS df FROM ft GROUP BY 1),
             |n AS (SELECT count(*) AS n FROM documents)
             |SELECT doc_id, round(sum(tf * ln(CAST(n.n AS DOUBLE) / CAST(dfreq.df AS DOUBLE))), 6) AS score
             |FROM tf JOIN dfreq USING (t) CROSS JOIN n GROUP BY doc_id""".stripMargin)
    )),

    "q_range_join" -> ((
      // pairs of events by the same user within a 10-minute forward window,
      // via the bucketed range join (equi-join on (user, time bucket))
      (s: SparkSession, dir: String) => {
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("ts"))
        graft.operators.Joins.pointInWindowJoin(
          ev.toDF("event_a", "user_id", "ts_a"),
          ev.toDF("event_b", "user_id", "ts_b"),
          keyCols = Seq("user_id"),
          leftTime = col("ts_a"), rightTime = col("ts_b"),
          windowMicros = 10L * 60 * 1000000)
          .filter(col("event_a") =!= col("event_b"))
          .select(col("event_a"), col("event_b"))
      },
      Some("""SELECT a.event_id AS event_a, b.event_id AS event_b
             |FROM events a JOIN events b
             |  ON a.user_id = b.user_id
             | AND epoch_us(b.ts) >= epoch_us(a.ts)
             | AND epoch_us(b.ts) - epoch_us(a.ts) < 10*60*1000000
             | AND a.event_id != b.event_id""".stripMargin)
    )),

    "q_approx_distinct" -> ((
      // HLL sketch VALUES differ across engines, so the raw estimate
      // can't be oracle-hashed — but its ERROR BOUND can: emit the
      // exact count plus a boolean asserting |approx-exact|/exact is
      // inside 3× the configured rsd (0.05 → 15%; the estimate is
      // near-certainly inside that). The oracle recomputes the exact
      // side and asserts the bound literally TRUE.
      (s: SparkSession, dir: String) =>
        Tables.lineitem(s, dir)
          .groupBy(col("l_returnflag"))
          .agg(approx_count_distinct(col("l_orderkey"), 0.05).as("approx"),
            countDistinct(col("l_orderkey")).as("exact_orders"))
          .select(col("l_returnflag"), col("exact_orders"),
            (abs(col("approx") - col("exact_orders")) <=
              lit(0.15) * col("exact_orders")).as("approx_within_bound")),
      Some("""SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_orders,
             |TRUE AS approx_within_bound
             |FROM lineitem GROUP BY 1""".stripMargin)
    )),

    // KMV distinct sketch on the SAME column as q_approx_distinct
    // (l_orderkey) — the exactly-replayable, mergeable alternative
    // beside HLL (whose raw estimate can only be bound-checked): both
    // engines replay the identical hash, the identical k-smallest
    // cut, and the identical division, so the ESTIMATE ITSELF
    // hash-matches. ~15k/147k distinct keys at the fixture scales
    // keep the estimator on its real path (never the below-k
    // degenerate branch); within_bound documents the sketch is
    // healthy (3 sigma of the 1/sqrt(k-2) relative error).
    "q_kmv_distinct" -> ((
      (s: SparkSession, dir: String) =>
        operators.Sketches.kmvDistinct(
          Tables.lineitem(s, dir).select(col("l_orderkey")),
          "l_orderkey", k = 256),
      Some("""WITH h AS (SELECT DISTINCT
             |    CAST('0x' || substr(md5('kmv_' || CAST(l_orderkey AS VARCHAR)), 1, 8)
             |      AS BIGINT) AS h
             |  FROM lineitem),
             |e AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM h),
             |k AS (SELECT max(h) AS kth_hash, CAST(count(*) AS BIGINT) AS n_in
             |  FROM (SELECT h FROM h ORDER BY h LIMIT 256)),
             |f AS (SELECT n_exact, kth_hash,
             |    CASE WHEN n_in < 256 THEN CAST(n_exact AS DOUBLE)
             |      ELSE 255.0 * 4294967296.0 / CAST(kth_hash AS DOUBLE)
             |    END AS est0
             |  FROM k CROSS JOIN e)
             |SELECT 256 AS k, n_exact, kth_hash, round(est0, 6) AS est,
             |  abs(est0 - CAST(n_exact AS DOUBLE))
             |    <= 3.0 * CAST(n_exact AS DOUBLE) / sqrt(256.0) AS within_bound
             |FROM f""".stripMargin)
    )),

    // Mergeable quantile sketch (percentile_approx = KLL-style, the
    // distributed one-pass path). Like q_approx_distinct the sketch
    // VALUE is engine-specific, but its rank-error contract is not:
    // accuracy 10000 bounds rank error by n/10000, far inside the
    // exact p45..p55 window computed alongside — the oracle asserts
    // the containment literally TRUE and cross-checks the group counts.
    "q_approx_quantile" -> ((
      (s: SparkSession, dir: String) =>
        // exact-percentile partials buffer+sort every value — CPU-dense
        // over an unsplittable small scan without the spread (no-op at
        // scale); merge order does not affect the result (the partial
        // buffers are concatenated and sorted once at merge)
        graft.core.Par.spreadForCpu(Tables.lineitem(s, dir), col("l_orderkey"))
          .groupBy(col("l_returnflag"))
          .agg(
            percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000))
              .as("approx_median"),
            expr("percentile(l_extendedprice, 0.45)").as("p45"),
            expr("percentile(l_extendedprice, 0.55)").as("p55"),
            count(lit(1)).as("n_prices"))
          .select(col("l_returnflag"), col("n_prices"),
            (col("approx_median") >= col("p45") &&
              col("approx_median") <= col("p55")).as("median_within_bound")),
      Some("""SELECT l_returnflag, count(*) AS n_prices,
             |TRUE AS median_within_bound
             |FROM lineitem GROUP BY 1""".stripMargin)
    )),

    // One-pass multi-column profiling (exact mode so every cell is
    // oracle-hashable; the operator's default is the HLL single-pass
    // form for the 100 TB path). Timestamp min/max string forms match
    // because both engines render 'yyyy-MM-dd HH:mm:ss'.
    "q_profile" -> ((
      (s: SparkSession, dir: String) =>
        operators.Profile.profile(Tables.lineitem(s, dir),
          Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"),
          exact = true),
      Some {
        def one(c: String) =
          s"""SELECT '$c' AS column_name, count($c) AS n_notnull,
             |count(*) - count($c) AS n_nulls,
             |count(DISTINCT $c) AS n_distinct,
             |CAST(min($c) AS VARCHAR) AS min_value,
             |CAST(max($c) AS VARCHAR) AS max_value FROM lineitem""".stripMargin
        Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")
          .map(one).mkString("\nUNION ALL\n")
      }
    )),

    "q_json_extract" -> ((
      (s: SparkSession, dir: String) =>
        Tables.events(s, dir)
          .filter(col("event_type").isin("purchase", "signup"))
          .select(col("event_id"), col("event_type"),
            get_json_object(col("props"), "$.k").cast("long").as("k")),
      Some("""SELECT event_id, event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
             |FROM events WHERE event_type IN ('purchase', 'signup')""".stripMargin)
    )),

    "q_hourly_events" -> ((
      (s: SparkSession, dir: String) =>
        Tables.events(s, dir)
          .groupBy(
            date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00").as("hour"),
            col("event_type"))
          .agg(count(lit(1)).as("n"),
            expr("cast(sum(cast(value as decimal(18,2))) as double)").as("sum_value")),
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour, event_type,
             |count(*) AS n, cast(sum(cast(value as decimal(18,2))) as double) AS sum_value
             |FROM events GROUP BY 1, 2""".stripMargin)
    )),

    // Hourly-arrival autocorrelation at lags 1..6 — the seasonality
    // probe on the events stream: r_k over the COMPLETED hour grid
    // (missing hours are true zero counts). Multiplying the deviations
    // through by n keeps every product exact int64/decimal; one IEEE
    // division per lag. The grid is calendar-sized (720 hours here),
    // never data-sized.
    "q_autocorrelation" -> ((
      (s: SparkSession, dir: String) =>
        operators.Profile.autocorrelation(Tables.events(s, dir), "ts",
          maxLag = 6),
      Some("""WITH c AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hid,
             |    CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1),
             |b AS (SELECT min(hid) AS h0, max(hid) AS h1 FROM c),
             |grid AS (SELECT gs.hid, COALESCE(c.c, 0) AS x
             |  FROM (SELECT unnest(generate_series(h0, h1)) AS hid FROM b) gs
             |  LEFT JOIN c USING (hid)),
             |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(x) AS BIGINT) AS s FROM grid),
             |dev AS (SELECT hid, n * x - s AS d, n FROM grid CROSS JOIN st),
             |den AS (SELECT sum(CAST(d AS HUGEINT) * d) AS den, max(n) AS n
             |  FROM dev),
             |lags AS (SELECT unnest(generate_series(1, 6)) AS lag),
             |num AS (SELECT lag, sum(CAST(a.d AS HUGEINT) * b2.d) AS num
             |  FROM dev a CROSS JOIN lags
             |  JOIN dev b2 ON b2.hid = a.hid + lag
             |  GROUP BY 1)
             |SELECT lag, n AS n_hours,
             |  CASE WHEN den > 0
             |    THEN round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6)
             |  END AS r
             |FROM num CROSS JOIN den""".stripMargin)
    )),

    // Mann-Kendall monotone-trend test on the hourly arrival series —
    // "is ingest volume drifting?" as one nonparametric row beside the
    // ACF's periodicity probe. S exact int64 from the calendar-bounded
    // half-grid join, tie-corrected variance in exact decimals, the
    // continuity-corrected z judged at the pinned 1.959964.
    "q_mann_kendall" -> ((
      (s: SparkSession, dir: String) =>
        operators.Profile.mannKendall(Tables.events(s, dir), "ts"),
      Some("""WITH c AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hid,
             |    CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1),
             |b AS (SELECT min(hid) AS h0, max(hid) AS h1 FROM c),
             |grid AS (SELECT gs.hid, COALESCE(c.c, 0) AS x
             |  FROM (SELECT unnest(generate_series(h0, h1)) AS hid FROM b) gs
             |  LEFT JOIN c USING (hid)),
             |s AS (SELECT CAST(COALESCE(sum(CASE WHEN b2.x > a.x THEN 1
             |    WHEN b2.x < a.x THEN -1 ELSE 0 END), 0) AS BIGINT) AS s
             |  FROM grid a JOIN grid b2 ON b2.hid > a.hid),
             |t AS (SELECT sum(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5))
             |    AS tsum, CAST(sum(t) AS BIGINT) AS n
             |  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM grid
             |        GROUP BY x)),
             |v AS (SELECT s, n,
             |    CAST(CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5) - tsum
             |      AS DOUBLE) / 18.0 AS vars
             |  FROM s CROSS JOIN t),
             |z AS (SELECT s, n, vars,
             |    CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / sqrt(vars)
             |      WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / sqrt(vars)
             |      ELSE 0.0 END AS zv
             |  FROM v)
             |SELECT n AS n_hours, s,
             |  CASE WHEN vars > 0.0 THEN round(zv, 6) END AS z,
             |  CASE WHEN vars > 0.0 THEN
             |    CASE WHEN abs(zv) > 1.959964 AND s > 0 THEN 'increasing'
             |      WHEN abs(zv) > 1.959964 AND s < 0 THEN 'decreasing'
             |      ELSE 'none' END
             |  END AS trend
             |FROM z""".stripMargin)
    )),

    // Theil-Sen robust slope of hourly arrivals — the trend MAGNITUDE
    // beside Mann-Kendall's direction: lower median of all pairwise
    // slopes, each fixed-pointed at 1e-6 with the sign-split integer
    // division (Spark div truncates, DuckDB // floors — they agree
    // only on non-negative operands), rank-selected exactly.
    "q_theil_sen" -> ((
      (s: SparkSession, dir: String) =>
        operators.Profile.theilSen(Tables.events(s, dir), "ts"),
      Some("""WITH c AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hid,
             |    CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1),
             |b AS (SELECT min(hid) AS h0, max(hid) AS h1 FROM c),
             |grid AS (SELECT gs.hid, COALESCE(c.c, 0) AS x
             |  FROM (SELECT unnest(generate_series(h0, h1)) AS hid FROM b) gs
             |  LEFT JOIN c USING (hid)),
             |sl AS (SELECT CAST(sign(b2.x - a.x) AS BIGINT)
             |    * ((abs(b2.x - a.x) * 1000000) // (b2.hid - a.hid)) AS v
             |  FROM grid a JOIN grid b2 ON b2.hid > a.hid),
             |cv AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM sl GROUP BY 1),
             |cm AS (SELECT v, c,
             |    CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT)
             |      AS cum FROM cv),
             |t AS (SELECT max(cum) AS np FROM cm),
             |m AS (SELECT np, v FROM cm CROSS JOIN t
             |  WHERE cum - c < (np + 1) // 2 AND (np + 1) // 2 <= cum),
             |n AS (SELECT CAST(count(*) AS BIGINT) AS n_hours FROM grid)
             |SELECT n_hours, np AS n_pairs,
             |  round(CAST(v AS DOUBLE) / 1000000.0, 6) AS slope
             |FROM n CROSS JOIN m""".stripMargin)
    )),

    // Hour-of-day seasonality profile + variance-explained eta^2 —
    // the SHAPE view of the daily cycle the ACF only hints at: 24
    // bucket rows with the corpus-level strength repeated (the
    // calibration ECE convention). Exact sums, 24-bounded how-ordered
    // fold with round-9 terms.
    "q_seasonality" -> ((
      (s: SparkSession, dir: String) =>
        operators.Profile.seasonalityStrength(Tables.events(s, dir), "ts"),
      Some("""WITH c AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hid,
             |    CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1),
             |b AS (SELECT min(hid) AS h0, max(hid) AS h1 FROM c),
             |grid AS (SELECT gs.hid, COALESCE(c.c, 0) AS x
             |  FROM (SELECT unnest(generate_series(h0, h1)) AS hid FROM b) gs
             |  LEFT JOIN c USING (hid)),
             |g2 AS (SELECT ((hid % 24) + 24) % 24 AS how, x FROM grid),
             |per AS (SELECT how, CAST(count(*) AS BIGINT) AS ng,
             |    CAST(sum(x) AS BIGINT) AS sg,
             |    sum(CAST(x AS HUGEINT) * x) AS qg
             |  FROM g2 GROUP BY 1),
             |t AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
             |    CAST(sum(sg) AS BIGINT) AS s, sum(qg) AS q,
             |    list_sum([e.t FOR e IN list({'how': how, 't': round(
             |      CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / ng, 9)}
             |      ORDER BY how)]) AS ssg
             |  FROM per)
             |SELECT how, ng AS n_hours, sg AS total,
             |  round(CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE), 6) AS mean,
             |  CASE WHEN CAST(q AS DOUBLE)
             |      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
             |      > 0.0
             |    THEN round((ssg - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
             |        / CAST(n AS DOUBLE))
             |      / (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
             |        / CAST(n AS DOUBLE)), 6)
             |  END AS eta2
             |FROM per CROSS JOIN t""".stripMargin)
    )),

    // CUSUM changepoint scan on hourly arrivals — WHERE the level
    // shifted, completing the temporal family (ACF: periodic? MK/TS:
    // trending? this: did it JUMP). dev = n*x - S exact int64, the
    // running sum on the ranked machinery, earliest-hour tie-break,
    // one division.
    "q_cusum_changepoint" -> ((
      (s: SparkSession, dir: String) =>
        operators.Profile.cusumChangepoint(Tables.events(s, dir), "ts"),
      Some("""WITH c AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hid,
             |    CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1),
             |b AS (SELECT min(hid) AS h0, max(hid) AS h1 FROM c),
             |grid AS (SELECT gs.hid, COALESCE(c.c, 0) AS x
             |  FROM (SELECT unnest(generate_series(h0, h1)) AS hid FROM b) gs
             |  LEFT JOIN c USING (hid)),
             |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(x) AS BIGINT) AS s, min(hid) AS h0 FROM grid),
             |d AS (SELECT hid, n, h0, n * x - s AS d FROM grid CROSS JOIN st),
             |ck AS (SELECT hid, n, h0,
             |    CAST(sum(d) OVER (ORDER BY hid ROWS UNBOUNDED PRECEDING)
             |      AS BIGINT) AS ck FROM d),
             |p AS (SELECT max(abs(ck)) AS peak, max(n) AS n_hours FROM ck),
             |o AS (SELECT min(hid - h0) AS change_offset
             |  FROM ck CROSS JOIN p WHERE abs(ck) = peak)
             |SELECT n_hours, change_offset,
             |  round(CAST(peak AS DOUBLE) / CAST(n_hours AS DOUBLE), 6)
             |    AS cusum_peak
             |FROM p CROSS JOIN o""".stripMargin)
    )),

    // Dense hourly grid per user with forward fill: buckets with no
    // events inherit the last observed hour's sum (decimal-exact so
    // the filled doubles hash identically). is_gap marks synthesized
    // rows; each user's first bucket has data, so the fill is total.
    "q_gap_fill" -> ((
      (s: SparkSession, dir: String) =>
        operators.Timeseries.gapFill(
          Tables.events(s, dir).filter(col("user_id") < 40),
          Seq("user_id"), "ts",
          expr("cast(sum(cast(value as decimal(18,2))) as double)"),
          unit = "hour")
          .select(col("user_id"),
            date_format(col("bucket"), "yyyy-MM-dd HH:00").as("hour"),
            col("v_filled"), col("is_gap")),
      Some("""WITH b AS (SELECT user_id, date_trunc('hour', ts) bucket,
             |         cast(sum(cast(value as decimal(18,2))) as double) v
             |       FROM events WHERE user_id < 40 GROUP BY 1, 2),
             |spans AS (SELECT user_id, min(bucket) lo, max(bucket) hi FROM b GROUP BY 1),
             |grid AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) bucket
             |         FROM spans),
             |j AS (SELECT g.user_id, g.bucket, b.v FROM grid g
             |      LEFT JOIN b ON b.user_id = g.user_id AND b.bucket = g.bucket)
             |SELECT user_id, strftime(bucket, '%Y-%m-%d %H:00') AS hour,
             |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled,
             |  v IS NULL AS is_gap
             |FROM j""".stripMargin)
    )),

    "q_scalar_subquery" -> ((
      // the engine's SQL surface: uncorrelated scalar subquery via spark.sql
      (s: SparkSession, dir: String) => {
        Tables.orders(s, dir).createOrReplaceTempView("orders_v")
        s.sql("""SELECT o_orderkey, o_totalprice FROM orders_v
                |WHERE o_totalprice > (
                |  SELECT cast(sum(cast(o_totalprice as decimal(18,2))) as double) / count(*)
                |  FROM orders_v)""".stripMargin)
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |WHERE o_totalprice > (
             |  SELECT cast(sum(cast(o_totalprice as decimal(18,2))) as double) / count(*)
             |  FROM orders)""".stripMargin)
    )),

    "q_curation_pipeline" -> ((
      // the full curation flow as ONE lazy plan: clean -> quality filter ->
      // exact dedup (bag-of-words fingerprint, min id survives) -> near-dup
      // drop (jaccard >= 0.8 on cleaned text, higher id dropped) -> chunk
      (s: SparkSession, dir: String) => {
        val docs = Tables.documents(s, dir)
        val cleaned = docs.select(col("doc_id"),
          TextAnalysis.cleanText(col("text")).as("ctext"),
          TextAnalysis.qualityScore(col("text")).as("q"))
          .filter(col("q") >= 0.5)
        val kept = cleaned
          .groupBy(TextAnalysis.fingerprint(col("ctext")).as("fp"))
          .agg(min(col("doc_id")).as("doc_id"))
          .join(cleaned, "doc_id")
          .select(col("doc_id"), col("ctext"))
        val nearDrops = Dedup.jaccardPairs(kept, "doc_id", "ctext", threshold = 0.8)
          .select(col("id_b").as("doc_id")).distinct()
        kept.join(nearDrops, Seq("doc_id"), "left_anti")
          .select(col("doc_id"),
            explode(TextAnalysis.chunks(col("ctext"), chunkSize = 64, stride = 48)).as("c"))
          .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
            col("c.chunk_text").as("chunk_text"))
      },
      Some {
        val allStop = TextAnalysis.stopwords.values.flatten.toSeq.distinct
          .map(w => s"'$w'").mkString(", ")
        s"""WITH q AS (SELECT doc_id,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
           |    CAST(len([w for w in string_split(text, ' ') if w IN ($allStop)]) AS BIGINT) AS nstop,
           |    CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS nalpha,
           |    CAST(length(text) AS BIGINT) AS nchars,
           |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z ]', ' ', 'g'), ' +', ' ', 'g')) AS ctext
           |  FROM documents),
           |cleaned AS (SELECT doc_id, ctext FROM q
           |  WHERE CAST(4 * least(ntok, 100) * ntok * nchars + 300 * nstop * nchars
           |        + 300 * nalpha * ntok AS DOUBLE) / CAST(1000 * ntok * nchars AS DOUBLE) >= 0.5),
           |kept AS (SELECT c.doc_id, c.ctext FROM cleaned c JOIN (
           |    SELECT min(doc_id) AS doc_id
           |    FROM (SELECT doc_id,
           |      md5(array_to_string(list_sort(list_distinct(string_split(ctext, ' '))), ' ')) AS fp
           |      FROM cleaned) f GROUP BY fp
           |  ) s ON c.doc_id = s.doc_id),
           |w AS (SELECT doc_id, string_split(ctext, ' ') ws FROM kept),
           |g AS (SELECT doc_id, CASE WHEN len(ws) >= 3
           |  THEN list_distinct([ws[i+1] || '_' || ws[i+2] || '_' || ws[i+3] for i in range(len(ws)-2)])
           |  ELSE [] END sh FROM w),
           |e AS (SELECT doc_id, unnest(sh) sg FROM g),
           |sz AS (SELECT doc_id, len(sh) n FROM g),
           |p AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) inter
           |      FROM e a JOIN e b ON a.sg = b.sg AND a.doc_id < b.doc_id GROUP BY 1, 2),
           |drops AS (SELECT DISTINCT id_b AS doc_id FROM p
           |  JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
           |  WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.8),
           |surv AS (SELECT doc_id, ctext FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM drops)),
           |t AS (SELECT doc_id, string_split(ctext, ' ') AS ws FROM surv),
           |st AS (SELECT doc_id, ws, unnest(range(0, greatest(len(ws) - 1, 0) + 1, 48)) AS st FROM t)
           |SELECT doc_id, CAST(st / 48 AS INTEGER) AS chunk_idx,
           |array_to_string(ws[st + 1 : st + 64], ' ') AS chunk_text
           |FROM st""".stripMargin
      }
    )),

    // ===== LLM-data-pipeline: dedup =====

    "q_dedup_exact" -> ((
      (s: SparkSession, dir: String) =>
        Tables.documents(s, dir)
          .groupBy(TextAnalysis.fingerprint(col("text")).as("fp"))
          .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies")),
      Some("""SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
             |min(doc_id) AS doc_id, count(*) AS n_copies
             |FROM documents GROUP BY 1""".stripMargin)
    )),

    // Passage-level exact dedup: 20-token consecutive passages, global
    // first-writer-wins by (doc_id, pos), documents reassembled from
    // surviving passages. DuckDB replays it with list slicing + a
    // min-tuple window; both sides order "first" by (doc_id, pos).
    "q_passage_dedup" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.passageDedup(Tables.documents(s, dir), "doc_id", "text", k = 20),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
             |i AS (SELECT doc_id, ws, unnest(range((len(ws) + 19) // 20)) pos FROM t),
             |p AS (SELECT doc_id, pos,
             |        array_to_string(ws[pos*20+1 : pos*20+20], ' ') passage FROM i),
             |w AS (SELECT doc_id, pos, passage,
             |        min(row(doc_id, pos)) OVER (PARTITION BY passage) win FROM p)
             |SELECT doc_id, string_agg(passage, ' ' ORDER BY pos) AS text_dedup
             |FROM w WHERE win = row(doc_id, pos) GROUP BY doc_id""".stripMargin)
    )),

    // STREAMING under the hard gate: the first 400 documents are
    // replayed through the real passageDedupStream (MemoryStream, one
    // micro-batch per doc in ascending id order, state-store dedup on
    // the passage hash) — arrival order equals (id, pos) order, so the
    // streaming survivors must equal batch passage-dedup's global
    // minimum winners, which IS the SQL oracle. The rest of the
    // streaming surface is covered transitively by the differential
    // specs; this row puts the stream path itself under DuckDB.
    "q_stream_passage_dedup" -> ((
      (s: SparkSession, dir: String) =>
        graft.streaming.EventStreams.replayPassageDedup(
          Tables.documents(s, dir), "doc_id", "text", k = 20, maxDocs = 400),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') ws
             |          FROM documents WHERE doc_id < 400),
             |i AS (SELECT doc_id, ws, unnest(range((len(ws) + 19) // 20)) pos FROM t),
             |p AS (SELECT doc_id, pos,
             |        array_to_string(ws[pos*20+1 : pos*20+20], ' ') passage FROM i),
             |w AS (SELECT doc_id, pos, passage,
             |        min(row(doc_id, pos)) OVER (PARTITION BY passage) win FROM p)
             |SELECT doc_id, CAST(pos AS INTEGER) AS pos, passage
             |FROM w WHERE win = row(doc_id, pos)""".stripMargin)
    )),

    // Cross-document boilerplate removal (CCNet-family): a fixed
    // 10-token template block is prepended to every doc_id % 3 == 0
    // document — one k-aligned passage per planted doc, so the genuine
    // passages shift by exactly one passage and survive intact — and
    // stripBoilerplate must drop every copy seen in >= 3 docs of a
    // source while reassembling the original text byte-identically.
    "q_boilerplate_strip" -> ((
      (s: SparkSession, dir: String) => {
        val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit(BoilerplateBlock + " "), col("text")))
            .otherwise(col("text")).as("text"))
        Dedup.stripBoilerplate(docs, "doc_id", "text", "source",
          k = 10, minDocFreq = 3)
      },
      Some(s"""WITH d AS (SELECT doc_id, source,
             |  CASE WHEN doc_id % 3 = 0 THEN '$BoilerplateBlock ' || text ELSE text END AS text
             |  FROM documents),
             |t AS (SELECT doc_id, source, string_split(text, ' ') ws FROM d),
             |i AS (SELECT doc_id, source, ws, unnest(range((len(ws) + 9) // 10)) pos FROM t),
             |p AS (SELECT doc_id, source, pos,
             |        array_to_string(ws[pos*10+1 : pos*10+10], ' ') passage FROM i),
             |f AS (SELECT source, passage FROM p GROUP BY 1, 2
             |        HAVING count(DISTINCT doc_id) >= 3)
             |SELECT doc_id, string_agg(passage, ' ' ORDER BY pos) AS text_clean
             |FROM p
             |WHERE NOT EXISTS (SELECT 1 FROM f
             |  WHERE f.source = p.source AND f.passage = p.passage)
             |GROUP BY doc_id""".stripMargin)
    )),

    "q_dedup_ngram_jaccard" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.jaccardPairs(Tables.documents(s, dir), "doc_id", "text", threshold = 0.5),
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
             |g AS (SELECT doc_id, CASE WHEN len(ws) >= 3
             |  THEN list_distinct([ws[i+1] || '_' || ws[i+2] || '_' || ws[i+3] for i in range(len(ws)-2)])
             |  ELSE [] END sh FROM w),
             |e AS (SELECT doc_id, unnest(sh) s FROM g),
             |sz AS (SELECT doc_id, len(sh) n FROM g),
             |p AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) inter
             |      FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
             |SELECT id_a, id_b,
             |  round(CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE), 6) AS jaccard
             |FROM p JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
             |WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.5""".stripMargin)
    )),

    // Cross-relation similarity join (record linkage): even-id docs
    // fuzzy-joined against odd-id docs on 3-gram Jaccard >= 0.5 —
    // the two-relation AllPairs/PPJoin with one shared rarity order.
    "q_fuzzy_join" -> ((
      (s: SparkSession, dir: String) => {
        val docs = Tables.documents(s, dir)
        Dedup.jaccardJoin(
          docs.filter(pmod(col("doc_id"), lit(2)) === 0),
          docs.filter(pmod(col("doc_id"), lit(2)) === 1),
          "doc_id", "text", threshold = 0.5)
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
             |g AS (SELECT doc_id, CASE WHEN len(ws) >= 3
             |  THEN list_distinct([ws[i+1] || '_' || ws[i+2] || '_' || ws[i+3] for i in range(len(ws)-2)])
             |  ELSE [] END sh FROM w),
             |e AS (SELECT doc_id, unnest(sh) s FROM g),
             |sz AS (SELECT doc_id, len(sh) n FROM g),
             |p AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) inter
             |      FROM e a JOIN e b ON a.s = b.s
             |      WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1 GROUP BY 1, 2)
             |SELECT id_a, id_b,
             |  round(CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE), 6) AS jaccard
             |FROM p JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
             |WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.5""".stripMargin)
    )),

    // Asymmetric containment (|A∩B|/|A| >= 0.8): "left doc quoted
    // inside right doc" — the provenance/contamination detector. Same
    // bipartition as q_fuzzy_join; only the left side admits a prefix
    // bound, so candidates are A-prefixes against all right shingles.
    "q_containment_join" -> ((
      (s: SparkSession, dir: String) => {
        val docs = Tables.documents(s, dir)
        Dedup.containmentJoin(
          docs.filter(pmod(col("doc_id"), lit(2)) === 0),
          docs.filter(pmod(col("doc_id"), lit(2)) === 1),
          "doc_id", "text", threshold = 0.8)
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
             |g AS (SELECT doc_id, CASE WHEN len(ws) >= 3
             |  THEN list_distinct([ws[i+1] || '_' || ws[i+2] || '_' || ws[i+3] for i in range(len(ws)-2)])
             |  ELSE [] END sh FROM w),
             |e AS (SELECT doc_id, unnest(sh) s FROM g),
             |sz AS (SELECT doc_id, len(sh) n FROM g),
             |p AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) inter
             |      FROM e a JOIN e b ON a.s = b.s
             |      WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1 GROUP BY 1, 2)
             |SELECT id_a, id_b,
             |  round(CAST(inter AS DOUBLE) / CAST(sa.n AS DOUBLE), 6) AS containment
             |FROM p JOIN sz sa ON sa.doc_id = id_a
             |WHERE CAST(inter AS DOUBLE) / CAST(sa.n AS DOUBLE) >= 0.8""".stripMargin)
    )),

    // Entity resolution end-to-end: cross-relation fuzzy MATCH
    // (jaccardJoin) -> duplicate CLUSTERING over the bipartite match
    // graph -> every linked doc labeled with its cluster's canonical
    // (minimum) id. The linkage sibling of q_dedup_clusters; the
    // oracle replays the clustering as a recursive-CTE closure.
    "q_linkage_clusters" -> ((
      (s: SparkSession, dir: String) => {
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.jaccardJoin(
          docs.filter(pmod(col("doc_id"), lit(2)) === 0),
          docs.filter(pmod(col("doc_id"), lit(2)) === 1),
          "doc_id", "text", threshold = 0.5).select("id_a", "id_b")
        Dedup.duplicateClusters(pairs)
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
             |g AS (SELECT doc_id, CASE WHEN len(ws) >= 3
             |  THEN list_distinct([ws[i+1] || '_' || ws[i+2] || '_' || ws[i+3] for i in range(len(ws)-2)])
             |  ELSE [] END sh FROM w),
             |ex AS (SELECT doc_id, unnest(sh) sg FROM g),
             |sz AS (SELECT doc_id, len(sh) n FROM g),
             |p AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) inter
             |      FROM ex a JOIN ex b ON a.sg = b.sg
             |      WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1 GROUP BY 1, 2),
             |pairs AS (SELECT id_a, id_b FROM p
             |  JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
             |  WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.5),
             |e AS (SELECT id_a a, id_b b FROM pairs UNION SELECT id_b, id_a FROM pairs),
             |r AS (
             |  WITH RECURSIVE reach(x, y) AS (
             |    SELECT a, b FROM e
             |    UNION
             |    SELECT reach.x, e.b FROM reach JOIN e ON reach.y = e.a
             |  ) SELECT * FROM reach
             |)
             |SELECT x AS doc_id, least(x, min(y)) AS canonical_id FROM r GROUP BY x""".stripMargin)
    )),

    "q_dedup_minhash_lsh" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.minhashDedup(Tables.documents(s, dir), "doc_id", "text", threshold = 0.8),
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
             |g AS (SELECT doc_id, CASE WHEN len(ws) >= 3
             |  THEN list_distinct([ws[i+1] || '_' || ws[i+2] || '_' || ws[i+3] for i in range(len(ws)-2)])
             |  ELSE [] END sh FROM w),
             |e AS (SELECT doc_id, unnest(sh) s FROM g),
             |sz AS (SELECT doc_id, len(sh) n FROM g),
             |p AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) inter
             |      FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
             |SELECT id_a, id_b
             |FROM p JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
             |WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.8""".stripMargin)
    )),

    // Incremental dedup: the even-id "new batch" LSH-joined against
    // the odd-id "standing corpus" at j >= 0.8 — banded signature
    // equi-join, exact verify; oracle is the exhaustive cross pairs.
    "q_incremental_dedup" -> ((
      (s: SparkSession, dir: String) => {
        val docs = Tables.documents(s, dir)
        Dedup.minhashJoin(
          docs.filter(pmod(col("doc_id"), lit(2)) === 0),
          docs.filter(pmod(col("doc_id"), lit(2)) === 1),
          "doc_id", "text", threshold = 0.8)
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
             |g AS (SELECT doc_id, CASE WHEN len(ws) >= 3
             |  THEN list_distinct([ws[i+1] || '_' || ws[i+2] || '_' || ws[i+3] for i in range(len(ws)-2)])
             |  ELSE [] END sh FROM w),
             |e AS (SELECT doc_id, unnest(sh) s FROM g),
             |sz AS (SELECT doc_id, len(sh) n FROM g),
             |p AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) inter
             |      FROM e a JOIN e b ON a.s = b.s
             |      WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1 GROUP BY 1, 2)
             |SELECT id_a, id_b
             |FROM p JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
             |WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.8""".stripMargin)
    )),

    // Same semantics as q_incremental_dedup, but the standing corpus'
    // banded signatures are PERSISTED BUCKETED on the LSH join key first
    // (Dedup.persistBandedSignatures → Catalog.saveBucketed) and the
    // batch probes the stored table — the store-once incremental posture
    // where only the new batch is ever shuffled. Oracle: the same
    // exhaustive cross-join Jaccard as q_incremental_dedup.
    "q_incremental_dedup_bucketed" -> ((
      (s: SparkSession, dir: String) => {
        val docs = Tables.documents(s, dir)
        val corpus = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
        graft.core.Catalog.scratchDatabase(s, "graft_inc")
        Dedup.persistBandedSignatures(s, "graft_inc", "corpus_sigs", corpus,
          "doc_id", "text")
        Dedup.minhashJoinPrecomputed(
          docs.filter(pmod(col("doc_id"), lit(2)) === 0),
          s.table("graft_inc.corpus_sigs"),
          Dedup.shingleSets(corpus, "doc_id", "text"),
          "doc_id", "text", threshold = 0.8)
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
             |g AS (SELECT doc_id, CASE WHEN len(ws) >= 3
             |  THEN list_distinct([ws[i+1] || '_' || ws[i+2] || '_' || ws[i+3] for i in range(len(ws)-2)])
             |  ELSE [] END sh FROM w),
             |e AS (SELECT doc_id, unnest(sh) s FROM g),
             |sz AS (SELECT doc_id, len(sh) n FROM g),
             |p AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) inter
             |      FROM e a JOIN e b ON a.s = b.s
             |      WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1 GROUP BY 1, 2)
             |SELECT id_a, id_b
             |FROM p JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
             |WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.8""".stripMargin)
    )),

    // q_incremental_dedup_bucketed's SNAPSHOT-STORE twin — same
    // fixture, same oracle, the OTHER side of the state-store trade
    // the Dedup scaladoc names: the corpus signatures COMMIT as a
    // SnapshotTable version (persistBandedSignaturesSnapshot), the
    // probe joins the PINNED read, and mid-query the store is
    // re-committed with a decoy subset — the pinned reader's signature
    // is REQUIRED unchanged (reader isolation, the invariant bucketed
    // metadata cannot give), and the oracle proves the isolation
    // detour changed not one surviving pair.
    "q_incremental_dedup_snapshot" -> ((
      (s: SparkSession, dir: String) => {
        val docs = Tables.documents(s, dir)
        val corpus = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
        val root = java.nio.file.Files
          .createTempDirectory("graft_dedup_snap_q").toString + "/sigs"
        Dedup.persistBandedSignaturesSnapshot(s, root, corpus,
          "doc_id", "text")
        val store = graft.core.SnapshotTable.read(s, root) // pinned at v1
        def sig(df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)),
            coalesce(sum(col("bh").cast("decimal(38,0)")),
              lit(0).cast("decimal(38,0)"))).collect()(0)
        val before = sig(store)
        // the concurrent store update the bucketed layout cannot
        // isolate a reader from:
        Dedup.persistBandedSignaturesSnapshot(s, root, corpus.limit(5),
          "doc_id", "text")
        val after = sig(store)
        require(after == before,
          s"snapshot signature-store reader isolation broke: " +
            s"$before -> $after")
        Dedup.minhashJoinPrecomputed(
          docs.filter(pmod(col("doc_id"), lit(2)) === 0),
          store, Dedup.shingleSets(corpus, "doc_id", "text"),
          "doc_id", "text", threshold = 0.8)
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
             |g AS (SELECT doc_id, CASE WHEN len(ws) >= 3
             |  THEN list_distinct([ws[i+1] || '_' || ws[i+2] || '_' || ws[i+3] for i in range(len(ws)-2)])
             |  ELSE [] END sh FROM w),
             |e AS (SELECT doc_id, unnest(sh) s FROM g),
             |sz AS (SELECT doc_id, len(sh) n FROM g),
             |p AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) inter
             |      FROM e a JOIN e b ON a.s = b.s
             |      WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1 GROUP BY 1, 2)
             |SELECT id_a, id_b
             |FROM p JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
             |WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.8""".stripMargin)
    )),

    "q_dedup_simhash" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text",
          maxHamming = 3, bands = 4),
      Some {
        // 64-bit simhash as two 32-bit halves (bits 63..32 = first 8 md5
        // hex chars, bits 31..0 = chars 9-16) — avoids signed-64 literal
        // arithmetic; hamming(a,b) = hamming(hi)+hamming(lo).
        def bitTerms(hv: String) = (0 until 32).map { j =>
          s"(CASE WHEN sum(CASE WHEN ($hv >> $j) & 1 = 1 THEN 1 ELSE -1 END) >= 0" +
            s" THEN (CAST(1 AS BIGINT) << $j) ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) tok FROM documents),
           |h AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) hh,
           |             CAST('0x' || substr(md5(tok), 9, 8) AS BIGINT) hl FROM t),
           |s AS (SELECT doc_id, (${bitTerms("hh")}) sim_hi, (${bitTerms("hl")}) sim_lo
           |      FROM h GROUP BY doc_id)
           |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |  CAST(bit_count(xor(a.sim_hi, b.sim_hi)) + bit_count(xor(a.sim_lo, b.sim_lo)) AS INTEGER) AS hamming
           |FROM s a JOIN s b ON a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.sim_hi, b.sim_hi)) + bit_count(xor(a.sim_lo, b.sim_lo)) <= 3""".stripMargin
      }
    )),

    // Capped-TF weighted SimHash (cap=2): distinct tokens vote with
    // min(tf,2), so repeated-token spam can't dominate the sketch.
    // Integer votes keep both engines bit-identical; same band join
    // and pigeonhole recall as the unweighted form.
    "q_dedup_simhash_weighted" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text",
          maxHamming = 3, bands = 4, tfCap = 2),
      Some {
        def bitTerms(hv: String) = (0 until 32).map { j =>
          s"(CASE WHEN sum(CASE WHEN ($hv >> $j) & 1 = 1 THEN w ELSE -w END) >= 0" +
            s" THEN (CAST(1 AS BIGINT) << $j) ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) tok FROM documents),
           |tf AS (SELECT doc_id, tok, least(count(*), 2) w FROM t GROUP BY 1, 2),
           |h AS (SELECT doc_id, w, CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) hh,
           |             CAST('0x' || substr(md5(tok), 9, 8) AS BIGINT) hl FROM tf),
           |s AS (SELECT doc_id, (${bitTerms("hh")}) sim_hi, (${bitTerms("hl")}) sim_lo
           |      FROM h GROUP BY doc_id)
           |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |  CAST(bit_count(xor(a.sim_hi, b.sim_hi)) + bit_count(xor(a.sim_lo, b.sim_lo)) AS INTEGER) AS hamming
           |FROM s a JOIN s b ON a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.sim_hi, b.sim_hi)) + bit_count(xor(a.sim_lo, b.sim_lo)) <= 3""".stripMargin
      }
    )),

    "q_dedup_clusters" -> ((
      // connected components over the jaccard>=0.8 near-dup graph:
      // every member labeled with its component's minimum doc id
      (s: SparkSession, dir: String) => {
        val pairs = Dedup.jaccardPairs(Tables.documents(s, dir),
          "doc_id", "text", threshold = 0.8).select("id_a", "id_b")
        Dedup.duplicateClusters(pairs)
      },
      Some("WITH " + JaccardClusterOracleCtes +
        "\nSELECT doc_id, canonical_id FROM cl")
    )),

    "q_dedup_embedding" -> ((
      (s: SparkSession, dir: String) =>
        Similarity.cosinePairsBlocked(Tables.embeddings(s, dir),
          "vec_id", "embedding", blockCol = "label", threshold = 0.3),
      Some("""WITH p AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) emb FROM embeddings),
             |n AS (SELECT vec_id, label, emb, list_sum([x*x for x in emb]) n2 FROM p),
             |s AS (SELECT a.vec_id id_a, b.vec_id id_b,
             |  list_sum([a.emb[i+1]*b.emb[i+1] for i in range(len(a.emb))]) / sqrt(a.n2 * b.n2) score
             |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id)
             |SELECT id_a, id_b, round(score, 6) AS score FROM s WHERE score >= 0.3""".stripMargin)
    )),

    // Blocking-free embedding near-dup: 4 independent hyperplane LSH
    // tables (6 planes each, disjoint plane ranges) generate
    // candidates with NO semantic label column; exact cosine verify
    // >= 0.3. The oracle replays the fixed planes as literals.
    "q_dedup_embedding_lsh" -> ((
      (s: SparkSession, dir: String) =>
        Similarity.lshCosinePairs(Tables.embeddings(s, dir),
          "vec_id", "embedding", threshold = 0.3, dims = 64),
      Some(lshPairsOracleSql(dims = 64, ppt = 6, tables = 4, threshold = 0.3))
    )),

    // Corpus-wide kNN graph (every vector's top-5 neighbors among its
    // LSH bucket-mates) — the embedding-clustering primitive; bounded
    // to vec_id < 1000 so the DuckDB replay stays cheap.
    "q_knn_graph" -> ((
      (s: SparkSession, dir: String) =>
        Similarity.knnGraph(
          Tables.embeddings(s, dir).filter(col("vec_id") < 1000),
          "vec_id", "embedding", k = 5, dims = 64),
      Some(knnGraphOracleSql(dims = 64, ppt = 6, tables = 4, k = 5,
        idBound = 1000))
    )),

    // Embedding-space semantic clustering at a REALISTIC threshold
    // (cosine >= 0.85): the raw fixture has no true near-dups at 0.85,
    // so the query plants a deterministic near-dup cohort — vec_id < 30
    // get perturbed copies (id + 100000, each component nudged by 5% of
    // its circular neighbor → cosine ≈ 0.9988 to the base) — and both
    // engines derive the SAME cohort from the same parquet. The verify
    // filter now does real discriminating work: thousands of LSH
    // bucket-mate candidates collapse to the ~30 planted pairs.
    // Clusters via connected components — every member labeled with its
    // cluster's canonical (minimum) vec_id. The embedding sibling of
    // q_dedup_clusters / q_linkage_clusters.
    "q_semantic_clusters" -> ((
      (s: SparkSession, dir: String) => {
        val pairs = Similarity.lshCosinePairs(plantedEmbeddings(s, dir),
          "vec_id", "emb", threshold = 0.85, dims = 64)
          .select("id_a", "id_b")
        Dedup.duplicateClusters(pairs)
      },
      Some(plantedClusterCte(0.85) +
        "\nSELECT x AS doc_id, least(x, min(y)) AS canonical_id FROM r GROUP BY x")
    )),

    // SemDeDup-style diversity pruning over the same planted cohort:
    // keep ONE representative (minimum vec_id) per semantic cluster at
    // cosine >= 0.85 plus everything unclustered — the planted
    // perturbed copies collapse onto their originals and everything
    // genuine survives. Output: the kept vec_ids.
    "q_semdedup_prune" -> ((
      (s: SparkSession, dir: String) =>
        Similarity.diversityPrune(plantedEmbeddings(s, dir),
          "vec_id", "emb", threshold = 0.85, dims = 64)
          .select("vec_id"),
      Some(plantedClusterCte(0.85) + """
           |, canon AS (SELECT x, least(x, min(y)) AS c FROM r GROUP BY x)
           |SELECT vec_id FROM emb0
           |WHERE NOT EXISTS (SELECT 1 FROM canon WHERE canon.x = emb0.vec_id AND canon.x <> canon.c)""".stripMargin)
    )),

    // ===== LLM-data-pipeline: similarity search =====

    "q_ann_bruteforce" -> ((
      (s: SparkSession, dir: String) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 5)
      },
      Some("""WITH p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb FROM embeddings),
             |n AS (SELECT vec_id, emb, list_sum([x*x for x in emb]) n2 FROM p),
             |s AS (SELECT q.vec_id query_id, c.vec_id neighbor_id,
             |  list_sum([c.emb[i+1]*q.emb[i+1] for i in range(len(c.emb))]) / sqrt(c.n2 * q.n2) score
             |  FROM n q JOIN n c ON c.vec_id != q.vec_id WHERE q.vec_id < 8),
             |r AS (SELECT query_id, neighbor_id, score,
             |  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) rn FROM s)
             |SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id, round(score, 6) AS score
             |FROM r WHERE rn <= 5""".stripMargin)
    )),

    // IVF in its oracle-exact configuration: probing ALL lists makes the
    // candidate set the whole corpus, so the output equals brute-force
    // top-k REGARDLESS of centroid float noise — which oracle-checks the
    // entire IVF machinery (k-means fit, assignment, probe join, exact
    // re-rank, bounded-heap top-k) against plain SQL. The approximate
    // nProbe<nLists configuration is covered by SimilaritySpec's
    // recall-vs-bruteforce assertions.
    "q_ann_ivf" -> ((
      (s: SparkSession, dir: String) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 5, nLists = 16, nProbe = 16)
      },
      Some("""WITH p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb FROM embeddings),
             |n AS (SELECT vec_id, emb, list_sum([x*x for x in emb]) n2 FROM p),
             |s AS (SELECT q.vec_id query_id, c.vec_id neighbor_id,
             |  list_sum([c.emb[i+1]*q.emb[i+1] for i in range(len(c.emb))]) / sqrt(c.n2 * q.n2) score
             |  FROM n q JOIN n c ON c.vec_id != q.vec_id WHERE q.vec_id < 8),
             |r AS (SELECT query_id, neighbor_id, score,
             |  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) rn FROM s)
             |SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id, round(score, 6) AS score
             |FROM r WHERE rn <= 5""".stripMargin)
    )),

    // PQ in its oracle-exact configuration: a re-rank shortlist larger
    // than any corpus makes the exact re-rank see EVERY candidate, so
    // the output equals brute-force top-k regardless of codebook float
    // noise — oracle-checking the whole PQ machinery (subspace k-means
    // fit, encoding, ADC lookup scoring through the bounded heap, exact
    // re-rank). The approximate shortlist regime is pinned by
    // SimilaritySpec's recall assertions.
    "q_ann_pq" -> ((
      (s: SparkSession, dir: String) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.pqTopK(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 5, m = 8, ksub = 16, iters = 1,
          rerank = Int.MaxValue / 2)
      },
      Some("""WITH p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb FROM embeddings),
             |n AS (SELECT vec_id, emb, list_sum([x*x for x in emb]) n2 FROM p),
             |s AS (SELECT q.vec_id query_id, c.vec_id neighbor_id,
             |  list_sum([c.emb[i+1]*q.emb[i+1] for i in range(len(c.emb))]) / sqrt(c.n2 * q.n2) score
             |  FROM n q JOIN n c ON c.vec_id != q.vec_id WHERE q.vec_id < 8),
             |r AS (SELECT query_id, neighbor_id, score,
             |  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) rn FROM s)
             |SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id, round(score, 6) AS score
             |FROM r WHERE rn <= 5""".stripMargin)
    )),

    // Hyperplane LSH is fully deterministic (fixed mixed-integer plane
    // components), so the WHOLE approximate pipeline — bucketing,
    // multi-probe, candidate join, exact re-rank — is SQL-expressible:
    // the oracle embeds the identical plane vectors as literals and
    // reproduces bucket ids bit-for-bit (same left-to-right double dot).
    "q_ann_lsh" -> ((
      (s: SparkSession, dir: String) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.lshTopK(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 5, dims = 64)
      },
      Some(lshOracleSql(dims = 64, planes = 12, k = 5))
    )),

    // ===== LLM-data-pipeline: text analysis =====

    // Corpus heavy terms: the canonical distributed wordcount with a
    // deterministic global top-20 (count desc, term asc tie-break).
    // Partial aggregation collapses each partition's counts map-side;
    // the final top-k is a tiny sorted limit over distinct terms.
    "q_heavy_terms" -> ((
      (s: SparkSession, dir: String) =>
        Tables.documents(s, dir)
          .select(explode(split(col("text"), " ")).as("term"))
          .groupBy("term").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("term"))
          .limit(20),
      Some("""SELECT term, count(*) AS n
             |FROM (SELECT unnest(string_split(text, ' ')) term FROM documents)
             |GROUP BY term ORDER BY n DESC, term LIMIT 20""".stripMargin)
    )),

    "q_token_count" -> ((
      (s: SparkSession, dir: String) =>
        Tables.documents(s, dir)
          .select(col("doc_id"),
            TextAnalysis.tokenCount(col("text")).as("n_tokens"),
            TextAnalysis.subwordCount(col("text")).as("n_subwords")),
      Some("""SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |CAST(list_sum([greatest(ceil(length(w) / 4.0), 1.0)
             |  for w in string_split_regex(text, '[^A-Za-z0-9]+')]) AS BIGINT) AS n_subwords
             |FROM documents""".stripMargin)
    )),

    "q_lang_id" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir)
        d.select(col("doc_id"),
          TextAnalysis.langId(col("text")).as("lang_pred"),
          TextAnalysis.stopwordHits(col("text"), TextAnalysis.stopwords("en")).as("n_en"),
          TextAnalysis.stopwordHits(col("text"), TextAnalysis.stopwords("es")).as("n_es"))
      },
      Some {
        def hits(words: Seq[String]) =
          s"CAST(len([w for w in string_split(text, ' ') if w IN (${words.map(w => s"'$w'").mkString(", ")})]) AS BIGINT)"
        val en = hits(TextAnalysis.stopwords("en"))
        val es = hits(TextAnalysis.stopwords("es"))
        val de = hits(TextAnalysis.stopwords("de"))
        val fr = hits(TextAnalysis.stopwords("fr"))
        s"""SELECT doc_id,
           |CASE WHEN $en > 0 AND $en >= $es AND $en >= $de AND $en >= $fr THEN 'en'
           |     WHEN $es > 0 AND $es >= $de AND $es >= $fr THEN 'es'
           |     WHEN $de > 0 AND $de >= $fr THEN 'de'
           |     WHEN $fr > 0 THEN 'fr'
           |     ELSE 'und' END AS lang_pred,
           |$en AS n_en, $es AS n_es
           |FROM documents""".stripMargin
      }
    )),

    "q_quality_score" -> ((
      (s: SparkSession, dir: String) =>
        Tables.documents(s, dir)
          .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("score")),
      Some {
        val allStop = TextAnalysis.stopwords.values.flatten.toSeq.distinct
          .map(w => s"'$w'").mkString(", ")
        // single exact-integer division — no rounding, bit-identical
        s"""WITH c AS (SELECT doc_id,
           |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
           |  CAST(len([w for w in string_split(text, ' ') if w IN ($allStop)]) AS BIGINT) AS nstop,
           |  CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS nalpha,
           |  CAST(length(text) AS BIGINT) AS nchars
           |FROM documents)
           |SELECT doc_id,
           |  CAST(4 * least(ntok, 100) * ntok * nchars + 300 * nstop * nchars
           |       + 300 * nalpha * ntok AS DOUBLE)
           |  / CAST(1000 * ntok * nchars AS DOUBLE) AS score
           |FROM c""".stripMargin
      }
    )),

    // Flesch reading ease + Flesch-Kincaid grade per document — the
    // classic readability gate a curation pipeline thresholds on.
    // Vowel-run syllables (the standard heuristic, floored at 1 per
    // word), sentence split on [.!?]+ floored at 1 (the fixtures carry
    // no punctuation, so every doc reads as one sentence — the
    // syllable/word dimensions still vary per doc); all map-side
    // array arithmetic, zero exchanges.
    "q_readability" -> ((
      (s: SparkSession, dir: String) =>
        Tables.documents(s, dir)
          .select(col("doc_id"),
            TextAnalysis.readability(col("text")).as("r"))
          .select(col("doc_id"), col("r.n_words"), col("r.n_sentences"),
            col("r.n_syllables"), col("r.fre"), col("r.fk_grade")),
      Some("""WITH c AS (SELECT doc_id,
             |    CAST(len(list_filter(string_split(text, ' '),
             |      w -> len(w) > 0)) AS BIGINT) AS n_words,
             |    greatest(1, CAST(len(list_filter(
             |      string_split_regex(text, '[.!?]+'),
             |      s -> len(trim(s)) > 0)) AS BIGINT)) AS n_sentences,
             |    CAST(list_sum([CASE WHEN len(w) > 0 THEN greatest(1,
             |        len(regexp_extract_all(lower(w), '[aeiouy]+')))
             |      ELSE 0 END FOR w IN string_split(text, ' ')]) AS BIGINT)
             |      AS n_syllables
             |  FROM documents)
             |SELECT doc_id, n_words, n_sentences, n_syllables,
             |  CASE WHEN n_words > 0 THEN round(206.835
             |    - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
             |    - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)),
             |    6) END AS fre,
             |  CASE WHEN n_words > 0 THEN round(
             |    0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
             |    + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
             |    - 15.59, 6) END AS fk_grade
             |FROM c""".stripMargin)
    )),

    "q_clean_text" -> ((
      (s: SparkSession, dir: String) =>
        Tables.documents(s, dir)
          .select(col("doc_id"), TextAnalysis.cleanText(col("text")).as("clean")),
      Some("""SELECT doc_id,
             |trim(regexp_replace(regexp_replace(lower(text), '[^a-z ]', ' ', 'g'), ' +', ' ', 'g')) AS clean
             |FROM documents""".stripMargin)
    )),

    "q_chunk" -> ((
      (s: SparkSession, dir: String) =>
        Tables.documents(s, dir)
          .select(col("doc_id"),
            explode(TextAnalysis.chunks(col("text"), chunkSize = 64, stride = 48)).as("c"))
          .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
            col("c.chunk_text").as("chunk_text"),
            col("c.n_tokens").cast("long").as("n_tokens")),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |s AS (SELECT doc_id, ws, unnest(range(0, greatest(len(ws) - 1, 0) + 1, 48)) AS st FROM t)
             |SELECT doc_id, CAST(st / 48 AS INTEGER) AS chunk_idx,
             |array_to_string(ws[st + 1 : st + 64], ' ') AS chunk_text,
             |CAST(least(len(ws) - st, 64) AS BIGINT) AS n_tokens
             |FROM s""".stripMargin)
    )),

    "q_normalize_embedding" -> ((
      // scalar projections of the normalized vector (array columns break
      // row-sorting in the hash compare): first/last unit components and
      // the unit norm, which must come out exactly 1.0-ish
      (s: SparkSession, dir: String) =>
        // n2 bound as an attribute BEFORE the lambda — an inlined normSq
        // would re-run the dot product per element (interpreted HOF)
        Tables.embeddings(s, dir)
          .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("emb"))
          .withColumn("n2", Similarity.normSq(col("emb")))
          .withColumn("unit", transform(col("emb"), x => x / sqrt(col("n2"))))
          .select(col("vec_id"), col("n2"),
            element_at(col("unit"), 1).as("unit_first"),
            element_at(col("unit"), 64).as("unit_last"),
            round(Similarity.normSq(col("unit")), 9).as("unit_norm")),
      Some("""WITH p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb FROM embeddings),
             |n AS (SELECT vec_id, emb, list_sum([x*x for x in emb]) n2 FROM p),
             |u AS (SELECT vec_id, n2, [x / sqrt(n2) for x in emb] AS unit FROM n)
             |SELECT vec_id, n2, unit[1] AS unit_first, unit[64] AS unit_last,
             |round(list_sum([x*x for x in unit]), 9) AS unit_norm FROM u""".stripMargin)
    )),

    // Per-label mean embeddings via the fixed-point aggregator: exact
    // long summation makes the result partition-order-independent, so
    // a float mean is oracle-checkable at all. Output exploded to
    // (grp, pos, value) scalar rows.
    "q_embed_centroids" -> ((
      (s: SparkSession, dir: String) =>
        operators.Embeddings.groupCentroids(
          Tables.embeddings(s, dir), "label", "embedding"),
      Some("""WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) emb FROM embeddings),
             |u AS (SELECT label, generate_subscripts(emb, 1) pos, unnest(emb) x FROM e),
             |s AS (SELECT label AS grp, pos, sum(CAST(floor(x * 1e9) AS BIGINT)) fx,
             |  count(*) n FROM u GROUP BY 1, 2)
             |SELECT grp, CAST(pos AS INTEGER) AS pos,
             |  round(CAST(fx AS DOUBLE) / 1e9 / CAST(n AS DOUBLE), 6) AS value
             |FROM s""".stripMargin)
    )),

    // ABTT dominant-direction projections (Mu & Viswanath, ICLR 2018):
    // four integer fixed-point power-iteration rounds over the
    // mean-centered quantized corpus, replayed exactly via
    // MATERIALIZED per-iteration CTEs. Division is SIGN-SPLIT
    // everywhere (Spark `div` truncates toward zero, DuckDB `//`
    // floors — negative operands would silently diverge), floats
    // quantize via floor(x·2^20) (no rounding-tie ambiguity), and
    // every sum is order-free int64 — the pageRank determinism
    // promise applied to linear algebra.
    "q_embed_top_component" -> ((
      (s: SparkSession, dir: String) =>
        operators.Embeddings.topComponentFixedPoint(
          Tables.embeddings(s, dir), "vec_id", "embedding",
          dim = 64, iterations = 4)._2,
      Some {
        val iters = (1 to 4).map { k =>
          s"""d$k AS MATERIALIZED (SELECT vec_id,
             |  CASE WHEN s >= 0 THEN s // 1073741824 ELSE -((-s) // 1073741824) END AS d2
             |  FROM (SELECT qc.vec_id, sum(qc.qc * x.x) AS s
             |    FROM qc JOIN x${k - 1} x USING (i) GROUP BY 1)),
             |s$k AS MATERIALIZED (SELECT qc.i, sum(d.d2 * qc.qc) AS s
             |  FROM qc JOIN d$k d USING (vec_id) GROUP BY 1),
             |x$k AS MATERIALIZED (SELECT i,
             |  CASE WHEN s >= 0 THEN s // dv ELSE -((-s) // dv) END AS x
             |  FROM s$k, (SELECT greatest(max(abs(s)) // 1048576, 1) AS dv FROM s$k))""".stripMargin
        }.mkString(",\n")
        s"""WITH q AS MATERIALIZED (SELECT vec_id, p.i AS i,
           |  CAST(floor(CAST(p.v AS DOUBLE) * 1048576.0) AS BIGINT) AS q
           |  FROM (SELECT vec_id,
           |    unnest([{'i': i, 'v': embedding[i]} for i in range(1, 65)]) AS p
           |    FROM embeddings)),
           |m AS MATERIALIZED (SELECT i,
           |  CASE WHEN sum(q) >= 0 THEN sum(q) // count(*) ELSE -((-sum(q)) // count(*)) END AS mu
           |  FROM q GROUP BY 1),
           |qc AS MATERIALIZED (SELECT q.vec_id, q.i, q.q - m.mu AS qc FROM q JOIN m USING (i)),
           |x0 AS MATERIALIZED (SELECT unnest(range(1, 65)) AS i, CAST(1048576 AS BIGINT) AS x),
           |$iters
           |SELECT vec_id, CAST(CASE WHEN s >= 0 THEN s // 1073741824 ELSE -((-s) // 1073741824) END AS BIGINT) AS proj_fp
           |FROM (SELECT qc.vec_id, sum(qc.qc * x.x) AS s FROM qc JOIN x4 x USING (i) GROUP BY 1)""".stripMargin
      }
    )),

    // k-center greedy diversity selection (farthest-point traversal,
    // the classic 2-approx coreset construction): six rounds, each
    // picking the point with the largest min squared-L2 distance to
    // everything selected (ties by id). Each round replays as one
    // MATERIALIZED CTE pair (min over selected centers is exactly
    // commutative; the distance is an index-ordered left fold), so the
    // whole greedy trajectory — ids AND winning distances — is
    // hash-checked, the q_kcore fixed-rounds discipline applied to
    // data selection.
    "q_kcenter_select" -> ((
      (s: SparkSession, dir: String) =>
        operators.Embeddings.kCenterGreedy(
          Tables.embeddings(s, dir), "vec_id", "embedding", k = 6),
      Some {
        def dist(e: String, c: String) =
          s"list_sum([($e.emb[i+1] - $c.emb[i+1]) * ($e.emb[i+1] - $c.emb[i+1]) " +
            s"for i in range(len($e.emb))])"
        val rounds = (2 to 6).map { r =>
          s"""m$r AS MATERIALIZED (SELECT e.vec_id, min(${dist("e", "c")}) AS mind
             |  FROM n e, c${r - 1} c
             |  WHERE e.vec_id NOT IN (SELECT vec_id FROM c${r - 1}) GROUP BY 1),
             |s$r AS MATERIALIZED (SELECT vec_id, mind FROM m$r
             |  ORDER BY mind DESC, vec_id LIMIT 1),
             |c$r AS MATERIALIZED (SELECT * FROM c${r - 1}
             |  UNION ALL SELECT n.vec_id, n.emb FROM n JOIN s$r USING (vec_id))""".stripMargin
        }.mkString(",\n")
        val sels = (2 to 6).map(r =>
          s"UNION ALL SELECT $r, vec_id, round(mind, 6) FROM s$r").mkString("\n")
        s"""WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb FROM embeddings),
           |s1 AS MATERIALIZED (SELECT min(vec_id) AS vec_id FROM n),
           |c1 AS MATERIALIZED (SELECT n.vec_id, n.emb FROM n JOIN s1 USING (vec_id)),
           |$rounds
           |SELECT CAST(1 AS INTEGER) AS round, vec_id,
           |  CAST(0.0 AS DOUBLE) AS min_dist FROM s1
           |$sels""".stripMargin
      }
    )),

    // Greedy maximum-coverage selection over trigram shingles: five
    // rounds of "pick the doc covering the most uncovered grams" —
    // the lexical complement of q_kcenter_select, same fixed-rounds
    // replay (per-round MATERIALIZED winner + accumulated covered-gram
    // CTEs). Integer gains, id tiebreaks: the whole greedy trajectory
    // is hash-checked.
    "q_coverage_select" -> ((
      (s: SparkSession, dir: String) =>
        operators.Sampling.coverageSelect(
          Tables.documents(s, dir), "doc_id", "text", k = 5),
      Some {
        val rounds = (2 to 5).map { r =>
          s"""w$r AS MATERIALIZED (SELECT id, CAST(count(*) AS BIGINT) AS gain
             |  FROM g WHERE gram NOT IN (SELECT gram FROM c${r - 1})
             |  GROUP BY 1 ORDER BY gain DESC, id LIMIT 1),
             |c$r AS MATERIALIZED (SELECT gram FROM c${r - 1}
             |  UNION ALL SELECT g.gram FROM g JOIN w$r USING (id))""".stripMargin
        }.mkString(",\n")
        val sels = (2 to 5).map(r =>
          s"UNION ALL SELECT $r, id, gain FROM w$r").mkString("\n")
        s"""WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
           |g0 AS (SELECT doc_id, CASE WHEN len(ws) >= 3
           |  THEN list_distinct([ws[i+1] || '_' || ws[i+2] || '_' || ws[i+3] for i in range(len(ws)-2)])
           |  ELSE [] END sh FROM w),
           |g AS (SELECT doc_id AS id, unnest(sh) AS gram FROM g0),
           |w1 AS MATERIALIZED (SELECT id, CAST(count(*) AS BIGINT) AS gain
           |  FROM g GROUP BY 1 ORDER BY gain DESC, id LIMIT 1),
           |c1 AS MATERIALIZED (SELECT g.gram FROM g JOIN w1 USING (id)),
           |$rounds
           |SELECT CAST(1 AS INTEGER) AS round, id, gain FROM w1
           |$sels""".stripMargin
      }
    )),

    // Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    // 1998): six greedy rounds of λ·rel − (1−λ)·max-dot-to-selected
    // over the embeddings corpus with an id-derived relevance — the
    // relevance-aware sibling of q_kcenter_select, same fixed-rounds
    // MATERIALIZED-CTE replay. The oracle embeds the SCALA-computed
    // 1−λ double verbatim (0.30000000000000004, not the literal 0.3)
    // so both engines run identical bits through the score.
    "q_mmr_select" -> ((
      (s: SparkSession, dir: String) =>
        operators.Embeddings.mmrSelect(
          Tables.embeddings(s, dir)
            .withColumn("rel",
              expr("CAST((vec_id * 17) % 100 AS DOUBLE) / 100.0")),
          "vec_id", "embedding", "rel", k = 6, lambda = 0.7),
      Some {
        val lam = "0.7"
        val oneMinus = s"${1.0 - 0.7}"
        def dotTo(e: String, c: String) =
          s"list_sum([$e.emb[i+1] * $c.emb[i+1] for i in range(len($e.emb))])"
        val rounds = (2 to 6).map { r =>
          s"""m$r AS MATERIALIZED (SELECT e.vec_id, e.rel,
             |    max(${dotTo("e", "c")}) AS ms
             |  FROM n e, c${r - 1} c
             |  WHERE e.vec_id NOT IN (SELECT vec_id FROM c${r - 1})
             |  GROUP BY 1, 2),
             |s$r AS MATERIALIZED (SELECT vec_id, rel,
             |    $lam * rel - $oneMinus * ms AS mmr
             |  FROM m$r ORDER BY mmr DESC, vec_id LIMIT 1),
             |c$r AS MATERIALIZED (SELECT * FROM c${r - 1}
             |  UNION ALL SELECT n.vec_id, n.emb FROM n JOIN s$r USING (vec_id))""".stripMargin
        }.mkString(",\n")
        val sels = (2 to 6).map(r =>
          s"UNION ALL SELECT $r, vec_id, rel, round(mmr, 6) FROM s$r")
          .mkString("\n")
        s"""WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb,
           |    CAST((vec_id * 17) % 100 AS DOUBLE) / 100.0 AS rel
           |  FROM embeddings),
           |s1 AS MATERIALIZED (SELECT vec_id, rel, $lam * rel AS mmr
           |  FROM n ORDER BY rel DESC, vec_id LIMIT 1),
           |c1 AS MATERIALIZED (SELECT n.vec_id, n.emb
           |  FROM n JOIN s1 USING (vec_id)),
           |$rounds
           |SELECT CAST(1 AS INTEGER) AS round, vec_id, rel,
           |  round(mmr, 6) AS mmr FROM s1
           |$sels""".stripMargin
      }
    )),

    "q_fingerprint" -> ((
      (s: SparkSession, dir: String) =>
        Tables.documents(s, dir)
          .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp")),
      Some("""SELECT doc_id,
             |md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
             |FROM documents""".stripMargin)
    )),

    // Benchmark decontamination: training docs (doc_id % 10 != 0) that
    // share any word 5-gram with the pseudo-benchmark slice
    // (doc_id % 10 = 0) — cross-corpus n-gram overlap with per-doc
    // collision counts. The benchmark n-gram set is the small side;
    // at scale it broadcasts and the corpus probe is map-side.
    "q_decontaminate" -> ((
      (s: SparkSession, dir: String) => {
        val docs = Tables.documents(s, dir)
        operators.Decontaminate.contaminated(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", n = 5)
      },
      Some {
        val gram5 = (1 to 5).map(k => s"ws[i+$k]").mkString(" || '_' || ")
        s"""WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
           |g AS (SELECT doc_id, CASE WHEN len(ws) >= 5
           |  THEN list_distinct([$gram5 for i in range(len(ws)-4)])
           |  ELSE [] END sh FROM w),
           |tr AS (SELECT doc_id, unnest(sh) gram FROM g WHERE doc_id % 10 != 0),
           |te AS (SELECT doc_id AS test_id, unnest(sh) gram FROM g WHERE doc_id % 10 = 0)
           |SELECT tr.doc_id, count(DISTINCT tr.gram) AS n_hit_grams,
           |  count(DISTINCT te.test_id) AS n_test_docs
           |FROM tr JOIN te USING (gram) GROUP BY 1""".stripMargin
      }
    )),

    // Per-benchmark contamination REPORT — the release-gate artifact:
    // two stacked pseudo-benchmarks (the %10 and %7 doc slices, which
    // overlap each other — a real hazard the per-benchmark keying must
    // keep separate), train = docs in neither; for each benchmark the
    // report carries train-docs-hit, bench-docs-hit, distinct gram
    // collisions and the benchmark's size. A handful of output rows
    // regardless of corpus size. holdout_c is a planted ZERO-collision
    // benchmark (3-word docs — no 5-grams at all): it must still
    // appear in the report with explicit 0s, because a consumer has to
    // distinguish "clean benchmark" from "benchmark not checked".
    "q_contamination_report" -> ((
      (s: SparkSession, dir: String) => {
        val docs = Tables.documents(s, dir)
        val train = docs.filter(col("doc_id") % 10 =!= 0 &&
          col("doc_id") % 7 =!= 0)
        val benches = docs.filter(col("doc_id") % 10 === 0)
          .withColumn("bench", lit("holdout_a"))
          .unionByName(docs.filter(col("doc_id") % 7 === 0)
            .withColumn("bench", lit("holdout_b")))
          .unionByName(docs.filter(col("doc_id") % 10 === 1)
            .withColumn("text", lit("short clean holdout"))
            .withColumn("bench", lit("holdout_c")))
        operators.Decontaminate.report(train, benches,
          "doc_id", "text", "bench", n = 5)
      },
      Some {
        val gram5 = (1 to 5).map(k => s"ws[i+$k]").mkString(" || '_' || ")
        s"""WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
           |g AS (SELECT doc_id, CASE WHEN len(ws) >= 5
           |  THEN list_distinct([$gram5 for i in range(len(ws)-4)])
           |  ELSE [] END sh FROM w),
           |tr AS (SELECT doc_id, unnest(sh) gram FROM g
           |  WHERE doc_id % 10 != 0 AND doc_id % 7 != 0),
           |te AS (SELECT 'holdout_a' AS benchmark, doc_id AS test_id, unnest(sh) gram
           |  FROM g WHERE doc_id % 10 = 0
           |  UNION ALL
           |  SELECT 'holdout_b', doc_id, unnest(sh) FROM g WHERE doc_id % 7 = 0),
           |sz AS (SELECT 'holdout_a' AS benchmark,
           |    CAST(count(*) AS BIGINT) AS n_bench_docs
           |  FROM documents WHERE doc_id % 10 = 0
           |  UNION ALL
           |  SELECT 'holdout_b', CAST(count(*) AS BIGINT)
           |  FROM documents WHERE doc_id % 7 = 0
           |  UNION ALL
           |  SELECT 'holdout_c', CAST(count(*) AS BIGINT)
           |  FROM documents WHERE doc_id % 10 = 1),
           |hits AS (SELECT te.benchmark,
           |  count(DISTINCT tr.doc_id) AS n_train_docs_hit,
           |  count(DISTINCT te.test_id) AS n_bench_docs_hit,
           |  count(DISTINCT tr.gram) AS n_grams_hit
           |  FROM tr JOIN te USING (gram) GROUP BY 1)
           |SELECT sz.benchmark,
           |  coalesce(n_train_docs_hit, 0) AS n_train_docs_hit,
           |  coalesce(n_bench_docs_hit, 0) AS n_bench_docs_hit,
           |  coalesce(n_grams_hit, 0) AS n_grams_hit, n_bench_docs
           |FROM sz LEFT JOIN hits USING (benchmark)""".stripMargin
      }
    )),

    // Bloom-prefiltered decontamination: same answer as q_decontaminate
    // (the filter has no false negatives and the exact join removes its
    // false positives), but the corpus side is tested map-side inside
    // the scan BEFORE any explode/join — the 100 TB shape. The oracle
    // is therefore the exact-join SQL, which is the whole point.
    "q_decontaminate_bloom" -> ((
      (s: SparkSession, dir: String) => {
        val docs = Tables.documents(s, dir)
        operators.Decontaminate.contaminatedBloom(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", n = 5)
      },
      Some {
        val gram5 = (1 to 5).map(k => s"ws[i+$k]").mkString(" || '_' || ")
        s"""WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
           |g AS (SELECT doc_id, CASE WHEN len(ws) >= 5
           |  THEN list_distinct([$gram5 for i in range(len(ws)-4)])
           |  ELSE [] END sh FROM w),
           |tr AS (SELECT doc_id, unnest(sh) gram FROM g WHERE doc_id % 10 != 0),
           |te AS (SELECT doc_id AS test_id, unnest(sh) gram FROM g WHERE doc_id % 10 = 0)
           |SELECT tr.doc_id, count(DISTINCT tr.gram) AS n_hit_grams,
           |  count(DISTINCT te.test_id) AS n_test_docs
           |FROM tr JOIN te USING (gram) GROUP BY 1""".stripMargin
      }
    )),

    // Embedding-space decontamination: benchmark vectors leaked into the
    // train side as perturbed copies (the planted cohort — vec_id < 30
    // reappear as id+100000 at cosine ≈ 0.9988) must be dropped by the
    // broadcast nested-loop ANTI join at threshold 0.85; genuine train
    // vectors survive. Catches paraphrased leakage the n-gram
    // decontamination above cannot see.
    "q_decontaminate_embedding" -> ((
      (s: SparkSession, dir: String) => {
        val all = plantedEmbeddings(s, dir)
        operators.Decontaminate.byEmbedding(
          all.filter(col("vec_id") >= 30),      // train incl. the leaks
          all.filter(col("vec_id") < 30),       // benchmark
          "vec_id", "emb", threshold = 0.85)
          .select("vec_id")
      },
      Some("""WITH raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb FROM embeddings),
             |emb0 AS (SELECT vec_id, emb FROM raw
             |  UNION ALL
             |  SELECT vec_id + 100000,
             |    [emb[i+1] + 0.05 * emb[((i+1) % 64) + 1] for i in range(64)]
             |  FROM raw WHERE vec_id < 30),
             |tr AS (SELECT vec_id, emb, list_sum([x*x for x in emb]) n2 FROM emb0 WHERE vec_id >= 30),
             |ev AS (SELECT emb, list_sum([x*x for x in emb]) n2 FROM emb0 WHERE vec_id < 30)
             |SELECT vec_id FROM tr WHERE NOT EXISTS (
             |  SELECT 1 FROM ev WHERE
             |    list_sum([tr.emb[i+1] * ev.emb[i+1] for i in range(len(tr.emb))]) / sqrt(tr.n2 * ev.n2) >= 0.85)""".stripMargin)
    )),

    // Gopher/C4-style repetition gates, computed MAP-SIDE per doc (the
    // top-bigram count is a run-length fold over the sorted bigram
    // array — no (doc, ngram) shuffle).
    "q_repetition" -> ((
      (s: SparkSession, dir: String) =>
        Tables.documents(s, dir)
          .select(col("doc_id"),
            TextAnalysis.repetitionStats(col("text"), n = 2).as("r"))
          .select(col("doc_id"), col("r.n_tokens").as("n_tokens"),
            col("r.rep_token_frac").as("rep_token_frac"),
            col("r.n_ngrams").as("n_ngrams"),
            col("r.top_ngram_count").as("top_ngram_count"),
            col("r.top_ngram_frac").as("top_ngram_frac")),
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
             |b AS (SELECT doc_id, ws, CASE WHEN len(ws) >= 2
             |  THEN [ws[i+1] || '_' || ws[i+2] for i in range(len(ws)-1)]
             |  ELSE [] END gs FROM w),
             |e AS (SELECT doc_id, unnest(gs) g FROM b),
             |cnt AS (SELECT doc_id, g, count(*) c FROM e GROUP BY 1, 2),
             |top AS (SELECT doc_id, max(c) top_cnt FROM cnt GROUP BY 1)
             |SELECT b.doc_id,
             |  CAST(len(ws) AS BIGINT) AS n_tokens,
             |  CAST(len(ws) - len(list_distinct(ws)) AS DOUBLE) / CAST(len(ws) AS DOUBLE) AS rep_token_frac,
             |  CAST(len(gs) AS BIGINT) AS n_ngrams,
             |  coalesce(top_cnt, 0) AS top_ngram_count,
             |  CASE WHEN len(gs) > 0
             |    THEN CAST(coalesce(top_cnt, 0) AS DOUBLE) / CAST(len(gs) AS DOUBLE)
             |    ELSE 0.0 END AS top_ngram_frac
             |FROM b LEFT JOIN top USING (doc_id)""".stripMargin)
    )),

    // Sequence packing: contiguous-fill token-budget bins, sharded by an
    // md5 key so packing parallelizes (one running sum per shard, not
    // one global serialized window). Output is per-bin fill stats.
    "q_pack" -> ((
      (s: SparkSession, dir: String) => {
        val withTokens = Tables.documents(s, dir)
          .select(col("doc_id"),
            TextAnalysis.tokenCount(col("text")).as("n_tok"))
        operators.Packing.binStats(
          operators.Packing.packBins(withTokens, "doc_id", "n_tok",
            budget = 512, shards = 8), "n_tok")
      },
      Some("""WITH t AS (SELECT doc_id,
             |  CAST(len(string_split(text, ' ')) AS BIGINT) n_tok,
             |  CAST('0x' || substr(md5('pack_' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 8 AS shard
             |  FROM documents),
             |c AS (SELECT doc_id, shard, n_tok,
             |  sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
             |    ROWS UNBOUNDED PRECEDING) cum FROM t)
             |SELECT shard, CAST(floor((cum - n_tok) / 512.0) AS BIGINT) AS bin_idx,
             |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
             |FROM c GROUP BY 1, 2""".stripMargin)
    )),

    // int8-quantized ANN: scales cancel in cosine, so ranking is exact
    // integer arithmetic — deterministic, hence fully oracle-checked
    // (the rare ANN variant where the compressed path has a SQL oracle).
    "q_ann_int8" -> ((
      (s: SparkSession, dir: String) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.quantizedTopK(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 5)
      },
      Some("""WITH p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb FROM embeddings),
             |z AS (SELECT vec_id, emb,
             |  CASE WHEN list_max([abs(x) for x in emb]) > 0
             |    THEN list_max([abs(x) for x in emb]) / 127.0 ELSE 1.0 END scale FROM p),
             |q8 AS (SELECT vec_id, [floor(x / scale + 0.5) for x in emb] q FROM z),
             |n AS (SELECT vec_id, q, list_sum([x*x for x in q]) qn2 FROM q8),
             |s AS (SELECT qq.vec_id query_id, c.vec_id neighbor_id,
             |  list_sum([c.q[i+1]*qq.q[i+1] for i in range(len(c.q))]) / sqrt(c.qn2 * qq.qn2) score
             |  FROM n qq JOIN n c ON c.vec_id != qq.vec_id WHERE qq.vec_id < 8),
             |r AS (SELECT query_id, neighbor_id, score,
             |  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) rn FROM s)
             |SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id, round(score, 6) AS score
             |FROM r WHERE rn <= 5""".stripMargin)
    )),

    // PII redaction end-to-end: deterministic synthetic PII is appended
    // to each doc (so the patterns actually fire), then scrubbed; both
    // engines build and redact the same bytes, so the output is
    // hash-exact. Patterns live in TextAnalysis.piiPatterns (common
    // java-regex/RE2 subset).
    "q_pii_redact" -> ((
      (s: SparkSession, dir: String) =>
        Tables.documents(s, dir)
          .select(col("doc_id"),
            TextAnalysis.redactPii(concat(
              col("text"), lit(" contact user"), col("doc_id"),
              lit("@example.com or 555-867-5309 at 10.0.0."),
              pmod(col("doc_id"), lit(255L)))).as("clean")),
      Some {
        val replays = TextAnalysis.piiPatterns.foldLeft(
          "text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
            "'@example.com or 555-867-5309 at 10.0.0.' || CAST(doc_id % 255 AS VARCHAR)") {
          case (expr, (pat, rep)) =>
            // DuckDB '...' literals keep backslashes verbatim — only
            // quotes need doubling
            val escaped = pat.replace("'", "''")
            s"regexp_replace($expr, '$escaped', '$rep', 'g')"
        }
        s"SELECT doc_id, $replays AS clean FROM documents"
      }
    )),

    // Consistent pseudonymization: same PII value → same surrogate
    // CORPUS-WIDE (coreference preserved, value not retained). The
    // fixture plants cross-doc shared emails (user<k mod 7>@…) AND the
    // substring hazard the longest-match-first ordering exists for:
    // user3@example.com is a proper substring of xuser3@example.com in
    // the SAME document, so a short-first fold would corrupt the long
    // match's surrogate. The oracle replays the sort + fold with
    // list_sort/list_reduce over identical md5 surrogates.
    "q_pii_pseudonymize" -> ((
      (s: SparkSession, dir: String) => {
        val seeded = concat(col("text"), lit(" contact user"),
          pmod(col("doc_id"), lit(7L)), lit("@example.com or xuser"),
          pmod(col("doc_id"), lit(7L)), lit("@example.com ip 10.0.0."),
          pmod(col("doc_id"), lit(255L)))
        Tables.documents(s, dir).select(col("doc_id"),
          TextAnalysis.pseudonymizePii(seeded).as("clean"),
          size(array_distinct(regexp_extract_all(seeded,
            lit(TextAnalysis.piiPatterns.map(_._1).mkString("|")), lit(0))))
            .cast("long").as("n_pii"))
      },
      Some {
        val pat = TextAnalysis.piiPatterns.map(_._1).mkString("|")
          .replace("'", "''")
        s"""WITH d AS (SELECT doc_id,
           |    text || ' contact user' || CAST(doc_id % 7 AS VARCHAR) ||
           |    '@example.com or xuser' || CAST(doc_id % 7 AS VARCHAR) ||
           |    '@example.com ip 10.0.0.' || CAST(doc_id % 255 AS VARCHAR) AS t
           |  FROM documents),
           |m AS (SELECT doc_id, t,
           |    list_transform(list_sort(list_transform(
           |      list_distinct(regexp_extract_all(t, '$pat')),
           |      x -> {'nl': -length(x), 'm': x})), s -> s.m) AS ms
           |  FROM d)
           |SELECT doc_id,
           |  list_reduce(list_prepend(t, ms), (acc, x) ->
           |    replace(acc, x, '<pii_' || substr(md5(x), 1, 8) || '>')) AS clean,
           |  CAST(len(ms) AS BIGINT) AS n_pii
           |FROM m""".stripMargin
      }
    )),

    // Collection-level sketches: ONE MinHash signature per SOURCE via
    // the typed MinSigAggregator (min-merge of per-doc signatures ==
    // signature of the source's shingle union), then pairwise Jaccard
    // estimates between sources from component agreement. The estimator
    // is deterministic (md5-derived hashes, fixed permutation
    // constants), so even this sketch query has an exact SQL oracle.
    "q_source_sketch_sim" -> ((
      (s: SparkSession, dir: String) => {
        val nh = 16
        val docs = Tables.documents(s, dir)
        val sigs = Dedup.shingleSets(docs, "doc_id", "text")
          .join(docs.select(col("doc_id").as("id"), col("source")), "id")
          .select(col("source"),
            graft.plans.SketchExpressions.minhash_signature(col("sh"), nh).as("sig"))
        val minSig = udaf(new graft.plans.MinSigAggregator(nh),
          org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
        val perSource = sigs.groupBy("source").agg(minSig(col("sig")).as("ssig"))
        val a = perSource.toDF("source_a", "sig_a")
        val b = perSource.toDF("source_b", "sig_b")
        a.join(b, col("source_a") < col("source_b"))
          .select(col("source_a"), col("source_b"),
            (aggregate(zip_with(col("sig_a"), col("sig_b"),
              (x, y) => when(x === y, 1L).otherwise(0L)),
              lit(0L), (acc, v) => acc + v).cast("double") / nh)
              .as("est_jaccard"))
      },
      Some {
        val p = 4294967311L
        val mins = (0 until 16).map { i =>
          val a = graft.plans.SketchExpressions.hashParamA(i)
          val b = graft.plans.SketchExpressions.hashParamB(i)
          s"min(($a * hv + $b) % $p) m$i"
        }.mkString(", ")
        val agree = (0 until 16).map(i =>
          s"(CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END)").mkString(" + ")
        s"""WITH w AS (SELECT doc_id, source, string_split(text, ' ') ws FROM documents),
           |g AS (SELECT source, CASE WHEN len(ws) >= 3
           |  THEN list_distinct([ws[i+1] || '_' || ws[i+2] || '_' || ws[i+3] for i in range(len(ws)-2)])
           |  ELSE [] END sh FROM w),
           |e AS (SELECT source, unnest(sh) s FROM g),
           |h AS (SELECT source, CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) hv FROM e),
           |m AS (SELECT source, $mins FROM h GROUP BY source)
           |SELECT a.source AS source_a, b.source AS source_b,
           |  CAST($agree AS DOUBLE) / 16 AS est_jaccard
           |FROM m a JOIN m b ON a.source < b.source""".stripMargin
      }
    )),

    // The dataset card — the per-source datasheet every released
    // training corpus ships with: doc/token/char volumes, length
    // profile, and gate pass-rates, in ONE aggregation pass (map-side
    // partials; at 100 TB this is a scan + one bounded-key shuffle).
    // avg_tokens is one IEEE division of exact longs; the quality
    // pass-count compares the exact-integer score against the same
    // literal both engines use — every cell hash-checks.
    "q_dataset_card" -> ((
      (s: SparkSession, dir: String) => {
        val ntok = size(split(col("text"), " ")).cast("long")
        Tables.documents(s, dir)
          .select(col("source"), ntok.as("ntok"),
            TextAnalysis.qualityScore(col("text")).as("q"),
            length(col("text")).cast("long").as("nchars"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("ntok").as("n_tokens"),
            (sum("ntok").cast("double") / count(lit(1)).cast("double"))
              .as("avg_tokens"),
            max("ntok").as("max_tokens"),
            sum(when(col("ntok") < 30, 1L).otherwise(0L)).as("n_short"),
            sum(when(col("q") >= 0.55, 1L).otherwise(0L)).as("n_quality_pass"),
            sum("nchars").as("n_chars"))
      },
      Some {
        val allStop = TextAnalysis.stopwords.values.flatten.toSeq.distinct
          .map(w => s"'$w'").mkString(", ")
        s"""WITH s AS (SELECT source,
           |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
           |  CAST(4 * least(CAST(len(string_split(text, ' ')) AS BIGINT), 100)
           |         * len(string_split(text, ' ')) * length(text)
           |       + 300 * len([w for w in string_split(text, ' ') if w IN ($allStop)]) * length(text)
           |       + 300 * length(regexp_replace(text, '[^a-z]', '', 'g')) * len(string_split(text, ' '))
           |    AS DOUBLE)
           |  / CAST(1000 * len(string_split(text, ' ')) * length(text) AS DOUBLE) AS q,
           |  CAST(length(text) AS BIGINT) AS nchars
           |  FROM documents)
           |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
           |  CAST(CAST(sum(ntok) AS BIGINT) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE) AS avg_tokens,
           |  CAST(max(ntok) AS BIGINT) AS max_tokens,
           |  CAST(sum(CASE WHEN ntok < 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
           |  CAST(sum(CASE WHEN q >= 0.55 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_pass,
           |  CAST(sum(nchars) AS BIGINT) AS n_chars
           |FROM s GROUP BY 1""".stripMargin
      }
    )),

    // Adaptive quality gate: drop the bottom decile by quality score —
    // the threshold is a single exact-percentile scalar computed from
    // the corpus itself (relative gate), then a map-side filter.
    "q_quality_cutoff" -> ((
      (s: SparkSession, dir: String) =>
        operators.Curation.dropBottomQuantile(
          Tables.documents(s, dir)
            .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("q")),
          col("q"), quantile = 0.1).select("doc_id", "q"),
      Some {
        val allStop = TextAnalysis.stopwords.values.flatten.toSeq.distinct
          .map(w => s"'$w'").mkString(", ")
        s"""WITH s AS (SELECT doc_id,
           |  CAST(4 * least(CAST(len(string_split(text, ' ')) AS BIGINT), 100)
           |         * len(string_split(text, ' ')) * length(text)
           |       + 300 * len([w for w in string_split(text, ' ') if w IN ($allStop)]) * length(text)
           |       + 300 * length(regexp_replace(text, '[^a-z]', '', 'g')) * len(string_split(text, ' '))
           |    AS DOUBLE)
           |  / CAST(1000 * len(string_split(text, ' ')) * length(text) AS DOUBLE) AS q
           |  FROM documents),
           |t AS (SELECT quantile_cont(q, 0.1) AS thr FROM s)
           |SELECT doc_id, q FROM s, t WHERE q >= thr""".stripMargin
      }
    )),

    // Temperature resampling (alpha=0.5): sources are down-sampled
    // toward sqrt-flattened proportions; membership by md5 bucket so
    // the kept set is engine-exact (sqrt is IEEE-correctly-rounded
    // everywhere, unlike pow).
    "q_temperature_resample" -> ((
      (s: SparkSession, dir: String) =>
        operators.Sampling.temperatureResample(
          Tables.documents(s, dir).select(col("doc_id"), col("source")),
          "source", col("doc_id"), alpha = 0.5),
      Some("""WITH c AS (SELECT source, count(*) n FROM documents GROUP BY 1),
             |m AS (SELECT min(n) nmin FROM c),
             |r AS (SELECT source, sqrt(CAST(nmin AS DOUBLE) / CAST(n AS DOUBLE)) rate FROM c, m)
             |SELECT d.doc_id, d.source FROM documents d JOIN r USING (source)
             |WHERE CAST(CAST('0x' || substr(md5('temp_' || CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000 AS DOUBLE)
             |  < rate * 10000.0""".stripMargin)
    )),

    // Deterministic stratified sample: exactly min(20, |stratum|) docs
    // per source, selected by md5 order — class-balanced, stable across
    // engines/partitionings (md5 IS the permutation).
    "q_stratified_sample" -> ((
      (s: SparkSession, dir: String) =>
        operators.Sampling.stratified(
          Tables.documents(s, dir).select(col("doc_id"), col("source")),
          Seq("source"), col("doc_id"), perStratum = 20),
      Some("""WITH r AS (SELECT doc_id, source,
             |  row_number() OVER (PARTITION BY source
             |    ORDER BY md5('strat_' || CAST(doc_id AS VARCHAR)), CAST(doc_id AS VARCHAR)) rn
             |  FROM documents)
             |SELECT doc_id, source FROM r WHERE rn <= 20""".stripMargin)
    )),

    // Data-mixing report: per-source token counts, corpus share, and the
    // uniform-target resampling weight — exact long sums, two pinned
    // IEEE divisions (share = n/total, weight = total/(G*n)).
    "q_mixture_weights" -> ((
      (s: SparkSession, dir: String) =>
        operators.Sampling.mixtureWeights(Tables.documents(s, dir),
          "source", TextAnalysis.tokenCount(col("text"))),
      Some("""WITH c AS (SELECT source,
             |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_units
             |  FROM documents GROUP BY source),
             |t AS (SELECT CAST(sum(n_units) AS BIGINT) AS total,
             |  count(*) AS groups FROM c)
             |SELECT source, n_units,
             |  CAST(n_units AS DOUBLE) / CAST(total AS DOUBLE) AS share,
             |  CAST(total AS DOUBLE) / CAST(groups * n_units AS DOUBLE) AS weight
             |FROM c, t""".stripMargin)
    )),

    // UniMax per-language budget allocation (Chung et al. 2023): token
    // budget 8/5 of the corpus, epoch cap 2 — the lang skew (en ~41%
    // of tokens) lands the waterfill mid-split at EVERY scale: the
    // four small languages take their full 2-epoch capacity, en is
    // truncated to the equal-share remainder (~1.03 epochs). Exact
    // int64 waterfill; the engine folds it inside one k-row struct
    // array (bounded-fold discipline), the oracle replays it with
    // window prefix sums — same absorbing capped-iff condition.
    "q_unimax_budget" -> ((
      (s: SparkSession, dir: String) =>
        operators.Sampling.unimaxBudget(Tables.documents(s, dir), "lang",
          TextAnalysis.tokenCount(col("text")),
          budgetNum = 8L, budgetDen = 5L, maxEpochs = 2L),
      Some("""WITH c AS (SELECT lang AS g,
             |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_units
             |  FROM documents GROUP BY 1),
             |t AS (SELECT CAST(sum(n_units) AS BIGINT) * 8 // 5 AS budget,
             |    CAST(count(*) AS BIGINT) AS k FROM c),
             |r AS (SELECT g, n_units, n_units * 2 AS cap,
             |    CAST(row_number() OVER (ORDER BY n_units * 2, g) AS BIGINT) AS i,
             |    CAST(COALESCE(sum(n_units * 2) OVER (ORDER BY n_units * 2, g
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             |      AS cprev
             |  FROM c),
             |f AS (SELECT r.*, t.budget, t.k,
             |    cap * (k - i + 1) < budget - cprev AS capped
             |  FROM r CROSS JOIN t),
             |s AS (SELECT CAST(count(*) FILTER (capped) AS BIGINT) AS m,
             |    CAST(COALESCE(sum(cap) FILTER (capped), 0) AS BIGINT) AS csum
             |  FROM f)
             |SELECT g AS lang, n_units, cap AS capacity, capped,
             |  round(CASE WHEN capped THEN CAST(cap AS DOUBLE)
             |    ELSE CAST(budget - csum AS DOUBLE) / CAST(k - m AS DOUBLE)
             |    END, 6) AS alloc,
             |  round(CASE WHEN n_units > 0 THEN
             |    (CASE WHEN capped THEN CAST(cap AS DOUBLE)
             |      ELSE CAST(budget - csum AS DOUBLE) / CAST(k - m AS DOUBLE) END)
             |    / CAST(n_units AS DOUBLE) END, 6) AS epochs
             |FROM f CROSS JOIN s""".stripMargin)
    )),

    // Neyman optimal allocation of a 1000-row annotation sample across
    // source strata on n_chars — the variance-minimizing design beside
    // q_unimax_budget's fairness one: strata get sample proportional
    // to N_h * sigma_h, so a noisy stratum earns more labels than an
    // equally-sized uniform one. Exact decimal sums -> one fixed IEEE
    // sigma, weights rounded 9 at birth, stratum-ordered fold.
    "q_neyman_allocation" -> ((
      (s: SparkSession, dir: String) =>
        operators.Sampling.neymanAllocation(Tables.documents(s, dir),
          "source", "n_chars", sampleSize = 1000L),
      Some("""WITH per AS (SELECT source AS g, CAST(count(*) AS BIGINT) AS nh,
             |    sum(CAST(n_chars AS HUGEINT)) AS s,
             |    sum(CAST(n_chars AS HUGEINT) * n_chars) AS q
             |  FROM documents GROUP BY 1),
             |w0 AS (SELECT g, nh,
             |    sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
             |        / CAST(nh AS DOUBLE)) / CAST(nh AS DOUBLE)) AS sigma
             |  FROM per),
             |w1 AS (SELECT g, nh, sigma,
             |    round(CAST(nh AS DOUBLE) * sigma, 9) AS w FROM w0),
             |t AS (SELECT list_sum([x.w FOR x IN
             |    list({'g': g, 'w': w} ORDER BY g)]) AS wsum FROM w1)
             |SELECT g AS source, nh AS n_rows, round(sigma, 6) AS sigma,
             |  round(w, 6) AS weight,
             |  CASE WHEN wsum > 0.0 THEN round(1000.0 * w / wsum, 6) END AS alloc
             |FROM w1 CROSS JOIN t""".stripMargin)
    )),

    // Out-of-vocabulary profiling: docs with doc_id % 7 == 0 get a
    // doc-unique planted token (df = 1, below the vocabulary cutoff), so
    // their OOV counts are non-trivial while everything else scores 0 —
    // both engines derive the same planted corpus from the same parquet.
    "q_oov_rate" -> ((
      (s: SparkSession, dir: String) => {
        val docs = Tables.documents(s, dir).select(col("doc_id"),
          when(pmod(col("doc_id"), lit(7)) === 0,
            concat(col("text"), lit(" zq"), col("doc_id").cast("string")))
            .otherwise(col("text")).as("text"))
        operators.Profile.oovStats(docs, "doc_id", "text", minDf = 5)
      },
      Some("""WITH d AS (SELECT doc_id,
             |  CASE WHEN doc_id % 7 = 0 THEN text || ' zq' || CAST(doc_id AS VARCHAR)
             |       ELSE text END AS text FROM documents),
             |t AS (SELECT doc_id, unnest(string_split(text, ' ')) tok FROM d),
             |v AS (SELECT tok FROM t GROUP BY tok HAVING count(DISTINCT doc_id) >= 5)
             |SELECT t.doc_id, count(*) AS n_tokens,
             |  count(*) FILTER (v.tok IS NULL) AS n_oov,
             |  CAST(count(*) FILTER (v.tok IS NULL) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS oov_rate
             |FROM t LEFT JOIN v ON t.tok = v.tok
             |GROUP BY t.doc_id""".stripMargin)
    )),

    // Bigram-LM quality scoring (CCNet-style reference-corpus filter):
    // add-one-smoothed bigram MLE fit on the doc_id % 10 == 0 slice,
    // every document scored by its MEAN per-bigram probability. Every
    // probability is one IEEE division of exact longs and the roll-up
    // is a left fold over the SORTED probability list — bit-identical
    // across engines (no ln/log, which IEEE does not require to be
    // correctly rounded).
    "q_lm_score" -> ((
      (s: SparkSession, dir: String) => {
        val docs = Tables.documents(s, dir)
        val model = operators.NgramLM.fit(
          docs.filter(pmod(col("doc_id"), lit(10)) === 0), "doc_id", "text")
        operators.NgramLM.score(docs, "doc_id", "text", model)
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
             |iw AS (SELECT doc_id, ws, unnest(range(len(ws) - 1)) i FROM w WHERE len(ws) >= 2),
             |bg AS (SELECT doc_id, ws[i+1] AS w1, ws[i+2] AS w2 FROM iw),
             |c12 AS (SELECT w1, w2, count(*) c12 FROM bg WHERE doc_id % 10 = 0 GROUP BY 1, 2),
             |c1 AS (SELECT w1, count(*) c1 FROM bg WHERE doc_id % 10 = 0 GROUP BY 1),
             |v AS (SELECT count(DISTINCT tok) v FROM (SELECT unnest(ws) tok FROM w WHERE doc_id % 10 = 0)),
             |p AS (SELECT bg.doc_id,
             |  CAST(COALESCE(c12.c12, 0) + 1 AS DOUBLE) / CAST(COALESCE(c1.c1, 0) + v.v AS DOUBLE) AS p
             |  FROM bg LEFT JOIN c12 USING (w1, w2) LEFT JOIN c1 USING (w1) CROSS JOIN v)
             |SELECT doc_id, count(*) AS n_bigrams,
             |  round(list_sum(list_sort(list(p))) / CAST(count(*) AS DOUBLE), 6) AS avg_prob
             |FROM p GROUP BY doc_id""".stripMargin)
    )),

    // Content-defined chunking dedup: every 7th doc carries the SAME
    // appended paragraph behind a DIFFERENT prefix — the exact case
    // fixed-stride passage dedup misses (boundaries shift) and CDC's
    // self-synchronizing anchors catch: the paragraph's interior
    // chunks hash identically across all carriers, and the cross-doc
    // duplicated-chunk report proves it. Anchors are the winnowing
    // polynomial gram hash ≡ 0 (mod 64) over char 8-grams on the
    // once-materialized codepoint array (the md5-per-position first
    // cut measured 59.3 s at sf0.1 — BASELINE.md), replayed verbatim.
    "q_cdc_dedup" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir).select(col("doc_id"),
          concat(col("text"), when(pmod(col("doc_id"), lit(7L)) === 0,
            lit(" the shared boilerplate disclaimer paragraph that " +
              "repeats verbatim across unrelated documents and must " +
              "chunk identically regardless of prefix"))
            .otherwise(lit(""))).as("text"))
        operators.Dedup.cdcChunks(d, "doc_id", "text")
          .select(col("doc_id"), md5(col("chunk")).as("chunk_md5"),
            length(col("chunk")).cast("long").as("clen"))
          .groupBy("chunk_md5")
          .agg(countDistinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_occ"), min("clen").as("chunk_len"))
          .filter(col("n_docs") > 1)
      },
      Some("""WITH d AS (SELECT doc_id, text ||
             |    CASE WHEN doc_id % 7 = 0 THEN ' the shared boilerplate disclaimer paragraph that repeats verbatim across unrelated documents and must chunk identically regardless of prefix'
             |         ELSE '' END AS text
             |  FROM documents),
             |a AS (SELECT doc_id, text,
             |    CASE WHEN length(text) >= 8 THEN
             |      [i + 8 for i in range(length(text) - 7)
             |       if list_reduce(list_prepend(CAST(0 AS BIGINT),
             |         [CAST(ascii(text[i + j + 1]) AS BIGINT) for j in range(8)]),
             |         (acc, c) -> (acc * 131 + c) % 1000003) % 64 = 0]
             |    ELSE [] END AS anchors
             |  FROM d),
             |b AS (SELECT doc_id, text,
             |    list_concat(list_concat([0], anchors),
             |      [length(text)]) AS bs
             |  FROM a),
             |c AS (SELECT doc_id,
             |    unnest([substr(text, bs[j+1] + 1, bs[j+2] - bs[j+1])
             |      for j in range(len(bs) - 1)]) AS chunk
             |  FROM b),
             |ch AS (SELECT doc_id, md5(chunk) AS chunk_md5,
             |    CAST(length(chunk) AS BIGINT) AS clen
             |  FROM c WHERE chunk <> '')
             |SELECT chunk_md5, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             |  CAST(count(*) AS BIGINT) AS n_occ,
             |  CAST(min(clen) AS BIGINT) AS chunk_len
             |FROM ch GROUP BY 1 HAVING count(DISTINCT doc_id) > 1""".stripMargin)
    )),

    // CCNet-style perplexity bucketing (Wenzek et al. 2020) as ONE
    // composition: fit the LM on the held-in slice, score every doc,
    // tercile-rank WITHIN EACH SOURCE on the range-partitioned
    // groupedPositions (never a per-source window), label
    // head/middle/tail by integer arithmetic (rn·3 vs n_s), keep
    // head+middle — the language-stratified quality gate CCNet runs
    // before anything else sees the crawl. Every stage shares its
    // standalone operator's shapes; ranking is on round-6 scores with
    // doc_id tiebreak, so the full per-doc bucket assignment
    // hash-checks.
    "q_ccnet_buckets" -> ((
      (s: SparkSession, dir: String) => {
        val docs = Tables.documents(s, dir)
        val model = operators.NgramLM.fit(
          docs.filter(pmod(col("doc_id"), lit(10)) === 0), "doc_id", "text")
        val scored = operators.NgramLM.score(docs, "doc_id", "text", model)
          .join(docs.select("doc_id", "source"), "doc_id")
        // ascending sort keys only (range exchange): rank desc via
        // negation, the chi2Features discipline
        val ranked = operators.Sampling.groupedPositions(scored,
          Seq("source"), Seq(col("avg_prob") * -1, col("doc_id")), "rn")
        val sizes = ranked.groupBy("source").agg(count(lit(1)).as("ns"))
        ranked.join(broadcast(sizes), "source")
          .select(col("doc_id"), col("source"), col("n_bigrams"),
            col("avg_prob"), col("rn"),
            when(col("rn") * 3 <= col("ns"), lit("head"))
              .when(col("rn") * 3 <= col("ns") * 2, lit("middle"))
              .otherwise(lit("tail")).as("bucket"),
            (col("rn") * 3 <= col("ns") * 2).as("kept"))
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
             |iw AS (SELECT doc_id, ws, unnest(range(len(ws) - 1)) i
             |  FROM w WHERE len(ws) >= 2),
             |bg AS (SELECT doc_id, ws[i+1] AS w1, ws[i+2] AS w2 FROM iw),
             |c12 AS (SELECT w1, w2, count(*) c12 FROM bg
             |  WHERE doc_id % 10 = 0 GROUP BY 1, 2),
             |c1 AS (SELECT w1, count(*) c1 FROM bg
             |  WHERE doc_id % 10 = 0 GROUP BY 1),
             |v AS (SELECT count(DISTINCT tok) v FROM
             |  (SELECT unnest(ws) tok FROM w WHERE doc_id % 10 = 0)),
             |p AS (SELECT bg.doc_id,
             |    CAST(COALESCE(c12.c12, 0) + 1 AS DOUBLE) /
             |      CAST(COALESCE(c1.c1, 0) + v.v AS DOUBLE) AS p
             |  FROM bg LEFT JOIN c12 USING (w1, w2)
             |  LEFT JOIN c1 USING (w1) CROSS JOIN v),
             |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             |    round(list_sum(list_sort(list(p))) /
             |      CAST(count(*) AS DOUBLE), 6) AS avg_prob
             |  FROM p GROUP BY doc_id),
             |j AS (SELECT sc.*, d.source FROM sc
             |  JOIN documents d USING (doc_id)),
             |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY source
             |      ORDER BY avg_prob DESC, doc_id) AS BIGINT) AS rn,
             |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS ns
             |  FROM j)
             |SELECT doc_id, source, n_bigrams, avg_prob, rn,
             |  CASE WHEN rn * 3 <= ns THEN 'head'
             |       WHEN rn * 3 <= ns * 2 THEN 'middle'
             |       ELSE 'tail' END AS bucket,
             |  rn * 3 <= ns * 2 AS kept
             |FROM r""".stripMargin)
    )),

    // Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995; Chen
    // & Goodman 1998) — the smoothing KenLM defaults to and the CCNet
    // perplexity filter actually runs: discounted bigram mass
    // interpolated with the CONTINUATION probability
    // N1+(.w2)/N1+(..), which demotes frequent-but-narrow words
    // ("francisco"). D = 0.75 is exact in binary; every per-bigram p
    // is a fixed-shape IEEE expression over exact integer counts,
    // unseen contexts fall back to the bare continuation probability
    // and unseen words to the 1/(N1+(..) + V) floor — all mirrored
    // here, and the roll-up is the house sorted left fold.
    "q_kn_lm_score" -> ((
      (s: SparkSession, dir: String) => {
        val docs = Tables.documents(s, dir)
        val model = operators.NgramLM.fitKN(
          docs.filter(pmod(col("doc_id"), lit(10)) === 0), "doc_id", "text")
        operators.NgramLM.scoreKN(docs, "doc_id", "text", model)
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
             |iw AS (SELECT doc_id, ws, unnest(range(len(ws) - 1)) i FROM w WHERE len(ws) >= 2),
             |bg AS (SELECT doc_id, ws[i+1] AS w1, ws[i+2] AS w2 FROM iw),
             |c12 AS (SELECT w1, w2, count(*) c12 FROM bg WHERE doc_id % 10 = 0 GROUP BY 1, 2),
             |cx AS (SELECT w1, sum(c12) c1, count(*) n1f FROM c12 GROUP BY 1),
             |cn AS (SELECT w2, count(*) n1p FROM c12 GROUP BY 1),
             |nt AS (SELECT count(*) nt FROM c12),
             |v AS (SELECT count(DISTINCT tok) v FROM (SELECT unnest(ws) tok FROM w WHERE doc_id % 10 = 0)),
             |p AS (SELECT bg.doc_id,
             |  CASE WHEN cx.c1 IS NOT NULL THEN
             |    greatest(CAST(COALESCE(c12.c12, 0) AS DOUBLE) - 0.75, 0.0) / CAST(cx.c1 AS DOUBLE)
             |    + (0.75 * CAST(cx.n1f AS DOUBLE) / CAST(cx.c1 AS DOUBLE)) *
             |      COALESCE(CAST(cn.n1p AS DOUBLE) / CAST(nt.nt AS DOUBLE), 1.0 / CAST(nt.nt + v.v AS DOUBLE))
             |  ELSE COALESCE(CAST(cn.n1p AS DOUBLE) / CAST(nt.nt AS DOUBLE), 1.0 / CAST(nt.nt + v.v AS DOUBLE))
             |  END AS p
             |  FROM bg LEFT JOIN c12 USING (w1, w2) LEFT JOIN cx USING (w1) LEFT JOIN cn USING (w2)
             |  CROSS JOIN nt CROSS JOIN v)
             |SELECT doc_id, count(*) AS n_bigrams,
             |  round(list_sum(list_sort(list(p))) / CAST(count(*) AS DOUBLE), 6) AS avg_kn_prob
             |FROM p GROUP BY doc_id""".stripMargin)
    )),

    // Min-K% prob membership inference (Shi et al. 2023) over the KN
    // bigram LM: the mean of each doc's lowest 20% bigram
    // probabilities — docs the LM was FIT on (doc_id % 10 = 0) have
    // few low-prob bigrams and score high; the member flag is the
    // scale-free above-corpus-mean rule in pure int64. `ps` is
    // already the sorted collect, so min-k is a slice of the same
    // fold q_kn_lm_score pins.
    "q_min_k_prob" -> ((
      (s: SparkSession, dir: String) => {
        val docs = Tables.documents(s, dir)
        val model = operators.NgramLM.fitKN(
          docs.filter(pmod(col("doc_id"), lit(10)) === 0), "doc_id", "text")
        operators.NgramLM.minKProb(docs, "doc_id", "text", model,
          kPct = 20)
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
             |iw AS (SELECT doc_id, ws, unnest(range(len(ws) - 1)) i FROM w WHERE len(ws) >= 2),
             |bg AS (SELECT doc_id, ws[i+1] AS w1, ws[i+2] AS w2 FROM iw),
             |c12 AS (SELECT w1, w2, count(*) c12 FROM bg WHERE doc_id % 10 = 0 GROUP BY 1, 2),
             |cx AS (SELECT w1, sum(c12) c1, count(*) n1f FROM c12 GROUP BY 1),
             |cn AS (SELECT w2, count(*) n1p FROM c12 GROUP BY 1),
             |nt AS (SELECT count(*) nt FROM c12),
             |v AS (SELECT count(DISTINCT tok) v FROM (SELECT unnest(ws) tok FROM w WHERE doc_id % 10 = 0)),
             |p AS (SELECT bg.doc_id,
             |  CASE WHEN cx.c1 IS NOT NULL THEN
             |    greatest(CAST(COALESCE(c12.c12, 0) AS DOUBLE) - 0.75, 0.0) / CAST(cx.c1 AS DOUBLE)
             |    + (0.75 * CAST(cx.n1f AS DOUBLE) / CAST(cx.c1 AS DOUBLE)) *
             |      COALESCE(CAST(cn.n1p AS DOUBLE) / CAST(nt.nt AS DOUBLE), 1.0 / CAST(nt.nt + v.v AS DOUBLE))
             |  ELSE COALESCE(CAST(cn.n1p AS DOUBLE) / CAST(nt.nt AS DOUBLE), 1.0 / CAST(nt.nt + v.v AS DOUBLE))
             |  END AS p
             |  FROM bg LEFT JOIN c12 USING (w1, w2) LEFT JOIN cx USING (w1) LEFT JOIN cn USING (w2)
             |  CROSS JOIN nt CROSS JOIN v),
             |g AS (SELECT doc_id, count(*) AS n_bigrams,
             |    list_sort(list(p)) AS l FROM p GROUP BY 1),
             |m AS (SELECT doc_id, n_bigrams,
             |    (n_bigrams * 20 + 99) // 100 AS k,
             |    list_sum(l[1 : CAST((n_bigrams * 20 + 99) // 100 AS INTEGER)]) AS s
             |  FROM g),
             |m2 AS (SELECT doc_id, n_bigrams, k,
             |    s / CAST(k AS DOUBLE) AS mk,
             |    CAST(round((s / CAST(k AS DOUBLE)) * 1000000, 0) AS BIGINT) AS mk_int
             |  FROM m),
             |tot AS (SELECT CAST(sum(mk_int) AS BIGINT) AS s_total,
             |    count(*) AS n_total FROM m2)
             |SELECT doc_id, n_bigrams, CAST(k AS BIGINT) AS k,
             |  round(mk, 6) AS min_k_avg,
             |  mk_int * n_total > s_total AS member
             |FROM m2 CROSS JOIN tot""".stripMargin)
    )),

    // LLM watermark detection (Kirchenbauer et al. 2023, the red/green
    // list scheme): a watermarked generator biases each token toward
    // the "green" quarter of the vocabulary keyed by its predecessor;
    // the detector needs only the hash rule — per doc, count adjacent
    // pairs whose wm_-salted hash lands green (h % 4 = 0, gamma=1/4)
    // and z-score the excess. Natural text hovers near z=0; the flag
    // at z > 2.5 marks the ~0.6% upper tail (both engines flag the
    // SAME docs — integer counts, exact 0.25*n, one correctly-rounded
    // sqrt, one division).
    "q_watermark_detect" -> ((
      (s: SparkSession, dir: String) => {
        val pairs = Tables.documents(s, dir)
          .select(col("doc_id"), split(col("text"), " ").as("ws"))
          .filter(size(col("ws")) >= 2)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(1, size(ws) - 1), " +
              "i -> concat_ws(char(1), element_at(ws, CAST(i AS INT)), " +
              "element_at(ws, CAST(i AS INT) + 1)))")).as("pair"))
        val h = operators.Sampling.hash32(col("pair"), "wm_")
        val agg = pairs
          .select(col("doc_id"), (pmod(h, lit(4L)) === 0).as("green"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_pairs"),
            sum(when(col("green"), 1L).otherwise(0L)).as("n_green"))
        val z = (col("n_green").cast("double") -
          lit(0.25) * col("n_pairs").cast("double")) /
          sqrt(col("n_pairs").cast("double") * 0.25 * 0.75)
        agg.select(col("doc_id"), col("n_pairs"), col("n_green"),
          round(z, 6).as("z"), (z > 2.5).as("watermarked"))
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
             |pr AS (SELECT doc_id,
             |    unnest([ws[i] || chr(1) || ws[i+1] for i in range(1, len(ws))]) AS pair
             |  FROM w WHERE len(ws) >= 2),
             |g AS (SELECT doc_id, count(*) AS n_pairs,
             |    CAST(sum(CASE WHEN CAST('0x' || substr(md5('wm_' || pair), 1, 8) AS BIGINT) % 4 = 0
             |        THEN 1 ELSE 0 END) AS BIGINT) AS n_green
             |  FROM pr GROUP BY 1)
             |SELECT doc_id, n_pairs, n_green,
             |  round((CAST(n_green AS DOUBLE) - 0.25 * CAST(n_pairs AS DOUBLE))
             |    / sqrt(CAST(n_pairs AS DOUBLE) * 0.25 * 0.75), 6) AS z,
             |  (CAST(n_green AS DOUBLE) - 0.25 * CAST(n_pairs AS DOUBLE))
             |    / sqrt(CAST(n_pairs AS DOUBLE) * 0.25 * 0.75) > 2.5 AS watermarked
             |FROM g""".stripMargin)
    )),

    // Distinct-n diversity (Li et al. 2016): per prompt bucket, the
    // distinct-to-total unigram and bigram ratios over the pooled
    // candidate texts — the standard mode-collapse check on sampled
    // generations (all-identical candidates crater distinct-n while
    // per-candidate quality stays high). Exact integer counts, one
    // division each.
    "q_distinct_n" -> ((
      (s: SparkSession, dir: String) => {
        val toks = Tables.documents(s, dir)
          .select(pmod(col("doc_id"), lit(100L)).as("prompt_id"),
            split(col("text"), " ").as("ws"))
        val uni = toks.select(col("prompt_id"), explode(col("ws")).as("g"))
          .groupBy("prompt_id")
          .agg(count(lit(1)).as("n_uni"),
            countDistinct(col("g")).as("d_uni"))
        val bi = toks.filter(size(col("ws")) >= 2)
          .select(col("prompt_id"), explode(expr(
            "transform(sequence(1, size(ws) - 1), " +
              "i -> concat_ws(char(1), element_at(ws, CAST(i AS INT)), " +
              "element_at(ws, CAST(i AS INT) + 1)))")).as("g"))
          .groupBy("prompt_id")
          .agg(count(lit(1)).as("n_bi"), countDistinct(col("g")).as("d_bi"))
        uni.join(bi, Seq("prompt_id"), "left")
          .select(col("prompt_id"), col("n_uni"), col("d_uni"),
            coalesce(col("n_bi"), lit(0L)).as("n_bi"),
            coalesce(col("d_bi"), lit(0L)).as("d_bi"),
            round(col("d_uni").cast("double") /
              col("n_uni").cast("double"), 6).as("distinct1"),
            when(coalesce(col("n_bi"), lit(0L)) > 0,
              round(col("d_bi").cast("double") /
                col("n_bi").cast("double"), 6)).otherwise(lit(0.0))
              .as("distinct2"))
      },
      Some("""WITH t AS (SELECT doc_id % 100 AS prompt_id, string_split(text, ' ') ws FROM documents),
             |u AS (SELECT prompt_id, count(*) AS n_uni,
             |    count(DISTINCT g) AS d_uni
             |  FROM (SELECT prompt_id, unnest(ws) g FROM t) GROUP BY 1),
             |b AS (SELECT prompt_id, count(*) AS n_bi, count(DISTINCT g) AS d_bi
             |  FROM (SELECT prompt_id,
             |      unnest([ws[i] || chr(1) || ws[i+1] for i in range(1, len(ws))]) g
             |    FROM t WHERE len(ws) >= 2) GROUP BY 1)
             |SELECT u.prompt_id, u.n_uni, u.d_uni,
             |  COALESCE(b.n_bi, 0) AS n_bi, COALESCE(b.d_bi, 0) AS d_bi,
             |  round(CAST(u.d_uni AS DOUBLE) / CAST(u.n_uni AS DOUBLE), 6) AS distinct1,
             |  CASE WHEN COALESCE(b.n_bi, 0) > 0 THEN
             |    round(CAST(b.d_bi AS DOUBLE) / CAST(b.n_bi AS DOUBLE), 6)
             |  ELSE 0.0 END AS distinct2
             |FROM u LEFT JOIN b USING (prompt_id)""".stripMargin)
    )),

    // Multinomial naive Bayes language routing: priors + add-one token
    // likelihoods fit on the doc_id % 10 == 0 slice, argmax posterior
    // per document. The corpus shares ONE vocabulary across langs, so
    // the fixture plants two per-lang marker tokens per doc (the
    // q_code_switch discipline) — the classifier must actually learn
    // them. Every ln() is rounded to 9 decimals AT BIRTH (ln is not
    // IEEE-correctly-rounded; round-9 absorbs the cross-engine ulp),
    // sums are the house sorted fold, ranking uses the round-6 score
    // with the class tie-break.
    "q_naive_bayes" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
          concat(col("text"), lit(" m"), col("lang"), lit(" m"), col("lang"))
            .as("text"))
        operators.Classifier.naiveBayes(
          d.filter(pmod(col("doc_id"), lit(10)) === 0).select(
            col("lang").as("label"), col("text")),
          d, "doc_id", "text", "label")
      },
      Some("""WITH d AS (SELECT doc_id, lang, text || ' m' || lang || ' m' || lang AS text FROM documents),
             |tr AS (SELECT lang AS cls, text FROM d WHERE doc_id % 10 = 0),
             |trtok AS (SELECT cls, unnest(string_split(text, ' ')) t FROM tr),
             |nd AS (SELECT count(*) n FROM tr),
             |v AS (SELECT count(DISTINCT t) v FROM trtok),
             |cl AS (SELECT cls, count(*) n_docs FROM tr GROUP BY 1),
             |tok AS (SELECT cls, t, count(*) ctc FROM trtok GROUP BY 1, 2),
             |ctab AS (SELECT cl.cls,
             |    round(ln(CAST(cl.n_docs AS DOUBLE) / CAST(nd.n AS DOUBLE)), 9) AS prior_ll,
             |    tc.tc + v.v AS denom
             |  FROM cl JOIN (SELECT cls, sum(ctc) tc FROM tok GROUP BY 1) tc USING (cls)
             |  CROSS JOIN nd CROSS JOIN v),
             |dt AS (SELECT doc_id, unnest(string_split(text, ' ')) t FROM d),
             |sc AS (SELECT dt.doc_id, ctab.cls, ctab.prior_ll,
             |    round(ln(CAST(COALESCE(tok.ctc, 0) + 1 AS DOUBLE) / CAST(ctab.denom AS DOUBLE)), 9) AS ll
             |  FROM dt CROSS JOIN ctab LEFT JOIN tok ON tok.cls = ctab.cls AND tok.t = dt.t),
             |agg AS (SELECT doc_id, cls, prior_ll,
             |    round(prior_ll + list_sum(list_sort(list(ll))), 6) AS score
             |  FROM sc GROUP BY 1, 2, 3)
             |SELECT doc_id, cls AS pred, score FROM (
             |  SELECT doc_id, cls, score, row_number() OVER (
             |    PARTITION BY doc_id ORDER BY score DESC, cls ASC) rn FROM agg)
             |WHERE rn = 1""".stripMargin)
    )),

    // BLEU-4 + ROUGE-1/2 generation eval (Papineni 2002; Lin 2004):
    // candidate = first 4/5 of each doc's words + two novel tokens,
    // reference = the doc — exercising clipping, sub-1 precisions AND
    // the brevity penalty. Precisions/recalls are exact-rational
    // round-6; BLEU composes exp/ln (not IEEE-correctly-rounded) and
    // is rounded to FOUR decimals — the 5e-5 boundary spacing makes a
    // cross-engine ulp collision ~1e-11 per row.
    "q_bleu_rouge" -> ((
      (s: SparkSession, dir: String) => {
        val prs = Tables.documents(s, dir)
          .select(col("doc_id"), col("text"), split(col("text"), " ").as("ws"))
          .select(col("doc_id"),
            concat(concat_ws(" ",
              expr("slice(ws, 1, greatest((size(ws)*4) div 5, 1))")),
              lit(" zqx zqy")).as("cand"),
            col("text").as("ref"))
        operators.Eval.bleuRouge(prs, "doc_id", "cand", "ref")
      },
      Some("""WITH d AS (SELECT doc_id, text, string_split(text, ' ') ws FROM documents),
             |pr AS (SELECT doc_id,
             |  array_to_string(ws[1:greatest((len(ws)*4)//5, 1)], ' ') || ' zqx zqy' AS cand,
             |  text AS ref FROM d),
             |cw AS (SELECT doc_id, list_filter(string_split(coalesce(cand, ''), ' '), t -> t <> '') ws FROM pr),
             |rw AS (SELECT doc_id, list_filter(string_split(coalesce(ref, ''), ' '), t -> t <> '') ws FROM pr),
             |ns AS (SELECT unnest([1, 2, 3, 4]) AS n),
             |cg AS (SELECT doc_id, n, g, count(*) cc FROM (
             |  SELECT cw.doc_id, ns.n,
             |    unnest([array_to_string(ws[i:i+ns.n-1], ' ') for i in range(1, len(ws)-ns.n+2)]) AS g
             |  FROM cw CROSS JOIN ns WHERE len(ws) >= ns.n) GROUP BY 1, 2, 3),
             |rg AS (SELECT doc_id, n, g, count(*) rc FROM (
             |  SELECT rw.doc_id, ns.n,
             |    unnest([array_to_string(ws[i:i+ns.n-1], ' ') for i in range(1, len(ws)-ns.n+2)]) AS g
             |  FROM rw CROSS JOIN ns WHERE len(ws) >= ns.n) GROUP BY 1, 2, 3),
             |j AS (SELECT COALESCE(cg.doc_id, rg.doc_id) doc_id, COALESCE(cg.n, rg.n) n,
             |    sum(least(COALESCE(cc, 0), COALESCE(rc, 0))) clip,
             |    sum(COALESCE(cc, 0)) tc, sum(COALESCE(rc, 0)) tr
             |  FROM cg FULL OUTER JOIN rg
             |    ON cg.doc_id = rg.doc_id AND cg.n = rg.n AND cg.g = rg.g
             |  GROUP BY 1, 2),
             |w AS (SELECT doc_id,
             |    max(CASE WHEN n = 1 THEN tc END) lc, max(CASE WHEN n = 1 THEN tr END) lr,
             |    max(CASE WHEN n = 1 THEN clip END) c1, max(CASE WHEN n = 1 THEN tc END) tc1, max(CASE WHEN n = 1 THEN tr END) tr1,
             |    max(CASE WHEN n = 2 THEN clip END) c2, max(CASE WHEN n = 2 THEN tc END) tc2, max(CASE WHEN n = 2 THEN tr END) tr2,
             |    max(CASE WHEN n = 3 THEN clip END) c3, max(CASE WHEN n = 3 THEN tc END) tc3, max(CASE WHEN n = 3 THEN tr END) tr3,
             |    max(CASE WHEN n = 4 THEN clip END) c4, max(CASE WHEN n = 4 THEN tc END) tc4, max(CASE WHEN n = 4 THEN tr END) tr4
             |  FROM j GROUP BY 1),
             |p AS (SELECT doc_id, lc, lr,
             |    CASE WHEN COALESCE(tc1, 0) > 0 THEN CAST(COALESCE(c1, 0) AS DOUBLE) / CAST(tc1 AS DOUBLE) ELSE 0.0 END pp1,
             |    CASE WHEN COALESCE(tc2, 0) > 0 THEN CAST(COALESCE(c2, 0) AS DOUBLE) / CAST(tc2 AS DOUBLE) ELSE 0.0 END pp2,
             |    CASE WHEN COALESCE(tc3, 0) > 0 THEN CAST(COALESCE(c3, 0) AS DOUBLE) / CAST(tc3 AS DOUBLE) ELSE 0.0 END pp3,
             |    CASE WHEN COALESCE(tc4, 0) > 0 THEN CAST(COALESCE(c4, 0) AS DOUBLE) / CAST(tc4 AS DOUBLE) ELSE 0.0 END pp4,
             |    CASE WHEN COALESCE(tr1, 0) > 0 THEN CAST(COALESCE(c1, 0) AS DOUBLE) / CAST(tr1 AS DOUBLE) ELSE 0.0 END rr1,
             |    CASE WHEN COALESCE(tr2, 0) > 0 THEN CAST(COALESCE(c2, 0) AS DOUBLE) / CAST(tr2 AS DOUBLE) ELSE 0.0 END rr2
             |  FROM w)
             |SELECT pr.doc_id, CAST(COALESCE(lc, 0) AS BIGINT) AS len_cand,
             |  CAST(COALESCE(lr, 0) AS BIGINT) AS len_ref,
             |  round(COALESCE(pp1, 0.0), 6) AS p1, round(COALESCE(pp2, 0.0), 6) AS p2,
             |  round(COALESCE(pp3, 0.0), 6) AS p3, round(COALESCE(pp4, 0.0), 6) AS p4,
             |  round(COALESCE(rr1, 0.0), 6) AS rouge1, round(COALESCE(rr2, 0.0), 6) AS rouge2,
             |  round(CASE WHEN pp1 > 0 AND pp2 > 0 AND pp3 > 0 AND pp4 > 0 THEN
             |    (CASE WHEN lc >= lr THEN 1.0 ELSE exp(1.0 - CAST(lr AS DOUBLE) / CAST(lc AS DOUBLE)) END)
             |    * exp((ln(pp1) + ln(pp2) + ln(pp3) + ln(pp4)) * 0.25)
             |  ELSE 0.0 END, 4) AS bleu
             |FROM pr LEFT JOIN p USING (doc_id)""".stripMargin)
    )),

    // chrF2 character n-gram F-score (Popović, WMT 2015) — the
    // tokenization-free eval twin of q_bleu_rouge, over the SAME
    // truncated-candidate pairs. All arithmetic is +,·,/ of exact
    // integer counts in the same left-to-right order on both engines
    // (no transcendentals anywhere — unlike BLEU this needs only ONE
    // rounding tier, round-6 at presentation).
    "q_chrf" -> ((
      (s: SparkSession, dir: String) => {
        val prs = Tables.documents(s, dir)
          .select(col("doc_id"), col("text"), split(col("text"), " ").as("ws"))
          .select(col("doc_id"),
            concat(concat_ws(" ",
              expr("slice(ws, 1, greatest((size(ws)*4) div 5, 1))")),
              lit(" zqx zqy")).as("cand"),
            col("text").as("ref"))
        operators.Eval.chrF(prs, "doc_id", "cand", "ref")
      },
      Some("""WITH d AS (SELECT doc_id, text, string_split(text, ' ') ws FROM documents),
             |pr AS (SELECT doc_id,
             |  array_to_string(ws[1:greatest((len(ws)*4)//5, 1)], ' ') || ' zqx zqy' AS cand,
             |  text AS ref FROM d),
             |cs AS (SELECT doc_id, regexp_replace(coalesce(cand, ''), '\s+', '', 'g') s FROM pr),
             |rs AS (SELECT doc_id, regexp_replace(coalesce(ref, ''), '\s+', '', 'g') s FROM pr),
             |ns AS (SELECT unnest([1, 2, 3, 4, 5, 6]) AS n),
             |cg AS (SELECT doc_id, n, g, count(*) cc FROM (
             |  SELECT cs.doc_id, ns.n,
             |    unnest([substr(s, i, ns.n) for i in range(1, len(s)-ns.n+2)]) AS g
             |  FROM cs CROSS JOIN ns WHERE len(s) >= ns.n) GROUP BY 1, 2, 3),
             |rg AS (SELECT doc_id, n, g, count(*) rc FROM (
             |  SELECT rs.doc_id, ns.n,
             |    unnest([substr(s, i, ns.n) for i in range(1, len(s)-ns.n+2)]) AS g
             |  FROM rs CROSS JOIN ns WHERE len(s) >= ns.n) GROUP BY 1, 2, 3),
             |j AS (SELECT COALESCE(cg.doc_id, rg.doc_id) doc_id, COALESCE(cg.n, rg.n) n,
             |    sum(least(COALESCE(cc, 0), COALESCE(rc, 0))) clip,
             |    sum(COALESCE(cc, 0)) tc, sum(COALESCE(rc, 0)) tr
             |  FROM cg FULL OUTER JOIN rg
             |    ON cg.doc_id = rg.doc_id AND cg.n = rg.n AND cg.g = rg.g
             |  GROUP BY 1, 2),
             |w AS (SELECT doc_id,
             |    max(CASE WHEN n = 1 THEN tc END) lc, max(CASE WHEN n = 1 THEN tr END) lr,
             |    max(CASE WHEN n = 1 THEN clip END) c1, max(CASE WHEN n = 1 THEN tc END) tc1, max(CASE WHEN n = 1 THEN tr END) tr1,
             |    max(CASE WHEN n = 2 THEN clip END) c2, max(CASE WHEN n = 2 THEN tc END) tc2, max(CASE WHEN n = 2 THEN tr END) tr2,
             |    max(CASE WHEN n = 3 THEN clip END) c3, max(CASE WHEN n = 3 THEN tc END) tc3, max(CASE WHEN n = 3 THEN tr END) tr3,
             |    max(CASE WHEN n = 4 THEN clip END) c4, max(CASE WHEN n = 4 THEN tc END) tc4, max(CASE WHEN n = 4 THEN tr END) tr4,
             |    max(CASE WHEN n = 5 THEN clip END) c5, max(CASE WHEN n = 5 THEN tc END) tc5, max(CASE WHEN n = 5 THEN tr END) tr5,
             |    max(CASE WHEN n = 6 THEN clip END) c6, max(CASE WHEN n = 6 THEN tc END) tc6, max(CASE WHEN n = 6 THEN tr END) tr6
             |  FROM j GROUP BY 1),
             |p AS (SELECT doc_id, lc, lr,
             |    (CASE WHEN COALESCE(tc1, 0) > 0 THEN CAST(COALESCE(c1, 0) AS DOUBLE) / CAST(tc1 AS DOUBLE) ELSE 0.0 END
             |     + CASE WHEN COALESCE(tc2, 0) > 0 THEN CAST(COALESCE(c2, 0) AS DOUBLE) / CAST(tc2 AS DOUBLE) ELSE 0.0 END
             |     + CASE WHEN COALESCE(tc3, 0) > 0 THEN CAST(COALESCE(c3, 0) AS DOUBLE) / CAST(tc3 AS DOUBLE) ELSE 0.0 END
             |     + CASE WHEN COALESCE(tc4, 0) > 0 THEN CAST(COALESCE(c4, 0) AS DOUBLE) / CAST(tc4 AS DOUBLE) ELSE 0.0 END
             |     + CASE WHEN COALESCE(tc5, 0) > 0 THEN CAST(COALESCE(c5, 0) AS DOUBLE) / CAST(tc5 AS DOUBLE) ELSE 0.0 END
             |     + CASE WHEN COALESCE(tc6, 0) > 0 THEN CAST(COALESCE(c6, 0) AS DOUBLE) / CAST(tc6 AS DOUBLE) ELSE 0.0 END) / 6.0 AS chrp0,
             |    (CASE WHEN COALESCE(tr1, 0) > 0 THEN CAST(COALESCE(c1, 0) AS DOUBLE) / CAST(tr1 AS DOUBLE) ELSE 0.0 END
             |     + CASE WHEN COALESCE(tr2, 0) > 0 THEN CAST(COALESCE(c2, 0) AS DOUBLE) / CAST(tr2 AS DOUBLE) ELSE 0.0 END
             |     + CASE WHEN COALESCE(tr3, 0) > 0 THEN CAST(COALESCE(c3, 0) AS DOUBLE) / CAST(tr3 AS DOUBLE) ELSE 0.0 END
             |     + CASE WHEN COALESCE(tr4, 0) > 0 THEN CAST(COALESCE(c4, 0) AS DOUBLE) / CAST(tr4 AS DOUBLE) ELSE 0.0 END
             |     + CASE WHEN COALESCE(tr5, 0) > 0 THEN CAST(COALESCE(c5, 0) AS DOUBLE) / CAST(tr5 AS DOUBLE) ELSE 0.0 END
             |     + CASE WHEN COALESCE(tr6, 0) > 0 THEN CAST(COALESCE(c6, 0) AS DOUBLE) / CAST(tr6 AS DOUBLE) ELSE 0.0 END) / 6.0 AS chrr0
             |  FROM w)
             |SELECT pr.doc_id, CAST(COALESCE(lc, 0) AS BIGINT) AS len_cand,
             |  CAST(COALESCE(lr, 0) AS BIGINT) AS len_ref,
             |  round(COALESCE(chrp0, 0.0), 6) AS chrp,
             |  round(COALESCE(chrr0, 0.0), 6) AS chrr,
             |  round(CASE WHEN COALESCE(4.0 * chrp0 + chrr0, 0.0) > 0.0 THEN
             |    5.0 * chrp0 * chrr0 / (4.0 * chrp0 + chrr0) ELSE 0.0 END, 6) AS chrf
             |FROM pr LEFT JOIN p USING (doc_id)""".stripMargin)
    )),

    // Hashed bag-of-words features (the DSIR/fastText hashing trick):
    // dense 16-bucket md5-hashed token counts per document, computed in
    // ONE codegen'd map-side pass — the featurizer for cheap linear
    // classifiers / importance weighting. The oracle rebuilds the dense
    // list from exploded bucket counts.
    "q_hashed_features" -> ((
      (s: SparkSession, dir: String) =>
        Tables.documents(s, dir).select(col("doc_id"),
          posexplode(TextAnalysis.hashedNgramFeatures(col("text"), dim = 16)))
          .select(col("doc_id"), col("pos").as("bucket"),
            col("col").as("cnt")),
      Some("""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) tok FROM documents),
             |b AS (SELECT doc_id,
             |  CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 16 AS bk FROM t),
             |c AS (SELECT doc_id, bk, count(*) c FROM b GROUP BY 1, 2),
             |g AS (SELECT doc_id, unnest(range(16)) i FROM (SELECT DISTINCT doc_id FROM t))
             |SELECT g.doc_id, CAST(g.i AS INTEGER) AS bucket,
             |  COALESCE(c.c, CAST(0 AS BIGINT)) AS cnt
             |FROM g LEFT JOIN c ON c.doc_id = g.doc_id AND c.bk = g.i""".stripMargin)
    )),

    // Frozen-weight linear classifier over the hashed features — the
    // scoring half of a fastText-style quality model, entirely map-side
    // (featurize + 16-term dot in one projection). The weights are exact
    // tenths, so the dot product Σ(10·wᵢ)·cᵢ is an exact int64 on both
    // engines; ONE final IEEE division by 10 yields a bit-identical
    // double — no intermediate double sum, no decimal-rounding boundary
    // (the round-4 hash mismatch was exactly that trap).
    "q_classifier_score" -> ((
      (s: SparkSession, dir: String) =>
        Tables.documents(s, dir).select(col("doc_id"),
          TextAnalysis.linearScoreFixedPoint(
            TextAnalysis.hashedNgramFeatures(col("text"), dim = 16),
            ClassifierWeights).as("score")),
      Some {
        val terms = ClassifierWeights.zipWithIndex
          .map { case (w, i) =>
            s"${math.round(w * 10)} * CAST(features[${i + 1}] AS BIGINT)" }
          .mkString(" + ")
        s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) tok FROM documents),
           |b AS (SELECT doc_id,
           |  CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 16 AS bk FROM t),
           |c AS (SELECT doc_id, bk, count(*) c FROM b GROUP BY 1, 2),
           |g AS (SELECT doc_id, unnest(range(16)) i FROM (SELECT DISTINCT doc_id FROM t)),
           |f AS (SELECT g.doc_id, list(COALESCE(c.c, 0) ORDER BY g.i) AS features
           |      FROM g LEFT JOIN c ON c.doc_id = g.doc_id AND c.bk = g.i
           |      GROUP BY g.doc_id)
           |SELECT doc_id, CAST($terms AS DOUBLE) / 10 AS score FROM f""".stripMargin
      }
    )),

    // On-cluster perceptron TRAINING (the training half of the
    // classifier story; scoring is q_classifier_score): batch
    // perceptron over the 16-bucket hashed features with labels from a
    // deterministic token-count rule, kept entirely in int64 — the
    // weight TRAJECTORY (3 rounds × 16 weights) hash-matches an
    // unrolled-CTE SQL replay, the same promise fixed-point PageRank
    // makes. Each round is one map+aggregate corpus pass; weights
    // re-enter the next round as plan literals.
    "q_perceptron_train" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val d = Tables.documents(s, dir)
        val feats = TextAnalysis.hashedNgramFeatures(col("text"), dim = 16)
        val y = when(size(split(col("text"), " ")) >= 150, 1L).otherwise(-1L)
        val hist = operators.Classifier.trainPerceptron(
          d.select(feats.as("f"), y.as("y")), col("f"), col("y"),
          dim = 16, rounds = 3)
        hist.flatMap { case (r, ws) =>
          ws.zipWithIndex.map { case (wv, j) => (r, j, wv) } }
          .toDF("round", "bucket", "w")
      },
      Some {
        // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
        // each round references the previous one many times — without
        // materialization the replay cost grows EXPONENTIALLY in rounds
        def wRound(k: Int) = {
          val sums = (0 until 16).map(j =>
            s"CAST(COALESCE(sum(y * features[${j + 1}]), 0) AS BIGINT) AS g${j + 1}")
            .mkString(",\n             |   ")
          val terms = (0 until 16).map(j => s"w[${j + 1}] + g${j + 1}")
            .mkString("[", ", ", "]")
          s"""m$k AS MATERIALIZED (SELECT fl.doc_id, fl.y, fl.features FROM fl, w${k - 1}
             |  WHERE y * list_sum([w[i + 1] * features[i + 1] for i in range(16)]) <= 0),
             |gr$k AS MATERIALIZED (SELECT
             |   $sums FROM m$k),
             |w$k AS MATERIALIZED (SELECT $terms AS w FROM w${k - 1}, gr$k)""".stripMargin
        }
        val zeros = Seq.fill(16)("CAST(0 AS BIGINT)").mkString("[", ", ", "]")
        s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) tok FROM documents),
           |b AS (SELECT doc_id,
           |  CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 16 AS bk FROM t),
           |c AS (SELECT doc_id, bk, count(*) c FROM b GROUP BY 1, 2),
           |g AS (SELECT doc_id, unnest(range(16)) i FROM (SELECT DISTINCT doc_id FROM t)),
           |f AS (SELECT g.doc_id, list(COALESCE(c.c, 0) ORDER BY g.i) AS features
           |      FROM g LEFT JOIN c ON c.doc_id = g.doc_id AND c.bk = g.i
           |      GROUP BY g.doc_id),
           |lb AS (SELECT doc_id,
           |  CAST(CASE WHEN len(string_split(text, ' ')) >= 150 THEN 1 ELSE -1 END AS BIGINT) AS y
           |  FROM documents),
           |fl AS MATERIALIZED (SELECT f.doc_id, f.features, lb.y FROM f JOIN lb USING (doc_id)),
           |w0 AS (SELECT $zeros AS w),
           |${wRound(1)},
           |${wRound(2)},
           |${wRound(3)},
           |idx AS (SELECT CAST(unnest(range(16)) AS INTEGER) AS bucket)
           |SELECT CAST(1 AS INTEGER) AS round, bucket, w[bucket + 1] AS w FROM w1, idx
           |UNION ALL SELECT CAST(2 AS INTEGER), bucket, w[bucket + 1] FROM w2, idx
           |UNION ALL SELECT CAST(3 AS INTEGER), bucket, w[bucket + 1] FROM w3, idx""".stripMargin
      }
    )),

    // Fixed-point PageRank over the supplier→customer graph (edges =
    // distinct (l_suppkey, o_custkey) pairs): the crawl-pipeline
    // centrality signal, made hash-comparable by integer fixed-point
    // arithmetic — floor division everywhere, so five iterations replay
    // exactly in SQL. Floating-point PageRank could never hash-match
    // (contribution order does not commute in doubles).
    "q_pagerank" -> ((
      (s: SparkSession, dir: String) => {
        val e = Tables.lineitem(s, dir)
          .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
          .select(col("l_suppkey").as("src"), col("o_custkey").as("dst"))
        operators.Graph.pageRank(e, iterations = 5)
      },
      Some {
        val s0 = 1000000000000L
        val steps = (1 to 5).map { i =>
          s"""r$i AS (SELECT nodes.id,
             |  (SELECT (15 * $s0) // (100 * n) FROM n)
             |  + CAST((85 * CAST(COALESCE(s.s, 0) AS BIGINT)) // 100 AS BIGINT) AS r
             | FROM nodes LEFT JOIN (
             |   SELECT e.dst AS id, CAST(sum(r${i - 1}.r // deg.deg) AS BIGINT) AS s
             |   FROM e JOIN r${i - 1} ON r${i - 1}.id = e.src
             |   JOIN deg ON deg.src = e.src GROUP BY 1) s ON s.id = nodes.id)""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS (SELECT DISTINCT l_suppkey AS src, o_custkey AS dst
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
           |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
           |n AS (SELECT count(*) AS n FROM nodes),
           |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
           |r0 AS (SELECT id, (SELECT $s0 // n FROM n) AS r FROM nodes),
           |$steps
           |SELECT id, r AS rank_fp FROM r5""".stripMargin
      }
    )),

    // Fixed-point HITS over the same supplier→customer graph as
    // q_pagerank: hubs and authorities by mutual reinforcement with
    // L∞ (max) renormalization after each half-step — floor division
    // everywhere, so four full iterations (eight half-steps, eight
    // 1-row max scalars) replay exactly through materialized CTEs.
    "q_hits" -> ((
      (s: SparkSession, dir: String) => {
        val e = Tables.lineitem(s, dir)
          .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
          .select(col("l_suppkey").as("src"), col("o_custkey").as("dst"))
        operators.Graph.hits(e, iterations = 4)
      },
      Some {
        val sc = 1000000L
        val rounds = (1 to 4).map { i =>
          s"""ar$i AS MATERIALIZED (SELECT nodes.id,
             |    CAST(COALESCE(s.a, 0) AS BIGINT) AS a
             |  FROM nodes LEFT JOIN (
             |    SELECT e.dst AS id, CAST(sum(p.h) AS BIGINT) AS a
             |    FROM e JOIN h${i - 1} p ON p.id = e.src GROUP BY 1) s
             |  ON s.id = nodes.id),
             |a$i AS MATERIALIZED (SELECT id,
             |    CASE WHEN (SELECT max(a) FROM ar$i) > 0
             |      THEN (a * $sc) // (SELECT max(a) FROM ar$i)
             |      ELSE CAST(0 AS BIGINT) END AS a FROM ar$i),
             |hr$i AS MATERIALIZED (SELECT nodes.id,
             |    CAST(COALESCE(s.h, 0) AS BIGINT) AS h
             |  FROM nodes LEFT JOIN (
             |    SELECT e.src AS id, CAST(sum(p.a) AS BIGINT) AS h
             |    FROM e JOIN a$i p ON p.id = e.dst GROUP BY 1) s
             |  ON s.id = nodes.id),
             |h$i AS MATERIALIZED (SELECT id,
             |    CASE WHEN (SELECT max(h) FROM hr$i) > 0
             |      THEN (h * $sc) // (SELECT max(h) FROM hr$i)
             |      ELSE CAST(0 AS BIGINT) END AS h FROM hr$i)""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS (SELECT DISTINCT l_suppkey AS src, o_custkey AS dst
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
           |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
           |h0 AS (SELECT id, CAST($sc AS BIGINT) AS h FROM nodes),
           |$rounds
           |SELECT h.id, h.h AS hub_fp, a.a AS auth_fp
           |FROM h4 h JOIN a4 a USING (id)""".stripMargin
      }
    )),

    // Bounded-radius harmonic centrality: three exact BFS layers over
    // a sparse 200-node slice of the customer/order key space —
    // per-layer node counts are exact int64 set sizes (distinct +
    // anti-join ≡ EXCEPT), and the score is the FIXED three-term
    // expression n1·1.0 + n2·0.5 + n3·0.333333333 with the 1/r
    // constants decimal-rounded once and embedded as identical
    // literals in both engines.
    "q_harmonic_centrality" -> ((
      (s: SparkSession, dir: String) => {
        val e = Tables.orders(s, dir)
          .filter(pmod(col("o_orderkey"), lit(53L)) < 2)
          .select(pmod(col("o_custkey"), lit(200L)).as("src"),
            pmod(col("o_orderkey"), lit(200L)).as("dst"))
        operators.Graph.harmonicCentrality(e, radius = 3)
      },
      Some("""WITH raw AS (SELECT o_custkey % 200 AS s, o_orderkey % 200 AS t
             |  FROM orders WHERE o_orderkey % 53 < 2),
             |e0 AS (SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
             |  FROM raw WHERE s <> t),
             |und AS (SELECT a AS src, b AS dst FROM e0
             |  UNION ALL SELECT b, a FROM e0),
             |nodes AS (SELECT DISTINCT src AS id FROM und),
             |v0 AS (SELECT id AS v, id AS u FROM nodes),
             |f1 AS MATERIALIZED (
             |  SELECT DISTINCT t.v, und.dst AS u FROM v0 t
             |    JOIN und ON und.src = t.u
             |  EXCEPT SELECT v, u FROM v0),
             |vis1 AS MATERIALIZED (SELECT v, u FROM v0
             |  UNION ALL SELECT v, u FROM f1),
             |f2 AS MATERIALIZED (
             |  SELECT DISTINCT t.v, und.dst AS u FROM f1 t
             |    JOIN und ON und.src = t.u
             |  EXCEPT SELECT v, u FROM vis1),
             |vis2 AS MATERIALIZED (SELECT v, u FROM vis1
             |  UNION ALL SELECT v, u FROM f2),
             |f3 AS MATERIALIZED (
             |  SELECT DISTINCT t.v, und.dst AS u FROM f2 t
             |    JOIN und ON und.src = t.u
             |  EXCEPT SELECT v, u FROM vis2),
             |n AS (SELECT nodes.id,
             |    CAST(COALESCE(c1.n, 0) AS BIGINT) AS n1,
             |    CAST(COALESCE(c2.n, 0) AS BIGINT) AS n2,
             |    CAST(COALESCE(c3.n, 0) AS BIGINT) AS n3
             |  FROM nodes
             |  LEFT JOIN (SELECT v, count(*) AS n FROM f1 GROUP BY 1) c1
             |    ON c1.v = nodes.id
             |  LEFT JOIN (SELECT v, count(*) AS n FROM f2 GROUP BY 1) c2
             |    ON c2.v = nodes.id
             |  LEFT JOIN (SELECT v, count(*) AS n FROM f3 GROUP BY 1) c3
             |    ON c3.v = nodes.id)
             |SELECT id, n1, n2, n3,
             |  CAST(n1 AS DOUBLE) * 1.0 + CAST(n2 AS DOUBLE) * 0.5
             |    + CAST(n3 AS DOUBLE) * 0.333333333 AS harmonic
             |FROM n""".stripMargin)
    )),

    // EXACT triangle enumeration by degree-ordered orientation: wedges
    // are enumerated only at each vertex's OUT-neighbors under the
    // (degree, id) total order — hub vertices contribute edges as wedge
    // endpoints, never a Σdeg² wedge center (the PPJoin rarity-prefix
    // discipline applied to graphs). Everything is integer equi-joins,
    // so the full canonical triangle SET hash-matches a SQL replay.
    // Edge fixture: a moderately dense deterministic slice of the
    // customer/order key space.
    "q_triangles" -> ((
      (s: SparkSession, dir: String) => {
        val e = Tables.orders(s, dir)
          .filter(pmod(col("o_orderkey"), lit(23L)) < 3)
          .select(pmod(col("o_custkey"), lit(40L)).as("src"),
            pmod(col("o_orderkey"), lit(40L)).as("dst"))
        operators.Graph.triangles(e)
      },
      Some("""WITH raw AS (SELECT o_custkey % 40 AS s, o_orderkey % 40 AS t
             |  FROM orders WHERE o_orderkey % 23 < 3),
             |e0 AS (SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
             |  FROM raw WHERE s <> t),
             |deg AS (SELECT x, CAST(count(*) AS BIGINT) AS d FROM (
             |  SELECT a AS x FROM e0 UNION ALL SELECT b FROM e0) GROUP BY 1),
             |o AS (SELECT
             |  CASE WHEN da.d < db.d OR (da.d = db.d AND a < b) THEN a ELSE b END AS lo,
             |  CASE WHEN da.d < db.d OR (da.d = db.d AND a < b) THEN b ELSE a END AS hi
             |  FROM e0 JOIN deg da ON da.x = a JOIN deg db ON db.x = b),
             |orr AS (SELECT o.lo, o.hi, deg.d AS dh FROM o JOIN deg ON deg.x = o.hi),
             |wg AS (SELECT e1.lo AS u, e1.hi AS v, e2.hi AS w
             |  FROM orr e1 JOIN orr e2 ON e1.lo = e2.lo
             |  AND (e1.dh < e2.dh OR (e1.dh = e2.dh AND e1.hi < e2.hi)))
             |SELECT u, v, w FROM wg
             |WHERE EXISTS (SELECT 1 FROM o WHERE o.lo = wg.v AND o.hi = wg.w)""".stripMargin)
    )),

    // Multimodal metadata extraction under the oracle gate: a fixture
    // directory of tiny WELL-FORMED containers (PNG, WAV, MP4, Matroska,
    // MP3, OGG-Opus, FLAC) is read through the binaryFile source and
    // the typed header decoders; the oracle reads the HAND-PINNED truth
    // (spec-derived constants, not computed by the code under test).
    "q_multimodal_meta" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val mediaDir = graft.sources.MediaFixture.ensure()
        s.read.format("binaryFile").load(mediaDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("name"),
            regexp_extract(col("path"), "\\.([A-Za-z0-9]+)$", 1).as("kind"),
            col("length").as("n_bytes"), col("content"))
          .as[(String, String, Long, Array[Byte])]
          .map { case (name, kind, n, content) =>
            val m = operators.Multimodal.MediaBatch.decode(
              operators.Multimodal.MediaBlob(0L, kind, content))
            (name, kind, n, m.width, m.height, m.n_frames)
          }
          .toDF("name", "kind", "n_bytes", "width", "height", "n_frames")
      },
      Some(s"""SELECT name, kind, n_bytes, width, height, n_frames
              |FROM read_csv('${graft.sources.MediaFixture.expectedCsvPath}', header=true,
              |  columns={'name':'VARCHAR','kind':'VARCHAR','n_bytes':'BIGINT',
              |           'width':'INTEGER','height':'INTEGER','n_frames':'INTEGER'})""".stripMargin)
    )),

    // SCD Type-2 merge: dimension rows versioned with (valid_from,
    // valid_to). Current dim = customers with custkey % 5 != 0 (so the
    // snapshot brings inserts); snapshot = customers with custkey % 7
    // != 0 (deletes) and acctbal bumped for custkey % 10 == 0
    // (changes). One full-outer join; both engines compute the same
    // double arithmetic bit-for-bit.
    "q_scd2_merge" -> ((
      (s: SparkSession, dir: String) => {
        val cust = Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        val current = cust.filter(pmod(col("c_custkey"), lit(5)) =!= 0)
          .withColumn("valid_from", to_date(lit("2020-01-01")))
          .withColumn("valid_to", lit(null).cast("date"))
        val snapshot = cust.filter(pmod(col("c_custkey"), lit(7)) =!= 0)
          .withColumn("c_acctbal",
            when(pmod(col("c_custkey"), lit(10)) === 0,
              col("c_acctbal") + 100.0).otherwise(col("c_acctbal")))
        operators.Components.scd2Merge(current, snapshot,
          Seq("c_custkey"), Seq("c_mktsegment", "c_acctbal"),
          to_date(lit("2021-06-01")))
      },
      Some("""WITH cur AS (
             |  SELECT c_custkey, c_mktsegment, c_acctbal,
             |         DATE '2020-01-01' AS vf FROM customer WHERE c_custkey % 5 != 0),
             |snap AS (
             |  SELECT c_custkey, c_mktsegment,
             |         CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100.0
             |              ELSE c_acctbal END AS c_acctbal
             |  FROM customer WHERE c_custkey % 7 != 0),
             |j AS (SELECT coalesce(c.c_custkey, s.c_custkey) k,
             |        c.c_custkey IS NOT NULL o, s.c_custkey IS NOT NULL sp,
             |        c.c_mktsegment om, c.c_acctbal ob, c.vf ovf,
             |        s.c_mktsegment sm, s.c_acctbal sb,
             |        (c.c_mktsegment IS NOT DISTINCT FROM s.c_mktsegment AND
             |         c.c_acctbal IS NOT DISTINCT FROM s.c_acctbal) same
             |      FROM cur c FULL JOIN snap s ON c.c_custkey = s.c_custkey)
             |SELECT k AS c_custkey, om AS c_mktsegment, ob AS c_acctbal,
             |       ovf AS valid_from,
             |       CASE WHEN sp AND same THEN NULL
             |            ELSE DATE '2021-06-01' END AS valid_to
             |FROM j WHERE o
             |UNION ALL
             |SELECT k, sm, sb, DATE '2021-06-01', NULL
             |FROM j WHERE sp AND NOT (o AND same)""".stripMargin)
    )),

    // Deterministic global corpus shuffle: a stable training-order
    // permutation in [1, N]. The Spark side computes ranks WITHOUT a
    // single-partition window (range partition + per-partition offsets
    // — Sampling.globalShuffle); the oracle is the naive global window,
    // which is exactly what the distributed formulation must equal.
    "q_corpus_shuffle" -> ((
      (s: SparkSession, dir: String) =>
        operators.Sampling.globalShuffle(
          Tables.documents(s, dir).select(col("doc_id")), col("doc_id"))
          .select(col("doc_id"), col("shuffle_pos")),
      Some("""SELECT doc_id, row_number() OVER (
             |  ORDER BY md5('shuf_' || CAST(doc_id AS VARCHAR)), CAST(doc_id AS VARCHAR)
             |) AS shuffle_pos FROM documents""".stripMargin)
    )),

    // Hamming-space ANN: vectors collapse to 2 longs (sign bits, packed
    // 32 per word so the oracle's BIGINT shifts can't overflow) and
    // ranking is XOR+popcount — integer arithmetic end-to-end, so the
    // whole funnel (pack, scan, bounded-heap top-k) hash-matches SQL.
    "q_ann_hamming" -> ((
      (s: SparkSession, dir: String) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.hammingTopK(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 5)
      },
      Some("""WITH p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb FROM embeddings),
             |w AS (SELECT vec_id,
             |  CAST(list_sum([CASE WHEN emb[i+1] >= 0 THEN 1::BIGINT << i ELSE 0::BIGINT END for i in range(32)]) AS BIGINT) w0,
             |  CAST(list_sum([CASE WHEN emb[i+33] >= 0 THEN 1::BIGINT << i ELSE 0::BIGINT END for i in range(32)]) AS BIGINT) w1
             |  FROM p),
             |s AS (SELECT q.vec_id query_id, c.vec_id neighbor_id,
             |  bit_count(xor(c.w0, q.w0)) + bit_count(xor(c.w1, q.w1)) AS hamming
             |  FROM w q JOIN w c ON c.vec_id != q.vec_id WHERE q.vec_id < 8),
             |r AS (SELECT query_id, neighbor_id, hamming,
             |  row_number() OVER (PARTITION BY query_id ORDER BY hamming ASC, neighbor_id ASC) rn FROM s)
             |SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id,
             |  CAST(hamming AS INTEGER) AS hamming
             |FROM r WHERE rn <= 5""".stripMargin)
    )),

    // Matryoshka two-stage funnel: prefix-16-dim cosine keeps 50
    // candidates per query, full 64-dim cosine re-ranks only those —
    // both stages deterministic (ties by id), so the funnel is
    // oracle-exact, not just recall-tested.
    "q_ann_matryoshka" -> ((
      (s: SparkSession, dir: String) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.matryoshkaTopK(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 5, coarseDims = 16, m = 50)
      },
      Some("""WITH p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb FROM embeddings),
             |n AS (SELECT vec_id, emb, list_sum([x*x for x in emb]) n2,
             |  emb[1:16] cemb, list_sum([x*x for x in emb[1:16]]) cn2 FROM p),
             |coarse AS (SELECT q.vec_id query_id, c.vec_id id,
             |  list_sum([c.cemb[i+1]*q.cemb[i+1] for i in range(16)]) / sqrt(c.cn2 * q.cn2) cs
             |  FROM n q JOIN n c ON c.vec_id != q.vec_id WHERE q.vec_id < 8),
             |cand AS (SELECT query_id, id FROM (SELECT query_id, id,
             |  row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, id ASC) crn
             |  FROM coarse) WHERE crn <= 50),
             |s AS (SELECT cand.query_id, cand.id neighbor_id,
             |  list_sum([c.emb[i+1]*q.emb[i+1] for i in range(len(c.emb))]) / sqrt(c.n2 * q.n2) score
             |  FROM cand JOIN n c ON c.vec_id = cand.id JOIN n q ON q.vec_id = cand.query_id),
             |r AS (SELECT query_id, neighbor_id, score,
             |  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) rn FROM s)
             |SELECT query_id, CAST(rn AS INTEGER) AS rank, neighbor_id, round(score, 6) AS score
             |FROM r WHERE rn <= 5""".stripMargin)
    )),

    // Weighted sampling without replacement: priority = hash32/weight,
    // 15 smallest per source — single-division keys reproduce bitwise
    // in any engine (ln/pow exponential keys would not).
    "q_weighted_sample" -> ((
      (s: SparkSession, dir: String) =>
        operators.Sampling.weightedSample(
          Tables.documents(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
          "source", col("doc_id"), col("n_chars"), perGroup = 15),
      Some("""WITH r AS (SELECT doc_id, source, n_chars,
             |  row_number() OVER (PARTITION BY source
             |    ORDER BY CAST(CAST('0x' || substr(md5('wt_' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE)
             |               / CAST(n_chars AS DOUBLE),
             |             CAST(doc_id AS VARCHAR)) rn
             |  FROM documents WHERE n_chars > 0)
             |SELECT doc_id, source, n_chars FROM r WHERE rn <= 15""".stripMargin)
    )),

    // Epoch-style mixture materialization: per-source uniform-target
    // weights ([[Sampling.mixtureWeights]]) drive row REPETITION —
    // ⌊w⌋ copies always, one more for a deterministic frac(w) share of
    // rows (up- AND down-sampling in one pass, no shuffle).
    "q_mixture_sample" -> ((
      (s: SparkSession, dir: String) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("text"))
        val wts = operators.Sampling.mixtureWeights(docs, "source",
          TextAnalysis.tokenCount(col("text"))).select(col("source"), col("weight"))
        operators.Sampling.mixtureResample(
          docs.select(col("doc_id"), col("source")), "source", col("doc_id"), wts)
          .select(col("doc_id"), col("source"), col("copy"))
      },
      Some("""WITH c AS (SELECT source,
             |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_units
             |  FROM documents GROUP BY source),
             |t AS (SELECT CAST(sum(n_units) AS BIGINT) AS total, count(*) AS groups FROM c),
             |w AS (SELECT source,
             |  least(CAST(total AS DOUBLE) / CAST(groups * n_units AS DOUBLE), 8.0) AS w
             |  FROM c, t),
             |r AS (SELECT d.doc_id, d.source,
             |  CAST(floor(w.w) AS BIGINT) +
             |  CASE WHEN CAST(CAST('0x' || substr(md5('mix_' || CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE)
             |         / 4294967296.0 < w.w - floor(w.w)
             |       THEN 1 ELSE 0 END AS reps
             |  FROM documents d JOIN w USING (source))
             |SELECT doc_id, source, unnest(generate_series(1, reps)) AS copy
             |FROM r WHERE reps >= 1""".stripMargin)
    )),

    // DSIR-style importance weights (Xie et al. 2023), linearized for
    // engine-exact arithmetic: target = English docs, model = hashed
    // unigram buckets, importance = (Σc·t)·R / ((Σc·r)·T) — every term
    // an exact int64 (the bucket totals are ONE bounded aggregation
    // re-embedded as literals), one final IEEE division. The corpus
    // scoring pass is pure map-side codegen, zero shuffle.
    "q_dsir_importance" -> ((
      (s: SparkSession, dir: String) =>
        operators.Importance.hashedImportance(
          Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("text")),
          "doc_id", "text", col("lang") === "en", dim = 16)
          .select(col("doc_id"), col("imp_num"), col("imp_den"), col("importance")),
      Some("""WITH t AS (SELECT doc_id, lang, unnest(string_split(coalesce(text, ''), ' ')) tok FROM documents),
             |b AS (SELECT doc_id, lang,
             |  CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 16 AS bk FROM t),
             |c AS (SELECT doc_id, bk, count(*) c FROM b GROUP BY 1, 2),
             |w AS (SELECT g.i AS bk,
             |  1 + COALESCE(sum(CASE WHEN b.lang = 'en' THEN 1 ELSE 0 END), 0) AS tb,
             |  1 + COALESCE(count(b.bk), 0) AS rb
             |  FROM (SELECT unnest(range(16)) i) g LEFT JOIN b ON b.bk = g.i GROUP BY 1),
             |tot AS (SELECT sum(tb) tt, sum(rb) rt FROM w),
             |s AS (SELECT c.doc_id, sum(c.c * w.tb) num0, sum(c.c * w.rb) den0
             |      FROM c JOIN w ON w.bk = c.bk GROUP BY 1)
             |SELECT s.doc_id,
             |  CAST(num0 * rt AS BIGINT) AS imp_num,
             |  CAST(den0 * tt AS BIGINT) AS imp_den,
             |  CASE WHEN den0 * tt = 0 THEN 1.0
             |       ELSE CAST(num0 * rt AS DOUBLE) / CAST(den0 * tt AS DOUBLE)
             |  END AS importance
             |FROM s, tot""".stripMargin)
    )),

    // The DSIR selection step: 300 docs drawn with probability
    // proportional to importance (without replacement) via the salted
    // single-division priority scheme — the full select-then-resample
    // pipeline under one oracle.
    "q_dsir_resample" -> ((
      (s: SparkSession, dir: String) =>
        operators.Importance.resampleByImportance(
          Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("text")),
          "doc_id", "text", col("lang") === "en", keep = 300)
          .select(col("doc_id"), col("lang"), col("importance")),
      Some("""WITH t AS (SELECT doc_id, lang, unnest(string_split(coalesce(text, ''), ' ')) tok FROM documents),
             |b AS (SELECT doc_id, lang,
             |  CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 16 AS bk FROM t),
             |c AS (SELECT doc_id, bk, count(*) c FROM b GROUP BY 1, 2),
             |w AS (SELECT g.i AS bk,
             |  1 + COALESCE(sum(CASE WHEN b.lang = 'en' THEN 1 ELSE 0 END), 0) AS tb,
             |  1 + COALESCE(count(b.bk), 0) AS rb
             |  FROM (SELECT unnest(range(16)) i) g LEFT JOIN b ON b.bk = g.i GROUP BY 1),
             |tot AS (SELECT sum(tb) tt, sum(rb) rt FROM w),
             |s AS (SELECT c.doc_id, sum(c.c * w.tb) num0, sum(c.c * w.rb) den0
             |      FROM c JOIN w ON w.bk = c.bk GROUP BY 1),
             |j AS (SELECT d.doc_id, d.lang,
             |  CASE WHEN den0 * tt = 0 THEN 1.0
             |       ELSE CAST(num0 * rt AS DOUBLE) / CAST(den0 * tt AS DOUBLE)
             |  END AS importance
             |  FROM documents d JOIN s ON s.doc_id = d.doc_id, tot),
             |r AS (SELECT doc_id, lang, importance,
             |  row_number() OVER (ORDER BY
             |    CAST(CAST('0x' || substr(md5('wt_' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE)
             |      / importance,
             |    CAST(doc_id AS VARCHAR)) rn FROM j)
             |SELECT doc_id, lang, importance FROM r WHERE rn <= 300""".stripMargin)
    )),

    // Concatenate-then-chunk materialized: per fixed-128-token training
    // window, the document segments that fill it (straddlers split
    // across windows) — pure integer arithmetic over the packing
    // offsets, so the whole dataloader-facing view is oracle-exact.
    "q_context_windows" -> ((
      (s: SparkSession, dir: String) => {
        val withTokens = Tables.documents(s, dir)
          .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tok"))
        operators.Packing.contextWindows(withTokens, "doc_id", "n_tok",
          budget = 128, shards = 8)
      },
      Some("""WITH t AS (SELECT doc_id,
             |  CAST(len(string_split(text, ' ')) AS BIGINT) n_tok,
             |  CAST('0x' || substr(md5('pack_' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 8 AS shard
             |  FROM documents),
             |c AS (SELECT doc_id, shard, n_tok,
             |  CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
             |    ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS start_offset FROM t),
             |e AS (SELECT doc_id, shard, n_tok, start_offset,
             |  unnest(generate_series(
             |    CAST(floor(start_offset / 128.0) AS BIGINT),
             |    CAST(floor((start_offset + n_tok - 1) / 128.0) AS BIGINT))) AS window_id
             |  FROM c WHERE n_tok > 0)
             |SELECT shard, window_id, doc_id,
             |  greatest(window_id * 128 - start_offset, 0) AS seg_start,
             |  least(n_tok, (window_id + 1) * 128 - start_offset) AS seg_end
             |FROM e""".stripMargin)
    )),

    // Exact duplicated-substring spans (Lee et al. ExactSubstr at
    // 8-token granularity): corpus-wide sliding-gram counting → dup
    // positions → maximal merged spans, all integer arithmetic.
    "q_dup_spans" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.duplicateSpans(Tables.documents(s, dir), "doc_id", "text", k = 8),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
             |t2 AS (SELECT doc_id, ws FROM t WHERE len(ws) >= 8),
             |g AS (SELECT doc_id, unnest(range(len(ws) - 7)) AS gpos, ws FROM t2),
             |g2 AS (SELECT doc_id, gpos, array_to_string(ws[gpos+1:gpos+8], '_') AS gram FROM g),
             |c AS (SELECT gram FROM g2 GROUP BY gram HAVING count(*) > 1),
             |d AS (SELECT g2.doc_id, g2.gpos FROM g2 JOIN c USING (gram)),
             |i AS (SELECT doc_id, gpos, CASE WHEN gpos > coalesce(
             |    max(gpos + 8) OVER (PARTITION BY doc_id ORDER BY gpos
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
             |  THEN 1 ELSE 0 END AS brk FROM d),
             |s AS (SELECT doc_id, gpos, sum(brk) OVER (PARTITION BY doc_id ORDER BY gpos
             |  ROWS UNBOUNDED PRECEDING) AS island FROM i)
             |SELECT doc_id, CAST(min(gpos) AS BIGINT) AS span_start,
             |  CAST(max(gpos) + 8 AS BIGINT) AS span_end,
             |  CAST(max(gpos) + 8 - min(gpos) AS BIGINT) AS span_tokens
             |FROM s GROUP BY doc_id, island""".stripMargin)
    )),

    // The cleaning companion: tokens covered by any duplicated span are
    // cut, the rest reassembled in order; fully-duplicated docs vanish.
    "q_strip_dup_spans" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.stripDuplicateSpans(Tables.documents(s, dir), "doc_id", "text", k = 8),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
             |t2 AS (SELECT doc_id, ws FROM t WHERE len(ws) >= 8),
             |g AS (SELECT doc_id, unnest(range(len(ws) - 7)) AS gpos, ws FROM t2),
             |g2 AS (SELECT doc_id, gpos, array_to_string(ws[gpos+1:gpos+8], '_') AS gram FROM g),
             |c AS (SELECT gram FROM g2 GROUP BY gram HAVING count(*) > 1),
             |d AS (SELECT g2.doc_id, g2.gpos FROM g2 JOIN c USING (gram)),
             |i AS (SELECT doc_id, gpos, CASE WHEN gpos > coalesce(
             |    max(gpos + 8) OVER (PARTITION BY doc_id ORDER BY gpos
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
             |  THEN 1 ELSE 0 END AS brk FROM d),
             |s AS (SELECT doc_id, gpos, sum(brk) OVER (PARTITION BY doc_id ORDER BY gpos
             |  ROWS UNBOUNDED PRECEDING) AS island FROM i),
             |spans AS (SELECT doc_id, min(gpos) AS span_start, max(gpos) + 8 AS span_end
             |  FROM s GROUP BY doc_id, island),
             |toks AS (SELECT doc_id, unnest(range(len(ws))) AS pos, ws
             |  FROM (SELECT doc_id, string_split(text, ' ') ws FROM documents)),
             |tok2 AS (SELECT doc_id, pos, ws[pos+1] AS tok FROM toks),
             |kept AS (SELECT k.doc_id, k.pos, k.tok FROM tok2 k
             |  WHERE NOT EXISTS (SELECT 1 FROM spans sp WHERE sp.doc_id = k.doc_id
             |    AND sp.span_start <= k.pos AND k.pos < sp.span_end))
             |SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_clean
             |FROM kept GROUP BY doc_id
             |HAVING length(string_agg(tok, ' ' ORDER BY pos)) > 0""".stripMargin)
    )),

    // Count-min sketch heavy hitters: the d×w matrix is built with
    // engine-neutral md5 bucket hashing, so the cells — and therefore
    // the min-cell estimates — hash-match a SQL replay exactly; the
    // output also pins CMS's one-sided error (est ≥ exact, always).
    "q_heavy_hitters_cms" -> ((
      (s: SparkSession, dir: String) => {
        val tok = Tables.documents(s, dir)
          .select(explode(split(col("text"), " ")).as("t"))
        val exact = tok.groupBy("t").agg(count(lit(1)).as("exact_cnt"))
        val top = exact.orderBy(col("exact_cnt").desc, col("t").asc).limit(20)
        val sketch = operators.Sketches.countMin(tok, "t", d = 4, w = 1024)
        val est = operators.Sketches.countMinEstimate(
          sketch, top.select("t"), "t", d = 4, w = 1024)
        top.join(est, "t")
          .select(col("t").as("term"), col("exact_cnt"), col("cms_est"),
            (col("cms_est") >= col("exact_cnt")).as("never_underestimates"))
      },
      Some("""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
             |ex AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
             |top AS (SELECT t, c FROM ex ORDER BY c DESC, t ASC LIMIT 20),
             |rws AS (SELECT unnest([0, 1, 2, 3]) AS r),
             |cells AS (SELECT rws.r,
             |    CAST('0x' || substr(md5(CAST(rws.r AS VARCHAR) || '_' || tok.t), 1, 8) AS BIGINT) % 1024 AS b,
             |    count(*) AS cnt
             |  FROM tok, rws GROUP BY 1, 2),
             |probes AS (SELECT top.t, top.c, rws.r,
             |    CAST('0x' || substr(md5(CAST(rws.r AS VARCHAR) || '_' || top.t), 1, 8) AS BIGINT) % 1024 AS b
             |  FROM top, rws),
             |est AS (SELECT p.t, p.c, min(cells.cnt) AS e
             |  FROM probes p JOIN cells ON cells.r = p.r AND cells.b = p.b
             |  GROUP BY 1, 2)
             |SELECT t AS term, CAST(c AS BIGINT) AS exact_cnt,
             |  CAST(e AS BIGINT) AS cms_est, e >= c AS never_underestimates
             |FROM est""".stripMargin)
    )),

    // BM25 ranking (k1=1.2, b=0.75) for a fixed term set: idf and the
    // length-normalized tf saturation — the retrieval scorer data-
    // curation search/decontamination tooling actually uses. avgdl is
    // an exact-integer token sum over the corpus divided once, so no
    // order-dependent float accumulation crosses rows.
    "q_bm25" -> ((
      (s: SparkSession, dir: String) => {
        val terms = Seq("spark", "join", "merge")
        val docs = Tables.documents(s, dir)
        // ONE tokenize+explode subtree feeds everything per-term: dl
        // rides along through the explode (constant per doc, so max()
        // under the tf grouping recovers it — no separate dl scan, no
        // doc_id shuffle-join), and df comes from a window count over
        // tf partitioned by term (tf rows are distinct (doc_id, t), so
        // count(*) per t == countDistinct doc_id over the raw tokens)
        // — no df join, no second reference to the explode subtree.
        // The window partitions by query term over the ALREADY-filtered
        // tf table (rows = docs containing a query term), so partition
        // width is df(t), never corpus-sized. Only the global (n,
        // avgdl) stats make a second corpus pass — irreducible, and a
        // broadcast 1-row aggregate.
        val ws = split(col("text"), " ")
        val tok = docs.select(col("doc_id"),
            size(ws).cast("long").as("dl"), explode(ws).as("t"))
          .filter(col("t").isin(terms: _*))
        val tf = tok.groupBy("doc_id", "t")
          .agg(count(lit(1)).as("tf"), max("dl").as("dl"))
          .withColumn("df", count(lit(1)).over(Window.partitionBy("t")))
        val stats = docs.agg(count(lit(1)).as("n"),
          sum(size(split(col("text"), " ")).cast("long")).as("sumdl"))
        tf.crossJoin(broadcast(stats))
          .withColumn("avgdl", col("sumdl").cast("double") / col("n").cast("double"))
          .withColumn("idf", log(
            (col("n").cast("double") - col("df").cast("double") + lit(0.5)) /
              (col("df").cast("double") + lit(0.5)) + lit(1.0)))
          .withColumn("contrib",
            col("idf") * (col("tf").cast("double") * lit(2.2)) /
              (col("tf").cast("double") +
                lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / col("avgdl"))))
          .groupBy("doc_id")
          .agg(round(sum(col("contrib")), 6).as("bm25"))
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
             |),
             |ft AS (SELECT doc_id, t FROM tok WHERE t IN ('spark', 'join', 'merge')),
             |tf AS (SELECT doc_id, t, count(*) AS tf FROM ft GROUP BY 1, 2),
             |dfreq AS (SELECT t, count(DISTINCT doc_id) AS df FROM ft GROUP BY 1),
             |stats AS (SELECT count(*) AS n,
             |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sumdl FROM documents),
             |dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents)
             |SELECT tf.doc_id,
             |  round(sum(
             |    ln((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0)
             |    * (CAST(tf AS DOUBLE) * 2.2)
             |    / (CAST(tf AS DOUBLE)
             |       + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))
             |  ), 6) AS bm25
             |FROM tf JOIN dfreq USING (t) JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats
             |GROUP BY tf.doc_id""".stripMargin)
    )),

    // Dirichlet-smoothed query likelihood (Zhai & Lafferty, SIGIR
    // 2001) — the language-modeling retrieval member beside BM25's
    // probabilistic ranking: score(q,d) = Σ_t ln((tf + μ·cf_t/C) /
    // (dl + μ)), μ = 2000. EXACT-INT determinism where bm25 accepts
    // raw-double sums: each log argument is the exact int64 ratio
    // (tf·C + μ·cf) / ((dl+μ)·C), both ln's round-9 AT BIRTH, and the
    // per-doc sum has exactly |query| = 2 addends (IEEE a+b = b+a —
    // the named commutativity bound; 3+ terms would need the sorted
    // fold). Smoothing means EVERY doc scores against every query
    // term (tf = 0 contributes ln(μ·cf/C·…)) — the dense fan is a
    // broadcast of the 2-row term table, one corpus tokenize.
    // Int64 bound: (dl+μ)·C ≤ 9e18 ⇒ fine to C ~ 1e14 tokens.
    "q_dirichlet_ql" -> ((
      (s: SparkSession, dir: String) => {
        val mu = 2000L
        val terms = Seq("spark", "join")
        val docs = Tables.documents(s, dir)
        val ws = split(col("text"), " ")
        val dl = docs.select(col("doc_id"), size(ws).cast("long").as("dl"))
        val cf = docs.select(explode(ws).as("t"))
          .filter(col("t").isin(terms: _*))
          .groupBy("t").agg(count(lit(1)).as("cf"))
        val ctot = docs.agg(
          sum(size(split(col("text"), " ")).cast("long")).as("c"))
        val tf = docs.select(col("doc_id"), explode(ws).as("t"))
          .filter(col("t").isin(terms: _*))
          .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
        dl.crossJoin(broadcast(cf))
          .join(tf, Seq("doc_id", "t"), "left")
          .crossJoin(broadcast(ctot))
          .withColumn("contrib",
            round(log((coalesce(col("tf"), lit(0L)) * col("c") +
              lit(mu) * col("cf")).cast("double")), 9) -
            round(log(((col("dl") + lit(mu)) * col("c")).cast("double")), 9))
          .groupBy("doc_id")
          .agg(round(sum(col("contrib")), 6).as("ql"))
      },
      Some("""WITH dl AS (SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
             |cf AS (SELECT t, CAST(count(*) AS BIGINT) AS cf
             |  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
             |  WHERE t IN ('spark', 'join') GROUP BY 1),
             |ct AS (SELECT CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS c
             |  FROM documents),
             |tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
             |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
             |  WHERE t IN ('spark', 'join') GROUP BY 1, 2)
             |SELECT dl.doc_id,
             |  round(sum(
             |    round(ln(CAST(coalesce(tf.tf, 0) * c + 2000 * cf.cf AS DOUBLE)), 9)
             |    - round(ln(CAST((dl.dl + 2000) * c AS DOUBLE)), 9)), 6) AS ql
             |FROM dl CROSS JOIN cf
             |LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.t = cf.t
             |CROSS JOIN ct
             |GROUP BY 1""".stripMargin)
    )),

    // Corpus snapshot diff: yesterday's corpus vs today's, emitting only
    // the churn an incremental pipeline consumes (re-embed `changed`,
    // dedup-check `added`, tombstone `removed`). Both snapshots are
    // deterministic slices of the documents fixture — old drops
    // doc_id%7==0, new drops %5==0 and rewrites %11==0 — so the oracle
    // replays them exactly; rows are compared as one md5 over
    // (text, source) regardless of content width.
    "q_corpus_delta" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir)
        val oldSnap = d.filter(col("doc_id") % 7 =!= 0)
        val newSnap = d.filter(col("doc_id") % 5 =!= 0)
          .withColumn("text",
            when(col("doc_id") % 11 === 0, upper(col("text")))
              .otherwise(col("text")))
        operators.Delta.churn(oldSnap, newSnap, "doc_id", Seq("text", "source"))
      },
      Some("""WITH o AS (SELECT doc_id,
             |  md5(CASE WHEN text IS NULL THEN 'n' ELSE 'v' END || chr(1)
             |      || COALESCE(text, '') || chr(1)
             |      || CASE WHEN source IS NULL THEN 'n' ELSE 'v' END || chr(1)
             |      || COALESCE(source, '')) AS old_hash
             |          FROM documents WHERE doc_id % 7 <> 0),
             |n AS (SELECT doc_id,
             |  md5(CASE WHEN t2 IS NULL THEN 'n' ELSE 'v' END || chr(1)
             |      || COALESCE(t2, '') || chr(1)
             |      || CASE WHEN source IS NULL THEN 'n' ELSE 'v' END || chr(1)
             |      || COALESCE(source, '')) AS new_hash
             |      FROM (SELECT doc_id, source,
             |            CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END AS t2
             |            FROM documents WHERE doc_id % 5 <> 0)),
             |j AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
             |  CASE WHEN o.doc_id IS NULL THEN 'added'
             |       WHEN n.doc_id IS NULL THEN 'removed'
             |       WHEN old_hash = new_hash THEN 'unchanged'
             |       ELSE 'changed' END AS status,
             |  old_hash, new_hash
             |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
             |SELECT doc_id, status, old_hash, new_hash FROM j
             |WHERE status <> 'unchanged'""".stripMargin)
    )),

    // k-anonymity release gate: customers whose (nation, market
    // segment) combination is shared by fewer than k=10 rows get both
    // quasi-identifiers suppressed to NULL; `qi_group_n` keeps the
    // original group size for the release audit.
    "q_k_anonymize" -> ((
      (s: SparkSession, dir: String) =>
        operators.Privacy.kAnonymize(
          Tables.customer(s, dir)
            .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment")),
          Seq("c_nationkey", "c_mktsegment"), k = 10),
      Some("""WITH c AS (SELECT c_custkey, c_nationkey, c_mktsegment,
             |  count(*) OVER (PARTITION BY c_nationkey, c_mktsegment) AS qi_group_n
             |  FROM customer)
             |SELECT c_custkey,
             |  CASE WHEN qi_group_n < 10 THEN NULL ELSE c_nationkey END AS c_nationkey,
             |  CASE WHEN qi_group_n < 10 THEN NULL ELSE c_mktsegment END AS c_mktsegment,
             |  qi_group_n
             |FROM c""".stripMargin)
    )),

    // l-diversity release audit: a QI group passing k-anonymity can
    // still leak if every member shares one sensitive value — per
    // nation, how many distinct market segments appear and whether the
    // diversity floor l=4 holds.
    "q_l_diversity" -> ((
      (s: SparkSession, dir: String) =>
        operators.Privacy.lDiversityAudit(
          Tables.customer(s, dir), Seq("c_nationkey"), "c_mktsegment", l = 4),
      Some("""SELECT c_nationkey, count(*) AS n,
             |count(DISTINCT c_mktsegment) AS n_sensitive,
             |count(DISTINCT c_mktsegment) >= 4 AS meets_l
             |FROM customer GROUP BY 1""".stripMargin)
    )),

    // t-closeness release audit (Li et al., ICDE 2007) — the third
    // rung after q_k_anonymize / q_l_diversity: per market segment,
    // the ordered-EMD between its nation-key distribution and the
    // global one. All mass terms stay exact int64 numerators over the
    // common denominator n_g·n (c·n products ≤ n², the named ~3e9-row
    // bound); ONE final IEEE division makes the double, so the
    // meets_t comparison is bit-identical across engines.
    "q_t_closeness" -> ((
      (s: SparkSession, dir: String) =>
        operators.Privacy.tClosenessAudit(
          Tables.customer(s, dir), Seq("c_mktsegment"), "c_nationkey",
          t = 0.2),
      Some("""WITH b AS (SELECT c_mktsegment qi, c_nationkey v FROM customer WHERE c_nationkey IS NOT NULL),
             |tot AS (SELECT count(*) n_total, count(DISTINCT v) m_vals FROM b),
             |vc AS (SELECT v, count(*) c_global FROM b GROUP BY 1),
             |rk AS (SELECT v, c_global, row_number() OVER (ORDER BY v) v_idx FROM vc),
             |g AS (SELECT qi, count(*) n_g FROM b GROUP BY 1),
             |gv AS (SELECT qi, v, count(*) c_group FROM b GROUP BY 1, 2),
             |grid AS (SELECT g.qi, g.n_g, rk.v_idx, tot.n_total, tot.m_vals,
             |    COALESCE(gv.c_group, 0) * tot.n_total - rk.c_global * g.n_g AS term_num
             |  FROM g CROSS JOIN rk CROSS JOIN tot
             |  LEFT JOIN gv ON gv.qi = g.qi AND gv.v = rk.v),
             |cum AS (SELECT qi, n_g, m_vals, n_total, v_idx,
             |    sum(term_num) OVER (PARTITION BY qi ORDER BY v_idx) cum_num
             |  FROM grid),
             |e AS (SELECT qi, n_g, m_vals, n_total, sum(abs(cum_num)) emd_num
             |  FROM cum WHERE v_idx < m_vals GROUP BY 1, 2, 3, 4)
             |SELECT qi AS c_mktsegment, n_g,
             |  round(CAST(emd_num AS DOUBLE) / CAST((m_vals - 1) * n_g * n_total AS DOUBLE), 6) AS emd,
             |  CAST(emd_num AS DOUBLE) / CAST((m_vals - 1) * n_g * n_total AS DOUBLE) <= 0.2 AS meets_t
             |FROM e""".stripMargin)
    )),

    // Laplace-mechanism DP release of per-source counts (eps = 1,
    // sensitivity 1) — the fourth privacy operator: k-anon suppresses,
    // l-div/t-closeness audit, this one PUBLISHES. The inverse-CDF
    // noise draws from the salted group hash so the release replays
    // under the gate — the NAMED caveat in Privacy.laplaceCounts:
    // production swaps the seed for secret randomness, the mechanism
    // arithmetic is the deployable path.
    "q_dp_counts" -> ((
      (s: SparkSession, dir: String) =>
        // salt = the release identifier (now REQUIRED by the operator);
        // this gate release is the one place a FIXED salt is the point —
        // the oracle must replay the identical noise
        operators.Privacy.laplaceCounts(Tables.documents(s, dir),
          "source", epsilon = 1.0, salt = "dp_"),
      Some("""WITH c AS (SELECT source AS g, CAST(count(*) AS BIGINT) AS n
             |  FROM documents GROUP BY 1),
             |u AS (SELECT g, n,
             |    (CAST(CAST('0x' || substr(md5('dp_' || g), 1, 8) AS BIGINT)
             |       AS DOUBLE) + 0.5) / 4294967296.0 AS u
             |  FROM c)
             |SELECT g AS source, CAST(1.0 AS DOUBLE) AS epsilon,
             |  round(CAST(n AS DOUBLE) + round(-1.0
             |    * (CASE WHEN u - 0.5 >= 0 THEN 1.0 ELSE -1.0 END)
             |    * ln(1.0 - 2.0 * abs(u - 0.5)), 9), 6) AS released
             |FROM u""".stripMargin)
    )),

    // The streaming form of the domain cap under the hard gate: replay
    // a bounded slice through the REAL domainCapStream (one int of
    // keyed state per domain) in cap_-hash arrival order, so the
    // first-cap admissions are exactly the batch sampler's winners and
    // the stream output is oracle-checkable.
    "q_stream_domain_cap" -> ((
      (s: SparkSession, dir: String) =>
        graft.streaming.EventStreams.replayDomainCap(
          Tables.documents(s, dir), "doc_id", "source", cap = 15),
      Some("""WITH r AS (SELECT doc_id, source,
             |  row_number() OVER (PARTITION BY source
             |    ORDER BY md5('cap_' || CAST(doc_id AS VARCHAR)),
             |             CAST(doc_id AS VARCHAR)) AS rn
             |  FROM documents WHERE doc_id < 400)
             |SELECT doc_id, source FROM r WHERE rn <= 15""".stripMargin)
    )),

    // Per-domain frequency cap (RefinedWeb-style): at most 15 docs per
    // source, survivors chosen by the cap_-salted md5 order so the cap
    // composes independently of every other sampling stage.
    "q_domain_cap" -> ((
      (s: SparkSession, dir: String) =>
        operators.Sampling.domainCap(
          Tables.documents(s, dir).select(col("doc_id"), col("source")),
          "source", col("doc_id"), cap = 15),
      Some("""WITH r AS (SELECT doc_id, source,
             |  row_number() OVER (PARTITION BY source
             |    ORDER BY md5('cap_' || CAST(doc_id AS VARCHAR)),
             |             CAST(doc_id AS VARCHAR)) AS rn
             |  FROM documents)
             |SELECT doc_id, source FROM r WHERE rn <= 15""".stripMargin)
    )),

    // Token-budgeted mixture: each source contributes documents in
    // tb_-salted md5 order until its running token total crosses 600 —
    // the "N tokens of web, M of code" recipe, materialized.
    "q_token_budget" -> ((
      (s: SparkSession, dir: String) =>
        operators.Sampling.tokenBudget(
          Tables.documents(s, dir)
            .select(col("doc_id"), col("source"),
              TextAnalysis.tokenCount(col("text")).as("n_tokens")),
          "source", col("doc_id"), col("n_tokens"), budget = 600L),
      Some("""WITH t AS (SELECT doc_id, source,
             |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
             |r AS (SELECT doc_id, source, n_tokens,
             |  COALESCE(sum(n_tokens) OVER (PARTITION BY source
             |    ORDER BY md5('tb_' || CAST(doc_id AS VARCHAR)),
             |             CAST(doc_id AS VARCHAR)
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_before
             |  FROM t)
             |SELECT doc_id, source, n_tokens FROM r
             |WHERE tok_before < 600""".stripMargin)
    )),

    // Curriculum schedule: quality-tier phases (high first), shuffled
    // within each phase, emitted as one global training position — via
    // the range-partitioned rank machinery, never a one-task window.
    "q_curriculum" -> ((
      (s: SparkSession, dir: String) => {
        val scored = Tables.documents(s, dir)
          .select(col("doc_id"),
            TextAnalysis.qualityScore(col("text")).as("score"))
          .withColumn("phase",
            when(col("score") >= 0.55, 0)
              .when(col("score") >= 0.45, 1).otherwise(2))
        operators.Sampling.curriculumOrder(scored, col("phase"), col("doc_id"))
          .select(col("doc_id"), col("phase"), col("curriculum_pos"))
      },
      Some {
        val allStop = TextAnalysis.stopwords.values.flatten.toSeq.distinct
          .map(w => s"'$w'").mkString(", ")
        s"""WITH c AS (SELECT doc_id,
           |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
           |  CAST(len([w for w in string_split(text, ' ') if w IN ($allStop)]) AS BIGINT) AS nstop,
           |  CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS nalpha,
           |  CAST(length(text) AS BIGINT) AS nchars
           |FROM documents),
           |s AS (SELECT doc_id,
           |  CAST(4 * least(ntok, 100) * ntok * nchars + 300 * nstop * nchars
           |       + 300 * nalpha * ntok AS DOUBLE)
           |  / CAST(1000 * ntok * nchars AS DOUBLE) AS score
           |FROM c),
           |p AS (SELECT doc_id,
           |  CASE WHEN score >= 0.55 THEN 0
           |       WHEN score >= 0.45 THEN 1 ELSE 2 END AS phase
           |FROM s)
           |SELECT doc_id, phase,
           |  row_number() OVER (ORDER BY phase,
           |    md5('cur_' || CAST(doc_id AS VARCHAR)),
           |    CAST(doc_id AS VARCHAR)) AS curriculum_pos
           |FROM p""".stripMargin
      }
    )),

    // The mixture-construction composition end-to-end under ONE oracle:
    // per-domain cap -> per-domain token budget -> curriculum schedule.
    // Three sampling stages, three DIFFERENT salts (cap_, tb_, cur_) —
    // the composed pipeline the per-operator salting exists for: each
    // stage sees an independent uniform draw per doc.
    "q_mixture_pipeline" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("text"))
        val capped = operators.Sampling.domainCap(d, "source", col("doc_id"), cap = 15)
        val budgeted = operators.Sampling.tokenBudget(
          capped.withColumn("n_tokens", TextAnalysis.tokenCount(col("text"))),
          "source", col("doc_id"), col("n_tokens"), budget = 600L)
        val phased = budgeted
          .withColumn("score", TextAnalysis.qualityScore(col("text")))
          .withColumn("phase",
            when(col("score") >= 0.55, 0)
              .when(col("score") >= 0.45, 1).otherwise(2))
        operators.Sampling.curriculumOrder(phased, col("phase"), col("doc_id"))
          .select(col("doc_id"), col("source"), col("n_tokens"),
            col("phase"), col("curriculum_pos"))
      },
      Some {
        val allStop = TextAnalysis.stopwords.values.flatten.toSeq.distinct
          .map(w => s"'$w'").mkString(", ")
        s"""WITH capped AS (SELECT doc_id, source, text FROM (
           |  SELECT doc_id, source, text,
           |    row_number() OVER (PARTITION BY source
           |      ORDER BY md5('cap_' || CAST(doc_id AS VARCHAR)),
           |               CAST(doc_id AS VARCHAR)) AS rn
           |  FROM documents) WHERE rn <= 15),
           |tb AS (SELECT doc_id, source, text,
           |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM capped),
           |kept AS (SELECT doc_id, source, text, n_tokens FROM (
           |  SELECT *, COALESCE(sum(n_tokens) OVER (PARTITION BY source
           |    ORDER BY md5('tb_' || CAST(doc_id AS VARCHAR)),
           |             CAST(doc_id AS VARCHAR)
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_before
           |  FROM tb) WHERE tok_before < 600),
           |c AS (SELECT doc_id, source, n_tokens,
           |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
           |  CAST(len([w for w in string_split(text, ' ') if w IN ($allStop)]) AS BIGINT) AS nstop,
           |  CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS nalpha,
           |  CAST(length(text) AS BIGINT) AS nchars
           |FROM kept),
           |p AS (SELECT doc_id, source, n_tokens,
           |  CASE WHEN CAST(4 * least(ntok, 100) * ntok * nchars + 300 * nstop * nchars
           |            + 300 * nalpha * ntok AS DOUBLE)
           |       / CAST(1000 * ntok * nchars AS DOUBLE) >= 0.55 THEN 0
           |       WHEN CAST(4 * least(ntok, 100) * ntok * nchars + 300 * nstop * nchars
           |            + 300 * nalpha * ntok AS DOUBLE)
           |       / CAST(1000 * ntok * nchars AS DOUBLE) >= 0.45 THEN 1
           |       ELSE 2 END AS phase
           |FROM c)
           |SELECT doc_id, source, n_tokens, phase,
           |  row_number() OVER (ORDER BY phase,
           |    md5('cur_' || CAST(doc_id AS VARCHAR)),
           |    CAST(doc_id AS VARCHAR)) AS curriculum_pos
           |FROM p""".stripMargin
      }
    )),
    // Main-text extraction from HTML: a deterministic page is wrapped
    // around each document (title/style/script/comment boilerplate, a
    // "<" inside inline JS, an entity-encoded body, and a numeric-
    // entity paragraph: decimal &#176;, &#233;, hex &#x41;, the BMP
    // curly quote &#8217;, an ASTRAL emoji &#x1F600; — the native
    // kernel decodes the full Unicode range — plus a surrogate
    // &#xD800; and an out-of-range &#1114112; that must stay LITERAL,
    // and the double-escape &amp;#65; which must yield the text
    // '&#65;'). Web.htmlText must recover exactly title + heading +
    // decoded body. The kernel side is a native scan; the oracle
    // replays the decode with a regexp tokenize + chr() — a genuine
    // cross-implementation check; WebSpec pins the semantics on
    // literal cases so mirrored chains can't hide a shared bug.
    "q_html_extract" -> ((
      (s: SparkSession, dir: String) => {
        val page = concat(
          lit("<html><head><title>"), col("source"),
          lit("</title><style>p { color: #333 }</style>" +
            "<script>if (1 < 2) { em(\"<p>\"); }</script></head><body><h1>"),
          col("source"),
          lit("</h1><!-- note --><p>"),
          regexp_replace(col("text"), "table", "t&amp;ble"),
          lit("</p><p>90&#176; caf&#233; &#x41;ster &#8217;q&#8217; " +
            "e&#x1F600;e &#xD800; &#1114112; &amp;#65;</p></body></html>"))
        Tables.documents(s, dir)
          .select(col("doc_id"), Web.htmlText(page).as("main_text"))
          .withColumn("n_chars_main", length(col("main_text")).cast("long"))
      },
      Some("""WITH h AS (SELECT doc_id,
             |  '<html><head><title>' || source
             |  || '</title><style>p { color: #333 }</style><script>if (1 < 2) { em("<p>"); }</script></head><body><h1>'
             |  || source || '</h1><!-- note --><p>'
             |  || regexp_replace(text, 'table', 't&amp;ble', 'g')
             |  || '</p><p>90&#176; caf&#233; &#x41;ster &#8217;q&#8217; e&#x1F600;e &#xD800; &#1114112; &amp;#65;</p></body></html>' AS html
             |FROM documents),
             |s AS (SELECT doc_id,
             |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
             |    '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
             |    '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
             |    '(?s)<!--.*?-->', ' ', 'g'),
             |    '<[^>]+>', ' ', 'g') AS t FROM h),
             |n AS (SELECT doc_id, array_to_string(list_transform(
             |  regexp_extract_all(t, '&#[0-9]{1,7};|&#[xX][0-9A-Fa-f]{1,6};|&|[^&]+'),
             |  tk -> CASE
             |    WHEN regexp_matches(tk, '^&#[0-9]')
             |      AND TRY_CAST(substr(tk, 3, length(tk) - 3) AS BIGINT) BETWEEN 1 AND 1114111
             |      AND NOT (TRY_CAST(substr(tk, 3, length(tk) - 3) AS BIGINT) BETWEEN 55296 AND 57343)
             |      THEN chr(CAST(substr(tk, 3, length(tk) - 3) AS INTEGER))
             |    WHEN regexp_matches(tk, '^&#[xX]')
             |      AND TRY_CAST('0x' || substr(tk, 4, length(tk) - 4) AS BIGINT) BETWEEN 1 AND 1114111
             |      AND NOT (TRY_CAST('0x' || substr(tk, 4, length(tk) - 4) AS BIGINT) BETWEEN 55296 AND 57343)
             |      THEN chr(CAST('0x' || substr(tk, 4, length(tk) - 4) AS INTEGER))
             |    ELSE tk END), '') AS t FROM s),
             |e AS (SELECT doc_id,
             |  trim(regexp_replace(
             |    replace(replace(replace(replace(replace(replace(t,
             |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
             |    '[ \t\r\n]+', ' ', 'g')) AS main_text
             |FROM n)
             |SELECT doc_id, main_text,
             |  CAST(length(main_text) AS BIGINT) AS n_chars_main FROM e""".stripMargin)
    )),

    // Link-graph harvest + URL canonicalization feeding the
    // registrable-domain key the per-domain samplers group on: each doc
    // carries four outlinks (mixed-case scheme/host, default ports, a
    // fragment, a two-level public suffix, and a mailto that must
    // normalize to NULL and be dropped loudly), harvested with
    // htmlLinks, canonicalized, and rolled up per registrable domain.
    "q_url_normalize" -> ((
      (s: SparkSession, dir: String) => {
        val page = concat(
          lit("<p><a href=\"HTTP://WWW.Example.COM:80/p/"),
          col("doc_id").cast("string"),
          lit("#frag\">a</a> <A HREF=\"https://cdn."), col("source"),
          lit(".CO.UK:443/lib.js?v=1\">b</A> <a href=\"https://"),
          col("source"),
          lit(".example.org\">c</a> <a href=\"mailto:x@example.com\">m</a></p>"))
        Tables.documents(s, dir)
          .select(explode(Web.htmlLinks(page)).as("link"))
          .select(Web.urlNormalize(col("link")).as("url"))
          .filter(col("url").isNotNull)
          .select(col("url"),
            Web.registeredDomain(Web.urlHost(col("url"))).as("domain"))
          .groupBy(col("domain"))
          .agg(count(lit(1)).as("n_links"),
            countDistinct(col("url")).as("n_urls"))
      },
      Some("""WITH h AS (SELECT doc_id,
             |  '<p><a href="HTTP://WWW.Example.COM:80/p/' || CAST(doc_id AS VARCHAR)
             |  || '#frag">a</a> <A HREF="https://cdn.' || source
             |  || '.CO.UK:443/lib.js?v=1">b</A> <a href="https://' || source
             |  || '.example.org">c</a> <a href="mailto:x@example.com">m</a></p>' AS html
             |FROM documents),
             |l AS (SELECT unnest(regexp_extract_all(html,
             |  '(?i)(^|[ \t\r\n<])href[ \t\r\n]*=[ \t\r\n]*"([^"]*)"', 2)) AS link
             |FROM h),
             |parts AS (SELECT link,
             |  lower(regexp_extract(link, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             |  lower(regexp_extract(link, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS auth,
             |  regexp_extract(link, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)', 1) AS rest
             |FROM l),
             |norm AS (SELECT
             |  scheme || '://' ||
             |  CASE WHEN scheme = 'http' THEN regexp_replace(auth, ':80$', '')
             |       WHEN scheme = 'https' THEN regexp_replace(auth, ':443$', '')
             |       ELSE auth END ||
             |  CASE WHEN rest = '' THEN '/'
             |       WHEN rest LIKE '?%' THEN '/' || rest
             |       ELSE rest END AS url
             |FROM parts WHERE scheme <> ''),
             |d AS (SELECT url,
             |  regexp_extract(
             |    regexp_replace(regexp_replace(
             |      lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
             |      '^[^@]*@', ''), ':[0-9]+$', ''),
             |    '([^.]+\.(?:ac|co|com|edu|gov|net|org)\.(?:au|br|in|jp|nz|uk)|[^.]+\.[^.]+)$',
             |    1) AS domain
             |FROM norm)
             |SELECT domain, count(*) AS n_links, count(DISTINCT url) AS n_urls
             |FROM d GROUP BY 1""".stripMargin)
    )),
    // Registrable-domain EXACTNESS: the pinned public-suffix snapshot
    // (checked-in data file, broadcast-join variant) against the
    // zero-join heuristic, on planted hosts where they must disagree —
    // com.cn / co.za / co.kr are not in the heuristic's alternation,
    // so last-two-labels mis-keys them; the snapshot registers the
    // last THREE. Wildcard rules (*.ck, *.bd: EVERY second-level label
    // is a suffix) and the exception !www.ck (www.ck IS registrable)
    // are exercised too, plus THREE-level exact entries (the
    // act.edu.au state-registry family: hosts register at the last
    // FOUR labels, and the three-level rule must beat the edu.au
    // two-level rule by the PSL's most-labels precedence). Also
    // pinned: agreement on .com and co.uk, the host-IS-a-suffix edge
    // ('' registrable), and single-label hosts. The oracle inlines the
    // SAME snapshot (VALUES + IN-lists generated from the resource
    // file at SQL build time) so both engines key off identical
    // pinned data.
    "q_registered_domain" -> ((
      (s: SparkSession, dir: String) => {
        val host = when(col("doc_id") % 12 === 0,
            concat(lit("shop."), col("source"), lit(".com.cn")))
          .when(col("doc_id") % 12 === 1,
            concat(lit("www."), col("source"), lit(".co.za")))
          .when(col("doc_id") % 12 === 2,
            concat(col("source"), lit(".example.com")))
          .when(col("doc_id") % 12 === 3,
            concat(lit("cdn."), col("source"), lit(".co.uk")))
          .when(col("doc_id") % 12 === 4, lit("com.cn"))
          .when(col("doc_id") % 12 === 5, lit("localhost"))
          .when(col("doc_id") % 12 === 6,
            concat(lit("a.b."), col("source"), lit(".ck")))
          .when(col("doc_id") % 12 === 7, lit("www.ck"))
          .when(col("doc_id") % 12 === 8,
            concat(lit("shop."), col("source"), lit(".com.bd")))
          .when(col("doc_id") % 12 === 9,
            concat(col("source"), lit(".vic.edu.au")))
          .when(col("doc_id") % 12 === 10,
            concat(lit("www."), col("source"), lit(".act.gov.au")))
          .otherwise(concat(lit("a.b."), col("source"), lit(".co.kr")))
        val hosts = Tables.documents(s, dir)
          .select(col("doc_id"), host.as("host"),
            Web.registeredDomain(host).as("heuristic"))
        Web.registeredDomainExact(hosts, "host", "exact_domain")
          .withColumn("agree", col("heuristic") === col("exact_domain"))
      },
      Some {
        val (exact, wild, exc) = Web.pslRules
        val (exact3, exact2) = exact.partition(_.count(_ == '.') == 2)
        val values = exact2.map(sfx => s"('$sfx')").mkString(", ")
        val values3 = exact3.map(sfx => s"('$sfx')").mkString(", ")
        val wildIn = wild.map(t => s"'$t'").mkString(", ")
        val excIn =
          if (exc.isEmpty) "''" else exc.map(e => s"'$e'").mkString(", ")
        s"""WITH psl(suffix) AS (SELECT * FROM (VALUES $values)),
           |psl3(suffix) AS (SELECT * FROM (VALUES $values3)),
           |hosts AS (SELECT doc_id,
           |  CASE CAST(doc_id % 12 AS INTEGER)
           |    WHEN 0 THEN 'shop.' || source || '.com.cn'
           |    WHEN 1 THEN 'www.' || source || '.co.za'
           |    WHEN 2 THEN source || '.example.com'
           |    WHEN 3 THEN 'cdn.' || source || '.co.uk'
           |    WHEN 4 THEN 'com.cn'
           |    WHEN 5 THEN 'localhost'
           |    WHEN 6 THEN 'a.b.' || source || '.ck'
           |    WHEN 7 THEN 'www.ck'
           |    WHEN 8 THEN 'shop.' || source || '.com.bd'
           |    WHEN 9 THEN source || '.vic.edu.au'
           |    WHEN 10 THEN 'www.' || source || '.act.gov.au'
           |    ELSE 'a.b.' || source || '.co.kr' END AS host
           |  FROM documents),
           |t AS (SELECT doc_id, host,
           |  regexp_extract(host,
           |    '([^.]+\\.(?:ac|co|com|edu|gov|net|org)\\.(?:au|br|in|jp|nz|uk)|[^.]+\\.[^.]+)$$',
           |    1) AS heuristic,
           |  regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS t2,
           |  regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+)$$', 1) AS t3,
           |  regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+\\.[^.]+)$$', 1) AS t4,
           |  regexp_extract(host, '([^.]+)$$', 1) AS tld
           |  FROM hosts),
           |v AS (SELECT doc_id, host, heuristic,
           |  t3 IN (SELECT suffix FROM psl3) AS is_suffix3,
           |  (t2 IN (SELECT suffix FROM psl)
           |   OR (tld IN ($wildIn) AND t2 NOT IN ($excIn)
           |       AND contains(t2, '.'))) AS is_suffix, t2, t3, t4 FROM t)
           |SELECT doc_id, host, heuristic,
           |  CASE WHEN is_suffix3 THEN t4
           |       WHEN is_suffix THEN t3 ELSE t2 END AS exact_domain,
           |  (heuristic = CASE WHEN is_suffix3 THEN t4
           |     WHEN is_suffix THEN t3 ELSE t2 END) AS agree
           |FROM v""".stripMargin
      }
    )),

    // WARC ingestion end-to-end under the oracle: a hand-built crawl
    // archive (warcinfo/request noise, an embedded false record-
    // boundary magic, UTF-8 multibyte bytes, entity-encoded HTML,
    // mixed-case URIs) flows through the splittable warc source, the
    // response filter, URL canonicalization and HTML main-text
    // extraction. The oracle reads the hand-pinned post-extraction
    // truth — constants derived from the WARC spec by hand, not
    // computed by the code under test (IngestFixture discipline).
    "q_warc_ingest" -> ((
      (s: SparkSession, dir: String) => {
        graft.sources.WarcFixture.ensure()
        s.read.format("warc").load(graft.sources.WarcFixture.warcPath)
          .filter(col("warc_type") === "response")
          .select(
            Web.urlNormalize(col("target_uri")).as("url"),
            col("content_length"),
            Web.htmlText(col("payload").cast("string")).as("main_text"))
      },
      Some(s"""SELECT url, CAST(content_length AS BIGINT) AS content_length,
              |  main_text
              |FROM read_csv('${graft.sources.WarcFixture.expectedCsvPath}',
              |  header=true, all_varchar=true)""".stripMargin)
    )),
    // The EIGHTH direct streaming row, and the first through a
    // PRODUCTION streaming source rather than a MemoryStream harness:
    // readStream.format("warc") drives the name-watermark
    // MicroBatchStream (offsets, partition planning, record reader)
    // end-to-end against the SAME pinned CSV as the batch ingest —
    // landing directory in, extracted text out, one oracle.
    "q_stream_warc_ingest" -> ((
      (s: SparkSession, dir: String) => {
        graft.sources.WarcFixture.ensure()
        graft.streaming.EventStreams.replayWarcIngest(
          s, graft.sources.WarcFixture.warcPath)
      },
      Some(s"""SELECT url, CAST(content_length AS BIGINT) AS content_length,
              |  main_text
              |FROM read_csv('${graft.sources.WarcFixture.expectedCsvPath}',
              |  header=true, all_varchar=true)""".stripMargin)
    )),
    // Politeness-budgeted crawl-frontier scheduling — the fetch-side
    // planning step of the incremental cycle: at most 3 URLs per
    // domain (politeness cap), the survivors globally cut at the
    // 40-fetch cycle budget, each domain's picks staggered 5 s apart.
    // Every ordering is the total (priority DESC, doc_id ASC) order;
    // the global cut is TakeOrdered, and the fetch_order window runs
    // over the ALREADY-CUT <= 40 rows (bounded config-sized state).
    "q_crawl_frontier" -> ((
      (s: SparkSession, dir: String) => {
        val cand = Tables.documents(s, dir).select(
          concat(lit("https://"), col("source"), lit("/d/"), col("doc_id"))
            .as("url"),
          col("source").as("domain"), col("n_chars").as("priority"),
          col("doc_id"))
        operators.Pipeline.crawlFrontier(cand, "url", "domain", "priority",
          "doc_id", perDomainCap = 3, cycleCapacity = 40, crawlDelayS = 5)
      },
      Some("""WITH cand AS (SELECT 'https://' || source || '/d/' || CAST(doc_id AS VARCHAR) AS url,
             |  source AS domain, n_chars AS priority, doc_id FROM documents),
             |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY domain
             |    ORDER BY priority DESC, doc_id ASC) AS INTEGER) AS rank_in_domain
             |  FROM cand),
             |cap AS (SELECT * FROM rk WHERE rank_in_domain <= 3),
             |fo AS (SELECT *, CAST(row_number() OVER (ORDER BY priority DESC, doc_id ASC) AS INTEGER) AS fetch_order FROM cap)
             |SELECT url, domain, priority, rank_in_domain, fetch_order,
             |  CAST((rank_in_domain - 1) * 5 AS BIGINT) AS scheduled_s
             |FROM fo WHERE fetch_order <= 40""".stripMargin)
    )),

    // Sitemap-driven incremental fetch candidates (sitemaps.org
    // protocol): per-source sitemap XML — built deterministically
    // from the fixture, then PARSED BACK by the regex layer under
    // test — yields (loc, lastmod) entries, and only entries touched
    // after the last cycle's cutoff survive as fetch candidates: the
    // skip-without-a-request half of incremental sync, applied
    // before any fetch happens.
    "q_sitemap_candidates" -> ((
      (s: SparkSession, dir: String) => {
        val entry = concat(lit("<url><loc>https://"), col("source"),
          lit("/d/"), col("doc_id"), lit("</loc><lastmod>"),
          date_format(date_add(to_date(lit("2024-01-01")),
            pmod(col("doc_id"), lit(60L)).cast("int")), "yyyy-MM-dd"),
          lit("</lastmod></url>"))
        val sm = Tables.documents(s, dir).groupBy(col("source"))
          .agg(concat(lit("<?xml version=\"1.0\"?><urlset>"),
            concat_ws("", array_sort(collect_list(entry))),
            lit("</urlset>")).as("xml"))
        sm.select(col("source"),
            explode(Web.sitemapEntries(col("xml"))).as("e"))
          .select(col("source"), col("e.loc").as("loc"),
            col("e.lastmod").as("lastmod"))
          .filter(col("lastmod") >= lit("2024-02-15"))
      },
      Some("""WITH en AS (SELECT source,
             |    '<url><loc>https://' || source || '/d/' || CAST(doc_id AS VARCHAR)
             |    || '</loc><lastmod>'
             |    || strftime(DATE '2024-01-01' + CAST(doc_id % 60 AS INTEGER), '%Y-%m-%d')
             |    || '</lastmod></url>' AS u
             |  FROM documents),
             |sm AS (SELECT source, '<?xml version="1.0"?><urlset>'
             |    || array_to_string(list(u ORDER BY u), '') || '</urlset>' AS xml
             |  FROM en GROUP BY 1),
             |p AS (SELECT source,
             |    unnest(regexp_extract_all(xml, '<url>(.*?)</url>', 1)) AS u
             |  FROM sm)
             |SELECT source, trim(regexp_extract(u, '<loc>(.*?)</loc>', 1)) AS loc,
             |  trim(regexp_extract(u, '<lastmod>(.*?)</lastmod>', 1)) AS lastmod
             |FROM p
             |WHERE trim(regexp_extract(u, '<lastmod>(.*?)</lastmod>', 1)) >= '2024-02-15'""".stripMargin)
    )),

    // Recrawl scheduling from snapshot churn: two synthetic cycles
    // with SOURCE-DEPENDENT removal cadence diff through
    // Delta.snapshotDelta, per-source churn rates (one exact division
    // of int64 counts) map to daily/weekly/monthly recrawl buckets —
    // the adaptive-frequency policy every production crawler runs on
    // top of its frontier (q_crawl_frontier schedules WITHIN a cycle;
    // this decides which cycle a source next joins).
    "q_recrawl_schedule" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir)
        val oldSnap = d.filter(col("doc_id") % 7 =!= 0)
        val newSnap = d
          .filter(col("doc_id") % (lit(3L) + (length(col("source")) % 4)
            .cast("long")) =!= 0)
          .withColumn("text",
            when(col("doc_id") % 11 === 0, upper(col("text")))
              .otherwise(col("text")))
        val churn = operators.Delta.churn(
            oldSnap, newSnap, "doc_id", Seq("text", "source"))
          .join(d.select(col("doc_id"), col("source")), "doc_id")
          .groupBy("source")
          .agg(
            sum(when(col("status") === "added", 1L).otherwise(0L))
              .as("n_added"),
            sum(when(col("status") === "removed", 1L).otherwise(0L))
              .as("n_removed"),
            sum(when(col("status") === "changed", 1L).otherwise(0L))
              .as("n_changed"))
        val base = oldSnap.groupBy("source").agg(count(lit(1)).as("n_old"))
        val rate = (col("n_added") + col("n_removed") + col("n_changed"))
          .cast("double") / col("n_old").cast("double")
        base.join(churn, Seq("source"), "left")
          .select(col("source"), col("n_old"),
            coalesce(col("n_added"), lit(0L)).as("n_added"),
            coalesce(col("n_removed"), lit(0L)).as("n_removed"),
            coalesce(col("n_changed"), lit(0L)).as("n_changed"))
          .select(col("source"), col("n_old"), col("n_added"),
            col("n_removed"), col("n_changed"),
            round(rate, 6).as("churn_rate"),
            when(rate >= 0.45, lit("daily"))
              .when(rate >= 0.257, lit("weekly"))
              .otherwise(lit("monthly")).as("recrawl"))
      },
      Some("""WITH o AS (SELECT doc_id, source,
             |  md5(CASE WHEN text IS NULL THEN 'n' ELSE 'v' END || chr(1)
             |      || COALESCE(text, '') || chr(1)
             |      || CASE WHEN source IS NULL THEN 'n' ELSE 'v' END || chr(1)
             |      || COALESCE(source, '')) AS old_hash
             |  FROM documents WHERE doc_id % 7 <> 0),
             |n AS (SELECT doc_id, source,
             |  md5(CASE WHEN t2 IS NULL THEN 'n' ELSE 'v' END || chr(1)
             |      || COALESCE(t2, '') || chr(1)
             |      || CASE WHEN source IS NULL THEN 'n' ELSE 'v' END || chr(1)
             |      || COALESCE(source, '')) AS new_hash
             |  FROM (SELECT doc_id, source,
             |        CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END AS t2
             |        FROM documents
             |        WHERE doc_id % (3 + length(source) % 4) <> 0)),
             |j AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
             |  CASE WHEN o.doc_id IS NULL THEN 'added'
             |       WHEN n.doc_id IS NULL THEN 'removed'
             |       WHEN old_hash = new_hash THEN 'unchanged'
             |       ELSE 'changed' END AS status
             |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id),
             |c AS (SELECT d.source,
             |    CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) n_added,
             |    CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) n_removed,
             |    CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) n_changed
             |  FROM j JOIN documents d ON d.doc_id = j.doc_id
             |  WHERE status <> 'unchanged' GROUP BY 1),
             |b AS (SELECT source, count(*) AS n_old FROM o GROUP BY 1),
             |r AS (SELECT b.source, b.n_old,
             |    COALESCE(c.n_added, 0) n_added, COALESCE(c.n_removed, 0) n_removed,
             |    COALESCE(c.n_changed, 0) n_changed
             |  FROM b LEFT JOIN c USING (source))
             |SELECT source, n_old, n_added, n_removed, n_changed,
             |  round(CAST(n_added + n_removed + n_changed AS DOUBLE) / CAST(n_old AS DOUBLE), 6) AS churn_rate,
             |  CASE WHEN CAST(n_added + n_removed + n_changed AS DOUBLE) / CAST(n_old AS DOUBLE) >= 0.45 THEN 'daily'
             |       WHEN CAST(n_added + n_removed + n_changed AS DOUBLE) / CAST(n_old AS DOUBLE) >= 0.257 THEN 'weekly'
             |       ELSE 'monthly' END AS recrawl
             |FROM r""".stripMargin)
    )),

    // Crawl politeness, full RFC 9309 core: the User-agent: * group
    // carries BOTH Allow and Disallow rules with REP's wildcards, and
    // the verdict is longest-match precedence (most pattern octets,
    // Allow wins ties) — the behavior real sites rely on
    // (Allow: /admin/public under Disallow: /admin). Planted paths
    // exercise: plain prefix block, Allow override of a Disallow
    // prefix, '*' mid-pattern, trailing '$' anchor (blocks .pdf but
    // NOT .pdfx), an Allow that un-blocks a wildcard Disallow, rules
    // scoped to named agents staying inert, and the default-allow
    // fallthrough. The oracle compiles each pattern to the same
    // anchored regex (identical literal-replace escape chain) and
    // picks the winner with a window argmax.
    "q_robots_filter" -> ((
      (s: SparkSession, dir: String) => {
        val robotsText = "User-agent: bot1\nDisallow: /private\n\n" +
          "User-agent: *\nDisallow: /admin\nAllow: /admin/public\n" +
          "Disallow: /tmp/\nDisallow: /*.pdf$\nAllow: /docs/*.pdf$\n" +
          "Disallow: /cgi*bin/\n\n" +
          "User-agent: bot1-news\nDisallow: /news\n\n" +
          "User-agent: bot2\nDisallow: /"
        val robots = lit(robotsText)
        val id = col("doc_id").cast("string")
        val path = when(col("doc_id") % 10 === 0, concat(lit("/admin/p"), id))
          .when(col("doc_id") % 10 === 1, concat(lit("/admin/public/p"), id))
          .when(col("doc_id") % 10 === 2, concat(lit("/tmp/x"), id))
          .when(col("doc_id") % 10 === 3, concat(lit("/private/y"), id))
          .when(col("doc_id") % 10 === 4, concat(lit("/files/f"), id, lit(".pdf")))
          .when(col("doc_id") % 10 === 5, concat(lit("/docs/d"), id, lit(".pdf")))
          .when(col("doc_id") % 10 === 6, concat(lit("/cgi-bin/q"), id))
          .when(col("doc_id") % 10 === 7, concat(lit("/files/f"), id, lit(".pdfx")))
          .when(col("doc_id") % 10 === 8, concat(lit("/news/n"), id))
          .otherwise(concat(lit("/public/z"), id))
        // named-agent group selection (RFC 9309 §2.2.1) alongside the
        // * verdict: Bot1 (case-insensitive exact) ignores the * group
        // entirely; bot1-NewsReader picks bot1-news by LONGEST prefix
        // over bot1, so /private is allowed for it; bot2's total block
        // applies only to bot2. The robots body is ONE literal, so the
        // per-agent group-selection fold runs ONCE driver-side
        // (parseRobotsForAgent — a real 1-row robotsRulesForAgent
        // plan) and the verdicts compile to constant-pattern when-
        // chains; re-parsing a constant config per corpus row cost 6x
        // the whole query. The dynamic column forms stay exercised by
        // `allowed` here and per-site in q_robots_by_domain.
        def agentVerdict(agent: String) = Web.robotsAllowedCompiled(
          col("url_path"), Web.parseRobotsForAgent(s, robotsText, agent))
        Tables.documents(s, dir)
          .select(col("doc_id"), path.as("url_path"))
          .withColumn("allowed",
            Web.robotsAllowed(col("url_path"), Web.robotsRules(robots)))
          .withColumn("allowed_bot1", agentVerdict("Bot1"))
          .withColumn("allowed_news", agentVerdict("bot1-NewsReader"))
          .withColumn("allowed_bot2", agentVerdict("bot2"))
      },
      Some("""WITH r AS (SELECT
             |  'User-agent: bot1' || chr(10) || 'Disallow: /private' || chr(10) || chr(10) ||
             |  'User-agent: *' || chr(10) || 'Disallow: /admin' || chr(10) ||
             |  'Allow: /admin/public' || chr(10) || 'Disallow: /tmp/' || chr(10) ||
             |  'Disallow: /*.pdf$' || chr(10) || 'Allow: /docs/*.pdf$' || chr(10) ||
             |  'Disallow: /cgi*bin/' || chr(10) || chr(10) ||
             |  'User-agent: bot1-news' || chr(10) || 'Disallow: /news' || chr(10) || chr(10) ||
             |  'User-agent: bot2' || chr(10) || 'Disallow: /' AS robots),
             |blk AS (SELECT regexp_extract(robots,
             |  '(?is)user-agent:[ \t]*\*[ \t\r]*\n(.*?)(\nuser-agent:|$)', 1) AS b FROM r),
             |ln AS (SELECT unnest(string_split(b, chr(10))) AS l FROM blk),
             |r0 AS (SELECT
             |  trim(regexp_extract(l, '(?i)^[ \t]*disallow:[ \t]*([^\r\n#]*)', 1)) AS dis,
             |  trim(regexp_extract(l, '(?i)^[ \t]*allow:[ \t]*([^\r\n#]*)', 1)) AS alw FROM ln),
             |rules AS (SELECT CASE WHEN dis <> '' THEN dis ELSE alw END AS pat,
             |  (dis = '') AS allow FROM r0 WHERE dis <> '' OR alw <> ''),
             |rx AS (SELECT pat, allow, CAST(length(pat) AS BIGINT) AS plen,
             |  '^' || replace(
             |    replace(replace(replace(replace(replace(replace(replace(replace(
             |    replace(replace(replace(replace(replace(
             |      CASE WHEN pat LIKE '%$' THEN substr(pat, 1, length(pat) - 1) ELSE pat END,
             |      '\', '\\'), '.', '\.'), '+', '\+'), '?', '\?'), '[', '\['),
             |      ']', '\]'), '(', '\('), ')', '\)'), '^', '\^'), '$', '\$'),
             |      '|', '\|'), '{', '\{'), '}', '\}'),
             |    '*', '.*')
             |  || CASE WHEN pat LIKE '%$' THEN '$' ELSE '' END AS rex
             |  FROM rules),
             |d AS (SELECT doc_id,
             |  CASE CAST(doc_id % 10 AS INTEGER)
             |    WHEN 0 THEN '/admin/p' || CAST(doc_id AS VARCHAR)
             |    WHEN 1 THEN '/admin/public/p' || CAST(doc_id AS VARCHAR)
             |    WHEN 2 THEN '/tmp/x' || CAST(doc_id AS VARCHAR)
             |    WHEN 3 THEN '/private/y' || CAST(doc_id AS VARCHAR)
             |    WHEN 4 THEN '/files/f' || CAST(doc_id AS VARCHAR) || '.pdf'
             |    WHEN 5 THEN '/docs/d' || CAST(doc_id AS VARCHAR) || '.pdf'
             |    WHEN 6 THEN '/cgi-bin/q' || CAST(doc_id AS VARCHAR)
             |    WHEN 7 THEN '/files/f' || CAST(doc_id AS VARCHAR) || '.pdfx'
             |    WHEN 8 THEN '/news/n' || CAST(doc_id AS VARCHAR)
             |    ELSE '/public/z' || CAST(doc_id AS VARCHAR) END AS url_path
             |  FROM documents),
             |m AS (SELECT d.doc_id, d.url_path, rx.plen, rx.allow
             |  FROM d CROSS JOIN rx WHERE regexp_matches(d.url_path, rx.rex)),
             |best AS (SELECT doc_id, allow,
             |  row_number() OVER (PARTITION BY doc_id
             |    ORDER BY plen DESC, allow DESC) AS rn FROM m)
             |SELECT d.doc_id, d.url_path,
             |  coalesce(b.allow, true) AS allowed,
             |  NOT starts_with(d.url_path, '/private') AS allowed_bot1,
             |  NOT starts_with(d.url_path, '/news') AS allowed_news,
             |  NOT starts_with(d.url_path, '/') AS allowed_bot2
             |FROM d LEFT JOIN (SELECT doc_id, allow FROM best WHERE rn = 1) b
             |  USING (doc_id)""".stripMargin)
    )),
    // Per-SITE robots — the deployment shape: every domain publishes
    // its own robots.txt, so rules live in a (domain, robots) table
    // that BROADCASTS against the URL stream, and robotsRules parses a
    // COLUMN (per-row rule sets), not a constant. Each site's rules
    // differ materially: its own /private/<source> disallow, an Allow
    // override under it, and every third site a *.log$ wildcard ban —
    // so the verdict genuinely depends on which site a URL belongs to.
    // The oracle rebuilds the same per-site rule table and replays the
    // longest-match verdict with the regex-compile CTE machinery from
    // q_robots_filter, per (site, rule).
    "q_robots_by_domain" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir)
        val robotsTbl = d.select(col("source")).distinct()
          .withColumn("site_robots", concat(
            lit("User-agent: *\nDisallow: /private/"), col("source"),
            lit("\nAllow: /private/"), col("source"), lit("/ok\n"),
            when(length(col("source")) % 3 === 0,
              lit("Disallow: /*.log$\n")).otherwise(lit("")),
            lit("\nUser-agent: graftbot\nDisallow: /logs/\n")))
        val id = col("doc_id").cast("string")
        val path = when(col("doc_id") % 4 === 0,
            concat(lit("/private/"), col("source"), lit("/x"), id))
          .when(col("doc_id") % 4 === 1,
            concat(lit("/private/"), col("source"), lit("/ok/y"), id))
          .when(col("doc_id") % 4 === 2,
            concat(lit("/logs/run"), id, lit(".log")))
          .otherwise(concat(lit("/public/z"), id))
        // graftbot selects its NAMED per-site group: only /logs/ is
        // blocked for it, and the * group's /private/<site> rules do
        // not apply (named-group override, per site, rules from a
        // COLUMN rather than a constant)
        d.select(col("doc_id"), col("source"), path.as("url_path"))
          .join(broadcast(robotsTbl), "source")
          .withColumn("allowed", Web.robotsAllowed(col("url_path"),
            Web.robotsRules(col("site_robots"))))
          .withColumn("allowed_graftbot", Web.robotsAllowed(col("url_path"),
            Web.robotsRulesForAgent(col("site_robots"), lit("graftbot"))))
          .select(col("doc_id"), col("source"), col("url_path"),
            col("allowed"), col("allowed_graftbot"))
      },
      Some("""WITH sites AS (SELECT DISTINCT source FROM documents),
             |rob AS (SELECT source,
             |  'User-agent: *' || chr(10) || 'Disallow: /private/' || source || chr(10) ||
             |  'Allow: /private/' || source || '/ok' || chr(10) ||
             |  CASE WHEN length(source) % 3 = 0
             |    THEN 'Disallow: /*.log$' || chr(10) ELSE '' END
             |  || chr(10) || 'User-agent: graftbot' || chr(10)
             |  || 'Disallow: /logs/' || chr(10) AS site_robots
             |  FROM sites),
             |ln AS (SELECT source, unnest(string_split(regexp_extract(site_robots,
             |  '(?is)user-agent:[ \t]*\*[ \t\r]*\n(.*?)(\nuser-agent:|$)', 1),
             |  chr(10))) AS l FROM rob),
             |r0 AS (SELECT source,
             |  trim(regexp_extract(l, '(?i)^[ \t]*disallow:[ \t]*([^\r\n#]*)', 1)) AS dis,
             |  trim(regexp_extract(l, '(?i)^[ \t]*allow:[ \t]*([^\r\n#]*)', 1)) AS alw FROM ln),
             |rules AS (SELECT source, CASE WHEN dis <> '' THEN dis ELSE alw END AS pat,
             |  (dis = '') AS allow FROM r0 WHERE dis <> '' OR alw <> ''),
             |rx AS (SELECT source, pat, allow, CAST(length(pat) AS BIGINT) AS plen,
             |  '^' || replace(
             |    replace(replace(replace(replace(replace(replace(replace(replace(
             |    replace(replace(replace(replace(replace(
             |      CASE WHEN pat LIKE '%$' THEN substr(pat, 1, length(pat) - 1) ELSE pat END,
             |      '\', '\\'), '.', '\.'), '+', '\+'), '?', '\?'), '[', '\['),
             |      ']', '\]'), '(', '\('), ')', '\)'), '^', '\^'), '$', '\$'),
             |      '|', '\|'), '{', '\{'), '}', '\}'),
             |    '*', '.*')
             |  || CASE WHEN pat LIKE '%$' THEN '$' ELSE '' END AS rex
             |  FROM rules),
             |d AS (SELECT doc_id, source,
             |  CASE CAST(doc_id % 4 AS INTEGER)
             |    WHEN 0 THEN '/private/' || source || '/x' || CAST(doc_id AS VARCHAR)
             |    WHEN 1 THEN '/private/' || source || '/ok/y' || CAST(doc_id AS VARCHAR)
             |    WHEN 2 THEN '/logs/run' || CAST(doc_id AS VARCHAR) || '.log'
             |    ELSE '/public/z' || CAST(doc_id AS VARCHAR) END AS url_path
             |  FROM documents),
             |m AS (SELECT d.doc_id, rx.plen, rx.allow
             |  FROM d JOIN rx ON rx.source = d.source
             |  WHERE regexp_matches(d.url_path, rx.rex)),
             |best AS (SELECT doc_id, allow,
             |  row_number() OVER (PARTITION BY doc_id
             |    ORDER BY plen DESC, allow DESC) AS rn FROM m)
             |SELECT d.doc_id, d.source, d.url_path,
             |  coalesce(b.allow, true) AS allowed,
             |  NOT starts_with(d.url_path, '/logs/') AS allowed_graftbot
             |FROM d LEFT JOIN (SELECT doc_id, allow FROM best WHERE rn = 1) b
             |  USING (doc_id)""".stripMargin)
    )),

    // The WHOLE web front door composed under ONE oracle: page
    // construction -> main-text extraction -> robots politeness filter
    // (rule mechanism proven in q_robots_filter; here the constant
    // rules replay as their semantic prefix checks) -> token-count
    // quality gate -> per-registrable-domain frequency cap in
    // cap_-salted order. The web analogue of q_mixture_pipeline: every
    // stage already oracle-proven alone, composed end-to-end here.
    "q_web_curation" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir)
        // htmlText numeric-decodes &#NNN; entities but this composed
        // oracle replays only the named-entity set — equivalent ONLY
        // while base text carries no '&#'. The driver regenerates
        // fixtures between rounds, so guard the assumption in-plan
        // (same discipline as q_mojibake_repair's ASCII guard): fail
        // LOUDLY instead of silently red-lining the gate.
        val entityGuard = when(col("text").contains("&#"),
          raise_error(concat(
            lit("q_web_curation oracle omits numeric entity decode; " +
              "'&#' appeared in base documents.text at doc_id="),
            col("doc_id").cast("string")))).otherwise(lit(""))
        val page = concat(lit("<html><head><title>"), col("source"),
          lit("</title><style>p { }</style><script>a(\"<i>\");</script></head><body><h1>"),
          col("source"), lit("</h1><!-- c --><p>"), entityGuard,
          regexp_replace(col("text"), "table", "t&amp;ble"),
          lit("</p></body></html>"))
        val path = when(col("doc_id") % 4 === 0,
            concat(lit("/admin/p"), col("doc_id").cast("string")))
          .when(col("doc_id") % 4 === 1,
            concat(lit("/tmp/x"), col("doc_id").cast("string")))
          .when(col("doc_id") % 4 === 2,
            concat(lit("/private/y"), col("doc_id").cast("string")))
          .otherwise(concat(lit("/public/z"), col("doc_id").cast("string")))
        val robots = lit("User-agent: *\nDisallow: /admin\nDisallow: /tmp/")
        val url = concat(lit("https://www."), col("source"), lit(".co.uk"), path)
        val staged = d.select(col("doc_id"),
            Web.htmlText(page).as("main_text"),
            path.as("url_path"), url.as("url"))
          .filter(!Web.robotsBlocked(col("url_path"), Web.robotsDisallows(robots)))
          .withColumn("n_tokens", TextAnalysis.tokenCount(col("main_text")))
          .filter(col("n_tokens") >= 30)
          .withColumn("domain", Web.registeredDomain(Web.urlHost(col("url"))))
        operators.Sampling.domainCap(staged, "domain", col("doc_id"), cap = 15)
          .select(col("doc_id"), col("domain"), col("n_tokens"))
      },
      Some("""WITH h AS (SELECT doc_id, source,
             |  '<html><head><title>' || source
             |  || '</title><style>p { }</style><script>a("<i>");</script></head><body><h1>'
             |  || source || '</h1><!-- c --><p>'
             |  || regexp_replace(text, 'table', 't&amp;ble', 'g')
             |  || '</p></body></html>' AS html,
             |  CASE CAST(doc_id % 4 AS INTEGER)
             |    WHEN 0 THEN '/admin/p' || CAST(doc_id AS VARCHAR)
             |    WHEN 1 THEN '/tmp/x' || CAST(doc_id AS VARCHAR)
             |    WHEN 2 THEN '/private/y' || CAST(doc_id AS VARCHAR)
             |    ELSE '/public/z' || CAST(doc_id AS VARCHAR) END AS url_path
             |FROM documents),
             |e AS (SELECT doc_id, source, url_path,
             |  trim(regexp_replace(
             |    replace(replace(replace(replace(replace(replace(
             |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
             |        '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
             |        '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
             |        '(?s)<!--.*?-->', ' ', 'g'),
             |        '<[^>]+>', ' ', 'g'),
             |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
             |    '[ \t\r\n]+', ' ', 'g')) AS main_text
             |FROM h),
             |allowed AS (SELECT * FROM e
             |  WHERE NOT (starts_with(url_path, '/admin')
             |          OR starts_with(url_path, '/tmp/'))),
             |gated AS (SELECT doc_id, source || '.co.uk' AS domain,
             |  CAST(len(string_split(main_text, ' ')) AS BIGINT) AS n_tokens
             |  FROM allowed
             |  WHERE CAST(len(string_split(main_text, ' ')) AS BIGINT) >= 30),
             |capped AS (SELECT doc_id, domain, n_tokens FROM (
             |  SELECT *, row_number() OVER (PARTITION BY domain
             |    ORDER BY md5('cap_' || CAST(doc_id AS VARCHAR)),
             |             CAST(doc_id AS VARCHAR)) AS rn
             |  FROM gated) WHERE rn <= 15)
             |SELECT doc_id, domain, n_tokens FROM capped""".stripMargin)
    )),

    // The front door v2 — same composition upgraded with the round-6
    // machinery, end-to-end under ONE oracle: extraction -> FULL
    // RFC 9309 robots verdict (Allow override of a Disallow prefix,
    // '*'+'$' wildcard block, anchor survivor — mechanism proven in
    // q_robots_filter, replayed here as its semantic prefix/suffix
    // checks) -> token gate -> EXACT registrable domain via the pinned
    // PSL snapshot (hosts planted across co.za / com.cn / .com so the
    // heuristic would COLLAPSE all .co.za sources into one cap bucket
    // — the exactness path is what keeps per-registrant budgets
    // honest) -> per-domain cap in cap_-salted order.
    "q_web_curation_exact" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir)
        // same latent-divergence guard as q_web_curation: this
        // composed oracle has no numeric-entity decode step
        val entityGuard = when(col("text").contains("&#"),
          raise_error(concat(
            lit("q_web_curation_exact oracle omits numeric entity " +
              "decode; '&#' appeared in base documents.text at doc_id="),
            col("doc_id").cast("string")))).otherwise(lit(""))
        val page = concat(lit("<html><head><title>"), col("source"),
          lit("</title><script>a(\"<i>\");</script></head><body><h1>"),
          col("source"), lit("</h1><p>"), entityGuard, col("text"),
          lit("</p></body></html>"))
        val id = col("doc_id").cast("string")
        val path = when(col("doc_id") % 5 === 0, concat(lit("/admin/p"), id))
          .when(col("doc_id") % 5 === 1, concat(lit("/admin/public/p"), id))
          .when(col("doc_id") % 5 === 2, concat(lit("/files/f"), id, lit(".pdf")))
          .when(col("doc_id") % 5 === 3, concat(lit("/public/z"), id))
          .otherwise(concat(lit("/docs/d"), id, lit(".pdfx")))
        val host = when(col("doc_id") % 3 === 0,
            concat(lit("www."), col("source"), lit(".co.za")))
          .when(col("doc_id") % 3 === 1,
            concat(lit("cdn."), col("source"), lit(".com.cn")))
          .otherwise(concat(lit("www."), col("source"), lit(".com")))
        val robots = lit("User-agent: *\nDisallow: /admin\n" +
          "Allow: /admin/public\nDisallow: /*.pdf$")
        val staged = d.select(col("doc_id"),
            Web.htmlText(page).as("main_text"),
            path.as("url_path"), host.as("host"))
          .filter(Web.robotsAllowed(col("url_path"), Web.robotsRules(robots)))
          .withColumn("n_tokens", TextAnalysis.tokenCount(col("main_text")))
          .filter(col("n_tokens") >= 30)
        val keyed = Web.registeredDomainExact(staged, "host", "domain")
        operators.Sampling.domainCap(keyed, "domain", col("doc_id"), cap = 4)
          .select(col("doc_id"), col("domain"), col("n_tokens"))
      },
      Some {
        val (exact, wild, exc) = Web.pslRules
        val values = exact.map(sfx => s"('$sfx')").mkString(", ")
        val wildIn = wild.map(t => s"'$t'").mkString(", ")
        val excIn =
          if (exc.isEmpty) "''" else exc.map(e => s"'$e'").mkString(", ")
        s"""WITH psl(suffix) AS (SELECT * FROM (VALUES $values)),
           |h AS (SELECT doc_id, source,
           |  '<html><head><title>' || source
           |  || '</title><script>a("<i>");</script></head><body><h1>'
           |  || source || '</h1><p>' || text || '</p></body></html>' AS html,
           |  CASE CAST(doc_id % 5 AS INTEGER)
           |    WHEN 0 THEN '/admin/p' || CAST(doc_id AS VARCHAR)
           |    WHEN 1 THEN '/admin/public/p' || CAST(doc_id AS VARCHAR)
           |    WHEN 2 THEN '/files/f' || CAST(doc_id AS VARCHAR) || '.pdf'
           |    WHEN 3 THEN '/public/z' || CAST(doc_id AS VARCHAR)
           |    ELSE '/docs/d' || CAST(doc_id AS VARCHAR) || '.pdfx' END AS url_path,
           |  CASE CAST(doc_id % 3 AS INTEGER)
           |    WHEN 0 THEN 'www.' || source || '.co.za'
           |    WHEN 1 THEN 'cdn.' || source || '.com.cn'
           |    ELSE 'www.' || source || '.com' END AS host
           |FROM documents),
           |e AS (SELECT doc_id, url_path, host,
           |  trim(regexp_replace(
           |    replace(replace(replace(replace(replace(replace(
           |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
           |        '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g'),
           |        '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g'),
           |        '(?s)<!--.*?-->', ' ', 'g'),
           |        '<[^>]+>', ' ', 'g'),
           |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
           |    '[ \\t\\r\\n]+', ' ', 'g')) AS main_text
           |FROM h),
           |allowed AS (SELECT * FROM e
           |  WHERE NOT (starts_with(url_path, '/admin')
           |             AND NOT starts_with(url_path, '/admin/public'))
           |    AND NOT (url_path LIKE '%.pdf')),
           |gated AS (SELECT doc_id, host,
           |  CAST(len(string_split(main_text, ' ')) AS BIGINT) AS n_tokens
           |  FROM allowed
           |  WHERE CAST(len(string_split(main_text, ' ')) AS BIGINT) >= 30),
           |keyed AS (SELECT doc_id, n_tokens,
           |  CASE WHEN t2 IN (SELECT suffix FROM psl)
           |         OR (tld IN ($wildIn) AND t2 NOT IN ($excIn)
           |             AND contains(t2, '.'))
           |       THEN t3 ELSE t2 END AS domain
           |  FROM (SELECT doc_id, n_tokens,
           |    regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS t2,
           |    regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+)$$', 1) AS t3,
           |    regexp_extract(host, '([^.]+)$$', 1) AS tld FROM gated)),
           |capped AS (SELECT doc_id, domain, n_tokens FROM (
           |  SELECT *, row_number() OVER (PARTITION BY domain
           |    ORDER BY md5('cap_' || CAST(doc_id AS VARCHAR)),
           |             CAST(doc_id AS VARCHAR)) AS rn
           |  FROM keyed) WHERE rn <= 4)
           |SELECT doc_id, domain, n_tokens FROM capped""".stripMargin
      }
    )),

    // Multi-pattern blocklist gate (the C4 "bad words" filter): an
    // Aho-Corasick automaton counts ALL dictionary occurrences in one
    // pass per document — overlapping matches ('aba' twice in the
    // planted "ababa") and suffix patterns ('he' firing inside 'she',
    // and inside every 'the' of the base text) included, so the count
    // is the sum over patterns of all substring positions. The oracle
    // replays exactly that definition as an all-positions substring
    // scan per pattern — O(chars·patterns), fine at oracle SF; the
    // automaton's O(chars) single pass is the 100 TB path. Both the
    // count and the keep verdict are hash-checked.
    "q_blocklist" -> ((
      (s: SparkSession, dir: String) => {
        val injected = concat(col("text"),
          when(col("doc_id") % 4 === 0, lit(" lorem ipsum dolor sit"))
            .when(col("doc_id") % 4 === 1, lit(" click here now ababa"))
            .when(col("doc_id") % 4 === 2, lit(" she said nothing"))
            .otherwise(lit(" clean tail")))
        Tables.documents(s, dir)
          .select(col("doc_id"),
            graft.plans.BlocklistExpressions
              .blocklist_hits(injected, BlocklistDict).as("n_hits"))
          .withColumn("kept", col("n_hits") === 0)
      },
      Some {
        val counts = BlocklistDict.map { p =>
          val l = p.length
          s"CAST(len([i for i in range(greatest(length(t) - $l + 1, 0)) " +
            s"if substr(t, i + 1, $l) = '$p']) AS BIGINT)"
        }.mkString(" + ")
        s"""WITH d AS (SELECT doc_id, text ||
           |  CASE CAST(doc_id % 4 AS INTEGER)
           |    WHEN 0 THEN ' lorem ipsum dolor sit'
           |    WHEN 1 THEN ' click here now ababa'
           |    WHEN 2 THEN ' she said nothing'
           |    ELSE ' clean tail' END AS t FROM documents)
           |SELECT doc_id, $counts AS n_hits,
           |  ($counts) = 0 AS kept
           |FROM d""".stripMargin
      }
    )),

    // Gopher-style quality rules (Rae et al. 2021): the page-layout
    // decoration (lines/bullets/ellipses — see
    // TextAnalysis.decoratePage) is replayed identically in both
    // engines, then every signal is an exact-integer count or a single
    // long/long division, and the composite verdict compares those
    // exact divisions to literal thresholds — so even the boolean
    // column is hash-checkable. Thresholds were picked to be
    // discriminative on the fixture (~40% of docs pass).
    "q_gopher_rules" -> ((
      (s: SparkSession, dir: String) =>
        // the gate itself stays ONE map pass; the spread only unlocks
        // cores on unsplittable small fixtures (no-op at scale — the
        // PlanSpec zero-exchange pin is asserted with spread disabled)
        graft.core.Par.spreadForCpu(Tables.documents(s, dir), col("doc_id"))
          .select(col("doc_id"),
            TextAnalysis.gopherSignals(
              TextAnalysis.decoratePage(col("text"), col("doc_id"))).as("g"))
          .select(col("doc_id"), col("g.n_words").as("n_words"),
            col("g.mean_word_len").as("mean_word_len"),
            col("g.frac_alpha_words").as("frac_alpha_words"),
            col("g.n_stopword_hits").as("n_stopword_hits"),
            col("g.n_lines").as("n_lines"),
            col("g.frac_bullet_lines").as("frac_bullet_lines"),
            col("g.frac_ellipsis_lines").as("frac_ellipsis_lines"),
            col("g.passes").as("passes")),
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
             |l AS (SELECT doc_id, [
             |  CASE WHEN (doc_id + i) % 5 = 0 THEN '- ' || array_to_string(ws[i*8+1 : i*8+8], ' ')
             |       WHEN (doc_id + i) % 7 = 3 THEN array_to_string(ws[i*8+1 : i*8+8], ' ') || '...'
             |       ELSE array_to_string(ws[i*8+1 : i*8+8], ' ') || '.' END
             |  for i in range(0, CAST(floor((len(ws)-1)/8) AS INTEGER) + 1)] lines FROM w),
             |p AS (SELECT doc_id, lines,
             |  string_split_regex(array_to_string(lines, chr(10)), '[ \n]') wd FROM l),
             |c AS (SELECT doc_id,
             |  CAST(len(wd) AS BIGINT) n_words,
             |  CAST(list_sum([length(x) for x in wd]) AS BIGINT) sum_wl,
             |  CAST(len([x for x in wd if regexp_matches(x, '[a-zA-Z]')]) AS BIGINT) n_alpha_w,
             |  CAST(len([x for x in wd if x IN ('the','a','of','and','is','to','in',
             |    'el','la','de','y','que','en','los','der','die','das','und','ist',
             |    'von','mit','le','et','les','des','un')]) AS BIGINT) n_stopword_hits,
             |  CAST(len(lines) AS BIGINT) n_lines,
             |  CAST(len([x for x in lines if x LIKE '- %']) AS BIGINT) n_bullet,
             |  CAST(len([x for x in lines if x LIKE '%...']) AS BIGINT) n_ellip
             |FROM p)
             |SELECT doc_id, n_words,
             |  CAST(sum_wl AS DOUBLE) / CAST(n_words AS DOUBLE) AS mean_word_len,
             |  CAST(n_alpha_w AS DOUBLE) / CAST(n_words AS DOUBLE) AS frac_alpha_words,
             |  n_stopword_hits, n_lines,
             |  CAST(n_bullet AS DOUBLE) / CAST(n_lines AS DOUBLE) AS frac_bullet_lines,
             |  CAST(n_ellip AS DOUBLE) / CAST(n_lines AS DOUBLE) AS frac_ellipsis_lines,
             |  (n_words >= 25
             |   AND CAST(sum_wl AS DOUBLE) / CAST(n_words AS DOUBLE) >= 3.0
             |   AND CAST(sum_wl AS DOUBLE) / CAST(n_words AS DOUBLE) <= 4.7
             |   AND CAST(n_alpha_w AS DOUBLE) / CAST(n_words AS DOUBLE) >= 0.75
             |   AND n_stopword_hits >= 2
             |   AND CAST(n_bullet AS DOUBLE) / CAST(n_lines AS DOUBLE) <= 0.25
             |   AND CAST(n_ellip AS DOUBLE) / CAST(n_lines AS DOUBLE) <= 0.2) AS passes
             |FROM c""".stripMargin)
    )),

    // C4 line-level cleaning (Raffel et al. 2020 §2.2): same decorated
    // page, then keep lines ending in terminal punctuation with >= 5
    // words; the whole doc is dropped when < 3 lines survive or a
    // blocklist marker appears ('lorem ipsum' / '{' — injected into a
    // deterministic sliver of docs so the markers actually fire).
    // Bullet lines carry no terminal '.', so the two rule families
    // interact the way they do on real crawl text.
    "q_c4_filter" -> ((
      (s: SparkSession, dir: String) => {
        val page = TextAnalysis.decoratePage(col("text"), col("doc_id"))
        val injected =
          when(col("doc_id") % 97 === 13,
            concat(page, lit("\nlorem ipsum dolor sit amet.")))
          .when(col("doc_id") % 89 === 7,
            concat(page, lit("\nvar x = { a: 1 };")))
          .otherwise(page)
        Tables.documents(s, dir)
          .select(col("doc_id"), TextAnalysis.c4Clean(injected).as("c"))
          .select(col("doc_id"), col("c.n_lines").as("n_lines"),
            col("c.n_lines_kept").as("n_lines_kept"),
            col("c.doc_kept").as("doc_kept"),
            col("c.clean").as("clean"))
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
             |l AS (SELECT doc_id, [
             |  CASE WHEN (doc_id + i) % 5 = 0 THEN '- ' || array_to_string(ws[i*8+1 : i*8+8], ' ')
             |       WHEN (doc_id + i) % 7 = 3 THEN array_to_string(ws[i*8+1 : i*8+8], ' ') || '...'
             |       ELSE array_to_string(ws[i*8+1 : i*8+8], ' ') || '.' END
             |  for i in range(0, CAST(floor((len(ws)-1)/8) AS INTEGER) + 1)] lines FROM w),
             |inj AS (SELECT doc_id, CASE
             |  WHEN doc_id % 97 = 13 THEN array_to_string(lines, chr(10)) || chr(10) || 'lorem ipsum dolor sit amet.'
             |  WHEN doc_id % 89 = 7 THEN array_to_string(lines, chr(10)) || chr(10) || 'var x = { a: 1 };'
             |  ELSE array_to_string(lines, chr(10)) END page FROM l),
             |s AS (SELECT doc_id, page, string_split(page, chr(10)) lines,
             |  [x for x in string_split(page, chr(10))
             |   if regexp_matches(x, '[.!?"]$') AND len(string_split(x, ' ')) >= 5] kept
             |FROM inj)
             |SELECT doc_id,
             |  CAST(len(lines) AS BIGINT) AS n_lines,
             |  CAST(len(kept) AS BIGINT) AS n_lines_kept,
             |  (len(kept) >= 3 AND NOT contains(page, 'lorem ipsum')
             |   AND NOT contains(page, '{')) AS doc_kept,
             |  coalesce(array_to_string(kept, chr(10)), '') AS clean
             |FROM s""".stripMargin)
    )),

    // Unicode NFC normalization (corpus hygiene: composed vs decomposed
    // forms of the same grapheme defeat exact dedup/shingling/stopword
    // matches; normalizing at ingest makes byte equality mean grapheme
    // equality). A third of docs get DECOMPOSED suffixes (base letter +
    // combining mark), a third the precomposed equivalents, a third
    // nothing — after NFC the first two thirds converge to identical
    // bytes, which the hash compare proves. Both engines implement
    // Unicode TR-15 NFC (JDK Normalizer vs DuckDB's utf8proc), so
    // byte-level agreement is a real cross-implementation check, not a
    // mirrored formula. Spark side is a native codegen'd kernel with an
    // isNormalized fast path — mostly-ASCII corpora pay ~nothing.
    "q_unicode_normalize" -> ((
      (s: SparkSession, dir: String) => {
        // combining marks spelled as escapes (NEVER paste rendered
        // text here: an editor could silently re-compose it and both
        // branches would become identical)
        val decomposed = lit(" cafe\u0301 nin\u0303o A\u030Angstro\u0308m")
        val precomposed = lit(" caf\u00e9 ni\u00f1o \u00c5ngstr\u00f6m")
        val raw = concat(col("text"),
          when(pmod(col("doc_id"), lit(3L)) === 0, decomposed)
            .when(pmod(col("doc_id"), lit(3L)) === 1, precomposed)
            .otherwise(lit("")))
        Tables.documents(s, dir)
          .select(col("doc_id"),
            length(raw).cast("long").as("raw_len"),
            graft.plans.UnicodeExpressions.nfc_normalize(raw).as("nfc_text"))
          .withColumn("nfc_len", length(col("nfc_text")).cast("long"))
      },
      Some("""WITH d AS (SELECT doc_id, text ||
             |  CASE WHEN doc_id % 3 = 0 THEN ' cafe' || chr(769) || ' nin' || chr(771) || 'o A' || chr(778) || 'ngstro' || chr(776) || 'm'
             |       WHEN doc_id % 3 = 1 THEN ' caf' || chr(233) || ' ni' || chr(241) || 'o ' || chr(197) || 'ngstr' || chr(246) || 'm'
             |       ELSE '' END AS raw FROM documents)
             |SELECT doc_id, CAST(length(raw) AS BIGINT) AS raw_len,
             |  nfc_normalize(raw) AS nfc_text,
             |  CAST(length(nfc_normalize(raw)) AS BIGINT) AS nfc_len
             |FROM d""".stripMargin)
    )),

    // BPE tokenizer TRAINING on-cluster (Sennrich et al. 2016): the
    // corpus is aggregated ONCE to word frequencies (vocabulary is
    // Heaps'-law sublinear), then each merge round runs over the vocab
    // table only — pair-count shuffle, top-1 TakeOrderedAndProject,
    // map-side replace. Ties break (count DESC, pair ASC) in binary
    // string order, so the merge table is deterministic and the oracle
    // replays all three rounds as unrolled CTEs.
    "q_bpe_train" -> ((
      (s: SparkSession, dir: String) =>
        operators.Bpe.trainMerges(Tables.documents(s, dir), "text", rounds = 3),
      Some {
        def round(i: Int) =
          s"""p$i AS (SELECT pair, CAST(sum(cnt) AS BIGINT) c FROM (
             |  SELECT cnt, unnest([ss[i] || ' ' || ss[i+1] for i in range(1, len(ss))]) AS pair
             |  FROM (SELECT cnt, string_split(sym, ' ') ss FROM s${i - 1})) GROUP BY 1),
             |m$i AS (SELECT pair, replace(pair, ' ', '') merged, c FROM p$i
             |  ORDER BY c DESC, pair ASC LIMIT 1),
             |s$i AS (SELECT cnt, replace(sym, (SELECT pair FROM m$i),
             |  (SELECT merged FROM m$i)) sym FROM s${i - 1})""".stripMargin
        s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) w FROM documents),
           |wf AS (SELECT w, count(*) AS cnt FROM toks GROUP BY 1),
           |s0 AS (SELECT cnt, trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS sym FROM wf),
           |${round(1)},
           |${round(2)},
           |${round(3)}
           |SELECT 1 AS round, pair, merged, c AS n FROM m1
           |UNION ALL SELECT 2, pair, merged, c FROM m2
           |UNION ALL SELECT 3, pair, merged, c FROM m3""".stripMargin
      }
    )),

    // The apply side: train the 3 merges, then re-tokenize every doc
    // with them in ONE zero-shuffle map pass (transform+aggregate over
    // the word array — no explode, no groupBy) and count BPE tokens
    // per doc. End-to-end train→apply composition under one oracle.
    "q_bpe_apply" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir)
        val merges = operators.Bpe.trainMerges(d, "text", rounds = 3)
          .orderBy("round").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        operators.Bpe.applyMerges(d, "text", "doc_id", merges)
      },
      Some {
        def round(i: Int) =
          s"""p$i AS (SELECT pair, CAST(sum(cnt) AS BIGINT) c FROM (
             |  SELECT cnt, unnest([ss[i] || ' ' || ss[i+1] for i in range(1, len(ss))]) AS pair
             |  FROM (SELECT cnt, string_split(sym, ' ') ss FROM s${i - 1})) GROUP BY 1),
             |m$i AS (SELECT pair, replace(pair, ' ', '') merged, c FROM p$i
             |  ORDER BY c DESC, pair ASC LIMIT 1),
             |s$i AS (SELECT cnt, replace(sym, (SELECT pair FROM m$i),
             |  (SELECT merged FROM m$i)) sym FROM s${i - 1})""".stripMargin
        s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) w FROM documents),
           |wf AS (SELECT w, count(*) AS cnt FROM toks GROUP BY 1),
           |s0 AS (SELECT cnt, trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS sym FROM wf),
           |${round(1)},
           |${round(2)},
           |${round(3)},
           |docw AS (SELECT doc_id, unnest(string_split(text, ' ')) w FROM documents),
           |dsym AS (SELECT doc_id, trim(regexp_replace(w, '(.)', '\\1 ', 'g')) sym FROM docw),
           |fin AS (SELECT doc_id,
           |  replace(replace(replace(sym,
           |    (SELECT pair FROM m1), (SELECT merged FROM m1)),
           |    (SELECT pair FROM m2), (SELECT merged FROM m2)),
           |    (SELECT pair FROM m3), (SELECT merged FROM m3)) fs FROM dsym)
           |SELECT doc_id, CAST(sum(len(string_split(fs, ' '))) AS BIGINT) AS n_bpe_tokens
           |FROM fin GROUP BY 1""".stripMargin
      }
    )),

    // WordPiece ENCODE — the OTHER subword family (BERT's greedy
    // longest-prefix-match, vs BPE's bottom-up merges), end-to-end:
    // frequency-ranked vocab built from the corpus (all chars in both
    // forms + top-25 pieces by (count, piece)), then every word walks
    // the greedy automaton. The Spark side is a zero-shuffle left
    // fold over character positions; the oracle replays the SAME
    // algorithm through an INDEPENDENT formulation — a per-(word,
    // position) max-match table followed by 16 materialized join
    // rounds over DISTINCT words — so agreement checks the algorithm,
    // not a shared implementation. The planted 27-char word exercises
    // the EXPLICIT maxWordLen→[UNK] contract (BERT's
    // max_input_chars_per_word); full charset coverage makes that the
    // ONLY [UNK] path, by construction. Token sequences pin as
    // canonical joined strings (the q_bpe_encode scalar-compare
    // discipline).
    "q_wordpiece_encode" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir).select(col("doc_id"),
          concat(col("text"), lit(" thisisaverylongplantedword"))
            .as("text"))
        val vocab = operators.WordPiece.buildVocab(d, "text", topK = 25)
        operators.WordPiece.encode(d, "doc_id", "text", vocab)
          .select(col("doc_id"),
            array_join(col("wp_tokens"), " ").as("wp_seq"), col("n_wp"))
      },
      Some {
        val rounds = (1 to 16).map { r =>
          s"""r$r AS MATERIALIZED (SELECT r.w, r.pos + m.ml AS pos,
             |    CASE WHEN r.pos = 0 THEN substr(r.w, 1, m.ml)
             |         ELSE '##' || substr(r.w, r.pos + 1, m.ml) END AS tok
             |  FROM r${r - 1} r JOIN m ON m.w = r.w AND m.s = r.pos)""".stripMargin
        }.mkString(",\n")
        val emits = (1 to 16).map(r =>
          s"SELECT w, $r AS rnd, tok FROM r$r").mkString("\nUNION ALL ")
        s"""WITH d AS (SELECT doc_id,
           |    text || ' thisisaverylongplantedword' AS text FROM documents),
           |wt0 AS (SELECT doc_id,
           |    list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM d),
           |wtok AS (SELECT doc_id,
           |    unnest([{'w': ws[i+1], 'i': i} for i in range(len(ws))],
           |      recursive := true) FROM wt0),
           |cs AS (SELECT w FROM wtok WHERE length(w) <= 16),
           |chars0 AS (SELECT DISTINCT
           |    unnest([w[i+1] for i in range(len(w))]) AS c FROM cs),
           |sl AS (SELECT w, s, l FROM
           |    (SELECT w, unnest([i for i in range(len(w))]) AS s FROM cs)
           |  CROSS JOIN (VALUES (2), (3), (4)) lv(l)
           |  WHERE s + l <= len(w)),
           |top AS (SELECT p FROM (
           |    SELECT CASE WHEN s = 0 THEN substr(w, 1, l)
           |      ELSE '##' || substr(w, s + 1, l) END AS p,
           |      count(*) AS cnt
           |    FROM sl GROUP BY 1) ORDER BY cnt DESC, p LIMIT 25),
           |vocab AS (SELECT c AS piece FROM chars0
           |  UNION SELECT '##' || c FROM chars0
           |  UNION SELECT p FROM top),
           |wd AS (SELECT DISTINCT w FROM wtok WHERE length(w) <= 16),
           |cand AS (SELECT w, s, l FROM
           |    (SELECT w, unnest([i for i in range(len(w))]) AS s FROM wd)
           |  CROSS JOIN (VALUES (1), (2), (3), (4)) lv(l)
           |  WHERE s + l <= len(w)
           |    AND (CASE WHEN s = 0 THEN substr(w, 1, l)
           |      ELSE '##' || substr(w, s + 1, l) END)
           |      IN (SELECT piece FROM vocab)),
           |m AS MATERIALIZED (SELECT w, s, max(l) AS ml
           |  FROM cand GROUP BY 1, 2),
           |r0 AS MATERIALIZED (SELECT w, 0 AS pos FROM wd),
           |$rounds,
           |emits AS ($emits),
           |enc AS (SELECT w, list(tok ORDER BY rnd) AS toks
           |  FROM emits GROUP BY 1
           |  UNION ALL SELECT DISTINCT w, ['[UNK]'] FROM wtok
           |  WHERE length(w) > 16),
           |dd AS (SELECT t.doc_id,
           |    flatten(list(e.toks ORDER BY t.i)) AS wp_tokens
           |  FROM wtok t JOIN enc e USING (w) GROUP BY 1)
           |SELECT doc_id, array_to_string(wp_tokens, ' ') AS wp_seq,
           |  CAST(len(wp_tokens) AS BIGINT) AS n_wp
           |FROM dd""".stripMargin
      }
    )),

    // Unigram-LM SEGMENTATION (SentencePiece, Kudo 2018) — the THIRD
    // subword family: Viterbi finds the GLOBALLY cheapest segmentation
    // per word under round-9-at-birth ln costs, unlike WordPiece's
    // greedy walk. The Spark side is a zero-shuffle DP fold; the
    // oracle replays the DP through an INDEPENDENT relational
    // formulation — one materialized CTE per character position
    // (argmin by ORDER BY cost, l DESC: exact ties take the LONGEST
    // last piece, the named rule) plus a 16-round backtrack chain.
    // Same planted-word [UNK] length contract as q_wordpiece_encode;
    // per-doc cost folds in word order (the grpo discipline).
    "q_unigram_segment" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir).select(col("doc_id"),
          concat(col("text"), lit(" thisisaverylongplantedword"))
            .as("text"))
        val vocab = operators.Unigram.buildVocab(d, "text", topK = 25)
        operators.Unigram.encode(d, "doc_id", "text", vocab)
          .select(col("doc_id"),
            array_join(col("us_tokens"), " ").as("us_seq"),
            col("n_us"), col("cost"))
      },
      Some {
        val dpRounds = (1 to 16).map { k =>
          val branches = (1 to math.min(4, k)).map { l =>
            val prev = if (k - l == 0) "0.0" else s"b${k - l}.cost"
            val joinPrev =
              if (k - l == 0) "" else s" JOIN b${k - l} ON b${k - l}.w = wd.w"
            s"""SELECT wd.w, $prev + v.cost AS cost, $l AS l
               |    FROM wd JOIN v ON v.piece = substr(wd.w, ${k - l + 1}, $l)$joinPrev
               |    WHERE len(wd.w) >= $k""".stripMargin
          }.mkString("\n    UNION ALL ")
          s"""b$k AS MATERIALIZED (SELECT w, $k AS j, cost, l FROM (
             |  SELECT w, cost, l,
             |    row_number() OVER (PARTITION BY w ORDER BY cost, l DESC) rn
             |  FROM ($branches)) WHERE rn = 1)""".stripMargin
        }.mkString(",\n")
        val ballUnion = (1 to 16).map(k => s"SELECT * FROM b$k")
          .mkString(" UNION ALL ")
        val btRounds = (1 to 16).map { k =>
          s"""s$k AS MATERIALIZED (SELECT s.w,
             |    CASE WHEN s.j > 0 THEN s.j - b.l ELSE s.j END AS j,
             |    CASE WHEN s.j > 0
             |      THEN list_append(s.rev, substr(s.w, s.j - b.l + 1, b.l))
             |      ELSE s.rev END AS rev
             |  FROM s${k - 1} s LEFT JOIN ball b ON b.w = s.w AND b.j = s.j)""".stripMargin
        }.mkString(",\n")
        s"""WITH d AS (SELECT doc_id,
           |    text || ' thisisaverylongplantedword' AS text FROM documents),
           |wt0 AS (SELECT doc_id,
           |    list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM d),
           |wtok AS (SELECT doc_id,
           |    unnest([{'w': ws[i+1], 'i': i} for i in range(len(ws))],
           |      recursive := true) FROM wt0),
           |cs AS (SELECT w FROM wtok WHERE length(w) <= 16),
           |cnts AS (SELECT p, CAST(count(*) AS BIGINT) AS cnt FROM (
           |    SELECT substr(w, s + 1, l) AS p FROM
           |      (SELECT w, unnest([i for i in range(len(w))]) AS s FROM cs)
           |    CROSS JOIN (VALUES (1), (2), (3), (4)) lv(l)
           |    WHERE s + l <= len(w)) GROUP BY 1),
           |sel AS (SELECT p, cnt FROM cnts WHERE length(p) = 1
           |  UNION ALL SELECT p, cnt FROM (
           |    SELECT p, cnt FROM cnts WHERE length(p) >= 2
           |    ORDER BY cnt DESC, p LIMIT 25)),
           |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM sel),
           |v AS MATERIALIZED (SELECT p AS piece,
           |    round(ln(CAST(total AS DOUBLE) / cnt), 9) AS cost
           |  FROM sel CROSS JOIN tot),
           |wd AS (SELECT DISTINCT w FROM wtok WHERE length(w) <= 16),
           |$dpRounds,
           |ball AS ($ballUnion),
           |s0 AS (SELECT w, len(w) AS j, CAST([] AS VARCHAR[]) AS rev FROM wd),
           |$btRounds,
           |enc AS (SELECT w, list_reverse(rev) AS toks FROM s16
           |  UNION ALL SELECT DISTINCT w, ['[UNK]'] FROM wtok
           |  WHERE length(w) > 16),
           |wcost AS (SELECT b.w, b.cost FROM ball b
           |    JOIN (SELECT w, len(w) AS n FROM wd) x
           |    ON b.w = x.w AND b.j = x.n
           |  UNION ALL SELECT DISTINCT w, 0.0 FROM wtok
           |  WHERE length(w) > 16),
           |dd AS (SELECT t.doc_id,
           |    flatten(list(e.toks ORDER BY t.i)) AS us_tokens,
           |    list_reduce(list(c.cost ORDER BY t.i),
           |      (a, b) -> a + b) AS cost_raw
           |  FROM wtok t JOIN enc e USING (w) JOIN wcost c USING (w)
           |  GROUP BY 1)
           |SELECT doc_id, array_to_string(us_tokens, ' ') AS us_seq,
           |  CAST(len(us_tokens) AS BIGINT) AS n_us,
           |  round(cost_raw, 6) AS cost
           |FROM dd""".stripMargin
      }
    )),

    // BPE ENCODE — the dataloader-facing end of the tokenizer: train
    // the merges, derive the vocab (corpus alphabet in binary order +
    // one id per merge, first-wins on composed collisions), then emit
    // each doc's ACTUAL token id sequence (Bpe.encode returns
    // array<bigint>; the oracle projection pins the sequence as a
    // canonical CSV string — every id in order, hash-exact — because
    // the driver compare is only proven on scalar columns). n_oov
    // counts NULL ids (symbols missing from the vocab): hash-checked
    // to 0, so a silent vocab hole can't hide in the join. The encode
    // plan is a zero-shuffle map pass: merges and the vocab map are
    // literals (bounded model state).
    // Non-ASCII hardening: a quarter of docs get precomposed accents,
    // a quarter CJK, a quarter ASTRAL emoji (UTF-16 surrogate pairs in
    // the JVM — the exact case where a code-unit character split would
    // fabricate lone-surrogate "alphabet" entries no other engine has).
    // Vocab ids must stay engine-deterministic (code-point order) and
    // n_oov must stay hash-checked 0 across all four corpus slices.
    "q_bpe_encode" -> ((
      (s: SparkSession, dir: String) => {
        // raw UTF-8 literals are safe: build.sbt pins -encoding UTF-8
        // (the container has no LANG, so the platform charset isn't)
        val d = Tables.documents(s, dir).withColumn("text", concat(col("text"),
          when(pmod(col("doc_id"), lit(4L)) === 0,
            lit(" café naïve"))
            .when(pmod(col("doc_id"), lit(4L)) === 1,
              lit(" 日本語 モデル"))
            .when(pmod(col("doc_id"), lit(4L)) === 2,
              lit(" 😀😀 🚀"))
            .otherwise(lit(""))))
        // merges + vocab from ONE corpus word pass (round 17) —
        // byte-identical to the trainMerges-then-vocab sequence
        val (merges, vocab) = operators.Bpe.trainAndVocab(d, "text", rounds = 3)
        operators.Bpe.encode(d, "text", "doc_id", merges, vocab)
          .select(col("doc_id"),
            array_join(col("bpe_ids"), ",").as("bpe_ids_csv"),
            col("n_bpe"),
            size(filter(col("bpe_ids"), _.isNull)).cast("long").as("n_oov"))
      },
      Some(bpeEncodeOracleCtes(preCtes =
        """docs_nonascii AS (SELECT doc_id, text ||
          |  CASE WHEN doc_id % 4 = 0 THEN ' café naïve'
          |       WHEN doc_id % 4 = 1 THEN ' 日本語 モデル'
          |       WHEN doc_id % 4 = 2 THEN ' 😀😀 🚀'
          |       ELSE '' END AS text FROM documents),
          |""".stripMargin, src = "docs_nonascii") + "\n" +
        """SELECT doc_id, array_to_string(bpe_ids, ',') AS bpe_ids_csv,
          |  CAST(len(bpe_ids) AS BIGINT) AS n_bpe,
          |  CAST(len([x for x in bpe_ids if x IS NULL]) AS BIGINT) AS n_oov
          |FROM enc""".stripMargin)
    )),

    // HELD-OUT text through the frozen tokenizer with GPT-2-style BYTE
    // FALLBACK: train on the base corpus (24-letter alphabet), then
    // encode docs carrying a suffix of code points the tokenizer NEVER
    // saw (z, ü, digits, °, an astral emoji, x — none are in the
    // fixture charset). Plain encode would emit NULL ids for every one
    // of them; encodeFallback expands each unseen symbol to its UTF-8
    // bytes in the reserved id range [max vocab id + 1, +256). The
    // oracle replays the byte arithmetic via hex pairs, so the full id
    // sequence — in-vocab ids AND fallback bytes — is hash-exact, with
    // n_oov pinned 0 BY CONSTRUCTION and n_fallback pinned to the
    // suffix's exact UTF-8 byte count. This is the decontamination/
    // eval-set regime: the paths that encode text the tokenizer never
    // trained on.
    "q_bpe_holdout" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir)
        // merges + vocab from ONE corpus word pass (round 17) —
        // byte-identical to the trainMerges-then-vocab sequence
        val (merges, vocab) = operators.Bpe.trainAndVocab(d, "text", rounds = 3)
        val hold = d.filter(col("doc_id") < 40)
          .select(col("doc_id"),
            concat(col("text"), lit(" zürich 99° 🚀x")).as("text"))
        operators.Bpe.encodeFallback(hold, "text", "doc_id", merges, vocab)
          .select(col("doc_id"),
            array_join(col("bpe_ids"), ",").as("bpe_ids_csv"),
            col("n_bpe"),
            size(filter(col("bpe_ids"), _.isNull)).cast("long").as("n_oov"),
            col("n_fallback"))
      },
      Some(bpeEncodeOracleCtes(preCtes =
        """holdout AS (SELECT doc_id, text || ' zürich 99° 🚀x' AS text
          |  FROM documents WHERE doc_id < 40),
          |""".stripMargin,
        src = "documents", encSrc = "holdout", fallback = true) + "\n" +
        """SELECT doc_id, array_to_string(bpe_ids, ',') AS bpe_ids_csv,
          |  CAST(len(bpe_ids) AS BIGINT) AS n_bpe,
          |  CAST(len([x for x in bpe_ids if x IS NULL]) AS BIGINT) AS n_oov,
          |  CAST(len([x for x in bpe_ids if x >= v]) AS BIGINT) AS n_fallback
          |FROM enc, vs""".stripMargin)
    )),

    // Sequence packing over REAL BPE token ids: encode → sharded
    // contiguous-fill context windows over n_bpe → slice each window's
    // actual id segment out of the doc's array (the bpe_ids array
    // rides through the pack explode via carryCols — no join back to
    // the encode subtree). Output is exactly what a pretraining
    // dataloader consumes: (shard, window, doc, [seg_start, seg_end),
    // token ids), windows tiling each shard at 256 tokens.
    "q_pack_bpe" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir)
        // merges + vocab from ONE corpus word pass (round 17) —
        // byte-identical to the trainMerges-then-vocab sequence
        val (merges, vocab) = operators.Bpe.trainAndVocab(d, "text", rounds = 3)
        val enc = operators.Bpe.encode(d, "text", "doc_id", merges, vocab)
        operators.Packing.contextWindows(enc, "doc_id", "n_bpe",
            budget = 256, shards = 8, carryCols = Seq("bpe_ids"))
          .select(col("shard"), col("window_id"), col("doc_id"),
            col("seg_start"), col("seg_end"),
            array_join(slice(col("bpe_ids"), (col("seg_start") + 1).cast("int"),
              (col("seg_end") - col("seg_start")).cast("int")), ",")
              .as("seg_ids_csv"))
      },
      Some(BpeEncodeOracleCtes + ",\n" +
        """t AS (SELECT doc_id, bpe_ids, CAST(len(bpe_ids) AS BIGINT) n_tok,
          |  CAST('0x' || substr(md5('pack_' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 8 AS shard
          |  FROM enc),
          |c AS (SELECT doc_id, bpe_ids, shard, n_tok,
          |  CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
          |    ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tok AS so
          |  FROM t WHERE n_tok > 0),
          |seg AS (SELECT shard, doc_id, bpe_ids, n_tok, so,
          |  unnest(generate_series(CAST(floor(so / 256.0) AS BIGINT),
          |    CAST(floor((so + n_tok - 1) / 256.0) AS BIGINT))) AS window_id
          |  FROM c)
          |SELECT shard, window_id, doc_id,
          |  greatest(window_id * 256 - so, 0) AS seg_start,
          |  least(n_tok, (window_id + 1) * 256 - so) AS seg_end,
          |  array_to_string(list_slice(bpe_ids, greatest(window_id * 256 - so, 0) + 1,
          |    least(n_tok, (window_id + 1) * 256 - so)), ',') AS seg_ids_csv
          |FROM seg""".stripMargin)
    )),

    // T5/UL2 span corruption over REAL BPE ids — the denoising
    // training examples materialized on-cluster: train the merges,
    // encode every doc to its id stream, then collapse hash-selected
    // 8-token blocks into sentinel ids (vocabSize + span ordinal) in
    // the input stream and (sentinel, originals...) in the target
    // stream. The mask_-salted draw makes the corruption pattern
    // engine-reproducible, so the oracle replays the EXAMPLES
    // themselves id-for-id (CSV projection), not just counts. The
    // whole corrupt pass is zero-shuffle array arithmetic fused into
    // the scan.
    "q_span_corrupt" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir)
        // merges + vocab from ONE corpus word pass (round 17) —
        // byte-identical to the trainMerges-then-vocab sequence
        val (merges, vocab) = operators.Bpe.trainAndVocab(d, "text", rounds = 3)
        // the one-shuffle explode plan (codegen draws, doc-partitioned
        // ordinal window, exchange-free rebuild) — bit-identical to
        // the Column spanCorrupt; measured head-to-head in BASELINE.md
        // round-11 notes
        operators.Denoise.spanCorruptExamples(
          operators.Bpe.encode(d, "text", "doc_id", merges, vocab),
          "bpe_ids", "doc_id", vocabSize = vocab.size.toLong)
          .select(col("doc_id"),
            array_join(col("input_ids"), ",").as("input_ids_csv"),
            array_join(col("target_ids"), ",").as("target_ids_csv"),
            col("n_spans"))
      },
      Some(BpeEncodeOracleCtes + ",\n" +
        """nv AS (SELECT CAST(count(*) AS BIGINT) AS vsz FROM vocab),
          |mb AS (SELECT doc_id, bpe_ids, vsz,
          |  CAST(len(bpe_ids) AS BIGINT) AS n,
          |  [CAST('0x' || substr(md5('mask_' || CAST(doc_id AS VARCHAR)
          |     || '_' || CAST(b AS VARCHAR)), 1, 8) AS BIGINT) % 5 = 0
          |   for b in range(CAST(ceil(len(bpe_ids) / 8.0) AS BIGINT))] AS mk
          |  FROM enc, nv),
          |sp AS (SELECT doc_id, n,
          |  coalesce(array_to_string(flatten([
          |    CASE WHEN mk[b + 1]
          |      THEN [vsz + len([i for i in range(b) if mk[i + 1]])]
          |      ELSE bpe_ids[b * 8 + 1 : least((b + 1) * 8, n)] END
          |    for b in range(len(mk))]), ','), '') AS input_ids_csv,
          |  coalesce(array_to_string(flatten([
          |    CASE WHEN mk[b + 1]
          |      THEN [vsz + len([i for i in range(b) if mk[i + 1]])]
          |           || bpe_ids[b * 8 + 1 : least((b + 1) * 8, n)]
          |      ELSE [] END
          |    for b in range(len(mk))]), ','), '') AS target_ids_csv,
          |  CAST(len([x for x in mk if x]) AS BIGINT) AS n_spans
          |  FROM mb)
          |SELECT doc_id, input_ids_csv, target_ids_csv, n_spans FROM sp""".stripMargin)
    )),

    // BERT-style masked-LM examples over real BPE ids — the FOURTH
    // objective materialization (causal packing, T5 span corruption,
    // FIM, now MLM): 15% of positions selected by the mlm_-salted
    // uniform, 80/10/10 mask/random/keep by the mlmr_ draw, the random
    // replacement id by the mlmv_ draw — input_ids AND labels replay
    // id-for-id in SQL, so the training examples themselves are under
    // the gate, not just their mask rate.
    "q_mlm_mask" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir)
        // merges + vocab from ONE corpus word pass (round 17) —
        // byte-identical to the trainMerges-then-vocab sequence
        val (merges, vocab) = operators.Bpe.trainAndVocab(d, "text", rounds = 3)
        // the corpus-scale explode plan (codegen draws, exchange-free
        // rebuild) — bit-identical to the Column mlmMask, measured
        // head-to-head in BASELINE.md round-11 notes
        operators.Denoise.mlmMaskExamples(
          operators.Bpe.encode(d, "text", "doc_id", merges, vocab),
          "bpe_ids", "doc_id", vocabSize = vocab.size.toLong)
          .select(col("doc_id"),
            array_join(col("input_ids"), ",").as("input_ids_csv"),
            array_join(col("labels"), ",").as("labels_csv"),
            col("n_masked"))
      },
      Some(BpeEncodeOracleCtes + ",\n" +
        """nv AS (SELECT CAST(count(*) AS BIGINT) AS vsz FROM vocab),
          |mlm0 AS (SELECT doc_id, bpe_ids, vsz,
          |  [CAST('0x' || substr(md5('mlm_' || CAST(doc_id AS VARCHAR)
          |     || '_' || CAST(i AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 15
          |   for i in range(len(bpe_ids))] AS sel,
          |  [CAST('0x' || substr(md5('mlmr_' || CAST(doc_id AS VARCHAR)
          |     || '_' || CAST(i AS VARCHAR)), 1, 8) AS BIGINT) % 10
          |   for i in range(len(bpe_ids))] AS sub
          |  FROM enc, nv),
          |ex AS (SELECT doc_id,
          |  [CASE WHEN NOT sel[i + 1] THEN bpe_ids[i + 1]
          |        WHEN sub[i + 1] < 8 THEN vsz
          |        WHEN sub[i + 1] = 8 THEN
          |          CAST('0x' || substr(md5('mlmv_' || CAST(doc_id AS VARCHAR)
          |            || '_' || CAST(i AS VARCHAR)), 1, 8) AS BIGINT) % vsz
          |        ELSE bpe_ids[i + 1] END
          |   for i in range(len(bpe_ids))] AS input_ids,
          |  [CASE WHEN sel[i + 1] THEN bpe_ids[i + 1] ELSE -100 END
          |   for i in range(len(bpe_ids))] AS labels
          |  FROM mlm0)
          |SELECT doc_id,
          |  coalesce(array_to_string(input_ids, ','), '') AS input_ids_csv,
          |  coalesce(array_to_string(labels, ','), '') AS labels_csv,
          |  CAST(len([x for x in labels if x <> -100]) AS BIGINT) AS n_masked
          |FROM ex""".stripMargin)
    )),

    // Fill-in-the-middle (Bavarian et al. 2022) over real BPE ids: the
    // infilling objective's PSM reordering [PRE]prefix[SUF]suffix
    // [MID]middle with deterministic fim_-salted split points — the
    // third member of the objectives family (causal = packing,
    // denoising = span corruption, infilling = FIM), every example
    // hash-checked id-for-id.
    "q_fim" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir)
        // merges + vocab from ONE corpus word pass (round 17) —
        // byte-identical to the trainMerges-then-vocab sequence
        val (merges, vocab) = operators.Bpe.trainAndVocab(d, "text", rounds = 3)
        operators.Bpe.encode(d, "text", "doc_id", merges, vocab)
          .select(col("doc_id"),
            operators.Denoise.fim(col("bpe_ids"), col("doc_id"),
              vocabSize = vocab.size.toLong).as("x"))
          .select(col("doc_id"),
            array_join(col("x.fim_ids"), ",").as("fim_ids_csv"),
            col("x.fim_lo").as("fim_lo"), col("x.fim_hi").as("fim_hi"))
      },
      Some(BpeEncodeOracleCtes + ",\n" +
        """nv AS (SELECT CAST(count(*) AS BIGINT) AS vsz FROM vocab),
          |f AS (SELECT doc_id, bpe_ids, vsz,
          |  CAST(len(bpe_ids) AS BIGINT) AS n,
          |  CAST('0x' || substr(md5('fim_' || CAST(doc_id AS VARCHAR) || '_a'), 1, 8) AS BIGINT)
          |    % (CAST(len(bpe_ids) AS BIGINT) + 1) AS lo
          |  FROM enc, nv),
          |g AS (SELECT doc_id, bpe_ids, vsz, n, lo,
          |  lo + CAST('0x' || substr(md5('fim_' || CAST(doc_id AS VARCHAR) || '_b'), 1, 8) AS BIGINT)
          |    % (n - lo + 1) AS hi
          |  FROM f)
          |SELECT doc_id,
          |  array_to_string([vsz] || bpe_ids[1 : lo] || [vsz + 1]
          |    || bpe_ids[hi + 1 : n] || [vsz + 2]
          |    || bpe_ids[lo + 1 : hi], ',') AS fim_ids_csv,
          |  lo AS fim_lo, hi AS fim_hi
          |FROM g""".stripMargin)
    )),

    // Mojibake repair (the ftfy 'UTF-8 read as Latin-1' case): a
    // quarter of docs get a repairable 'cafÃ©'-style digraph suffix, a
    // quarter a different one, a quarter a LONE high byte (0xB0 — an
    // invalid UTF-8 continuation, so the conservative all-or-nothing
    // decoder must leave the whole string untouched: the negative
    // case), a quarter nothing. The oracle replays the repair as
    // targeted digraph replaces — equivalent to the real decoder HERE
    // because each doc's injection is disjoint (a doc never mixes a
    // repairable digraph with an invalid byte); UnicodeSpec pins the
    // mixed case the fixture can't express.
    "q_mojibake_repair" -> ((
      (s: SparkSession, dir: String) => {
        // The replace-based oracle below is only equivalent to the real
        // all-or-nothing decoder while the BASE fixture text is pure
        // ASCII (a non-ASCII base — or a literal 'Ã©' digraph — would
        // make the two diverge in a confusing hash mismatch). The
        // driver regenerates fixtures between rounds, so guard the
        // assumption in-plan: any non-ASCII base text fails LOUDLY at
        // run time instead of silently red-lining the gate.
        val asciiGuard = when(col("text").rlike("[^\\x00-\\x7F]"),
          raise_error(concat(
            lit("q_mojibake_repair oracle assumes ASCII documents.text; " +
              "non-ASCII base text at doc_id="),
            col("doc_id").cast("string")))).otherwise(lit(""))
        val raw = concat(col("text"), asciiGuard,
          when(pmod(col("doc_id"), lit(4L)) === 0, lit(" caf\u00c3\u00a9 time"))
            .when(pmod(col("doc_id"), lit(4L)) === 1, lit(" ni\u00c3\u00b1o born"))
            .when(pmod(col("doc_id"), lit(4L)) === 2, lit(" 90\u00b0 day"))
            .otherwise(lit("")))
        Tables.documents(s, dir)
          .select(col("doc_id"), raw.as("raw"),
            graft.plans.UnicodeExpressions.fix_mojibake(raw).as("fixed"))
          .select(col("doc_id"), col("fixed"),
            (col("fixed") =!= col("raw")).as("changed"))
      },
      Some("""WITH d AS (SELECT doc_id, text ||
             |  CASE WHEN doc_id % 4 = 0 THEN ' caf' || chr(195) || chr(169) || ' time'
             |       WHEN doc_id % 4 = 1 THEN ' ni' || chr(195) || chr(177) || 'o born'
             |       WHEN doc_id % 4 = 2 THEN ' 90' || chr(176) || ' day'
             |       ELSE '' END AS raw FROM documents),
             |f AS (SELECT doc_id, raw,
             |  replace(replace(raw, chr(195) || chr(169), chr(233)),
             |          chr(195) || chr(177), chr(241)) AS fixed FROM d)
             |SELECT doc_id, fixed, (fixed <> raw) AS changed FROM f""".stripMargin)
    )),

    // Z-order (Morton) layout key for multi-dimensional data skipping:
    // interleave the low 16 bits of two dimension columns so that
    // sorting by the key makes every file span a narrow RECTANGLE of
    // both dimensions — parquet min/max stats then prune on EITHER
    // column (the Delta/Iceberg OPTIMIZE ZORDER trick; write path is
    // repartitionByRange(zkey) + sortWithinPartitions, no new reader).
    // The query proves the locality property the layout depends on:
    // per high-bits key bucket, the min/max span of each dimension —
    // exact integers, fully hash-checked against an arithmetic
    // bit-interleave replay in SQL.
    "q_zorder_layout" -> ((
      (s: SparkSession, dir: String) => {
        val o = Tables.orders(s, dir)
          .select(pmod(col("o_custkey"), lit(65536L)).as("a"),
            pmod(col("o_orderkey"), lit(65536L)).as("b"))
          .withColumn("zkey",
            graft.plans.LayoutExpressions.zorder_key(col("a"), col("b")))
        o.groupBy(shiftright(col("zkey"), 20).as("z_bucket"))
          .agg(count(lit(1)).as("n_rows"),
            min("a").as("min_a"), max("a").as("max_a"),
            min("b").as("min_b"), max("b").as("max_b"))
      },
      Some {
        val terms = (0 until 16).map(i =>
          s"(((CAST(a AS BIGINT) >> $i) & 1) << ${2 * i}) + " +
            s"(((CAST(b AS BIGINT) >> $i) & 1) << ${2 * i + 1})")
          .mkString(" + ")
        s"""WITH t AS (SELECT o_custkey % 65536 AS a, o_orderkey % 65536 AS b FROM orders),
           |z AS (SELECT a, b, $terms AS zkey FROM t)
           |SELECT zkey >> 20 AS z_bucket, count(*) AS n_rows,
           |  min(a) AS min_a, max(a) AS max_a,
           |  min(b) AS min_b, max(b) AS max_b
           |FROM z GROUP BY 1""".stripMargin
      }
    )),

    // ---- round 7: post-training (SFT / preference) data prep ----

    // Multi-turn conversation fixture (deterministic: docs bucketed
    // into conversations by id, turn order = id order, roles
    // alternate) rendered through a ChatML-style template. The
    // rendered strings ARE the training artifact, so the oracle
    // replays the assembly byte-for-byte — template literals, newline
    // joins, system preamble and all.
    "q_chat_render" -> ((
      (s: SparkSession, dir: String) => {
        val turns = Tables.documents(s, dir)
          .select(pmod(col("doc_id"), lit(50L)).as("conv_id"), col("doc_id"),
            array_join(slice(split(col("text"), " "), 1, 10), " ").as("msg"))
          .withColumn("turn", row_number().over(
            Window.partitionBy(col("conv_id")).orderBy(col("doc_id"))))
          .withColumn("role",
            when(pmod(col("turn"), lit(2)) === 1, lit("user"))
              .otherwise(lit("assistant")))
        operators.PostTraining.renderChat(turns, "conv_id", "turn", "role", "msg")
      },
      Some("""WITH t AS (SELECT doc_id % 50 AS conv_id, doc_id,
             |  array_to_string(list_slice(string_split(text, ' '), 1, 10), ' ') AS msg
             |  FROM documents),
             |r AS (SELECT conv_id, msg,
             |  row_number() OVER (PARTITION BY conv_id ORDER BY doc_id) AS turn FROM t),
             |x AS (SELECT conv_id, turn,
             |  CASE WHEN turn % 2 = 1 THEN 'user' ELSE 'assistant' END AS role, msg FROM r)
             |SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
             |  '<|im_start|>system' || chr(10) || 'You are a helpful assistant.<|im_end|>'
             |    || chr(10) ||
             |    string_agg('<|im_start|>' || role || chr(10) || msg || '<|im_end|>',
             |      chr(10) ORDER BY turn) AS rendered
             |FROM x GROUP BY conv_id""".stripMargin)
    )),

    // SFT loss masking over REAL BPE ids: encode word-structured
    // (boundaries intact), mask the first k words' token ids to -100
    // (the cross-entropy ignore_index convention) in the label stream
    // while input_ids keep the full sequence — the exact example shape
    // a fine-tuning dataloader consumes, with the prompt/response
    // split landing on a word boundary under ANY merge table. The
    // oracle replays input_ids and labels id-for-id (CSV projection).
    "q_sft_mask" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir)
        // merges + vocab from ONE corpus word pass (round 17) —
        // byte-identical to the trainMerges-then-vocab sequence
        val (merges, vocab) = operators.Bpe.trainAndVocab(d, "text", rounds = 3)
        // the per-doc BPE encode kernel is CPU-dense and otherwise
        // fused into the unsplittable 1-task scan; spread at the QUERY
        // site so the operator keeps its zero-exchange map shape for
        // plan-pinned consumers (q_fim)
        val ew = operators.Bpe.encodeWords(
          graft.core.Par.spreadForCpu(d, col("doc_id")),
          "text", "doc_id", merges, vocab)
        operators.PostTraining.lossMask(ew, "doc_id", "bpe_word_ids",
            pmod(col("doc_id"), lit(7L)) + 1)
          .select(col("doc_id"),
            array_join(col("input_ids"), ",").as("input_ids_csv"),
            array_join(col("labels"), ",").as("labels_csv"),
            col("n_masked"))
      },
      Some(BpeEncodeOracleCtes + ",\n" +
        """mk AS (SELECT doc_id, bpe_words, doc_id % 7 + 1 AS k FROM encw),
          |lab AS (SELECT doc_id, k,
          |  flatten(bpe_words) AS input_ids,
          |  flatten([CASE WHEN i < k
          |      THEN list_transform(bpe_words[i+1], x -> CAST(-100 AS BIGINT))
          |      ELSE bpe_words[i+1] END
          |    for i in range(len(bpe_words))]) AS labels
          |  FROM mk)
          |SELECT doc_id,
          |  array_to_string(input_ids, ',') AS input_ids_csv,
          |  array_to_string(labels, ',') AS labels_csv,
          |  CAST(len([x for x in labels if x = -100]) AS BIGINT) AS n_masked
          |FROM lab""".stripMargin)
    )),

    // DPO preference-pair mining: candidates bucketed per prompt,
    // scored by the integer-ratio quality score (identical doubles in
    // both engines), chosen = argmax / rejected = argmin under the
    // total (score, id) order. One window shuffle; the margin is the
    // difference of bit-identical doubles, so the pairs hash-match.
    "q_dpo_pairs" -> ((
      (s: SparkSession, dir: String) => {
        val cands = Tables.documents(s, dir)
          .select(pmod(col("doc_id"), lit(100L)).as("prompt_id"), col("doc_id"),
            TextAnalysis.qualityScore(col("text")).as("score"))
        operators.PostTraining.dpoPairs(cands, "prompt_id", "doc_id", "score")
      },
      Some {
        val allStop = TextAnalysis.stopwords.values.flatten.toSeq.distinct
          .map(w => s"'$w'").mkString(", ")
        s"""WITH c AS (SELECT doc_id,
           |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
           |  CAST(len([w for w in string_split(text, ' ') if w IN ($allStop)]) AS BIGINT) AS nstop,
           |  CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS nalpha,
           |  CAST(length(text) AS BIGINT) AS nchars
           |FROM documents),
           |sc AS (SELECT doc_id,
           |  CAST(4 * least(ntok, 100) * ntok * nchars + 300 * nstop * nchars
           |       + 300 * nalpha * ntok AS DOUBLE)
           |  / CAST(1000 * ntok * nchars AS DOUBLE) AS score
           |FROM c),
           |p AS (SELECT doc_id % 100 AS prompt_id, doc_id, score FROM sc),
           |rk AS (SELECT prompt_id, doc_id, score,
           |  row_number() OVER (PARTITION BY prompt_id ORDER BY score DESC, doc_id ASC) AS rc,
           |  row_number() OVER (PARTITION BY prompt_id ORDER BY score ASC, doc_id ASC) AS rr
           |FROM p)
           |SELECT ch.prompt_id, ch.doc_id AS chosen_id, rj.doc_id AS rejected_id,
           |  round(ch.score - rj.score, 6) AS margin
           |FROM (SELECT * FROM rk WHERE rc = 1) ch
           |JOIN (SELECT * FROM rk WHERE rr = 1) rj USING (prompt_id)
           |WHERE ch.doc_id <> rj.doc_id""".stripMargin
      }
    )),

    // Poisson-bootstrap CI on the corpus mean quality score (the
    // big-data bootstrap — Chamandy et al. 2012): 40 one-pass
    // resamples via integer inverse-CDF Poisson(1) weights on the
    // boot_-salted md5 draw (no float boundary in the draw; tail
    // truncated at w=5, named), scores fixed-pointed to 1e-6 at
    // birth so every replicate sum commutes exactly; the interval is
    // exact order statistics (2nd and 39th of the sorted 40 means).
    "q_bootstrap_ci" -> ((
      (s: SparkSession, dir: String) => {
        val scored = Tables.documents(s, dir)
          .select(col("doc_id"), TextAnalysis.qualityScore(col("text"))
            .as("score"))
        operators.Eval.bootstrapCI(scored, "doc_id", "score",
          replicates = 40, loIdx = 2, hiIdx = 39)
      },
      Some {
        val allStop = TextAnalysis.stopwords.values.flatten.toSeq.distinct
          .map(w => s"'$w'").mkString(", ")
        s"""WITH c AS (SELECT doc_id,
           |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
           |  CAST(len([w for w in string_split(text, ' ') if w IN ($allStop)]) AS BIGINT) AS nstop,
           |  CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS nalpha,
           |  CAST(length(text) AS BIGINT) AS nchars
           |FROM documents),
           |sc AS (SELECT doc_id,
           |  CAST(4 * least(ntok, 100) * ntok * nchars + 300 * nstop * nchars
           |       + 300 * nalpha * ntok AS DOUBLE)
           |  / CAST(1000 * ntok * nchars AS DOUBLE) AS score
           |FROM c),
           |x AS (SELECT CAST(doc_id AS VARCHAR) AS id,
           |  CAST(round(score * 1000000, 0) AS BIGINT) AS x FROM sc),
           |r AS (SELECT bs.b, x.id, x.x,
           |    CAST('0x' || substr(md5('boot_' || bs.b || '_' || x.id), 1, 8) AS BIGINT) AS h
           |  FROM x CROSS JOIN (SELECT unnest(range(40)) AS b) bs),
           |w AS (SELECT b, x,
           |    CASE WHEN h < 1580030168 THEN 0 WHEN h < 3160060337 THEN 1
           |         WHEN h < 3950075421 THEN 2 WHEN h < 4213413783 THEN 3
           |         WHEN h < 4279248373 THEN 4 ELSE 5 END AS w
           |  FROM r),
           |m AS (SELECT b,
           |    CASE WHEN sum(w) > 0 THEN
           |      CAST(sum(w * x) AS DOUBLE) / (CAST(sum(w) AS DOUBLE) * 1000000.0)
           |    ELSE 0.0 END AS mean_b
           |  FROM w GROUP BY 1),
           |p AS (SELECT CAST(sum(x) AS DOUBLE)
           |    / (CAST(count(*) AS DOUBLE) * 1000000.0) AS point FROM x),
           |ms AS (SELECT list_sort(list(mean_b)) AS l FROM m)
           |SELECT CAST(40 AS INTEGER) AS b_replicates,
           |  round(p.point, 6) AS point_est,
           |  round(ms.l[2], 6) AS ci_lo, round(ms.l[39], 6) AS ci_hi
           |FROM ms CROSS JOIN p""".stripMargin
      }
    )),

    // Best-of-N rejection sampling (RFT / Llama-2-RS): per prompt
    // bucket, the single top-reward candidate under the (score, id)
    // total order, with the acceptance gate at 0.55 and the group's
    // acceptance stats — every prompt emits a row (accepted=false,
    // never a silent drop). Same integer-ratio reward as q_dpo_pairs,
    // so both sides compare bit-identical doubles at the threshold.
    "q_best_of_n" -> ((
      (s: SparkSession, dir: String) => {
        val cands = Tables.documents(s, dir)
          .select(pmod(col("doc_id"), lit(100L)).as("prompt_id"), col("doc_id"),
            TextAnalysis.qualityScore(col("text")).as("score"))
        operators.PostTraining.bestOfN(
          cands, "prompt_id", "doc_id", "score", threshold = 0.55)
      },
      Some {
        val allStop = TextAnalysis.stopwords.values.flatten.toSeq.distinct
          .map(w => s"'$w'").mkString(", ")
        s"""WITH c AS (SELECT doc_id,
           |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
           |  CAST(len([w for w in string_split(text, ' ') if w IN ($allStop)]) AS BIGINT) AS nstop,
           |  CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS nalpha,
           |  CAST(length(text) AS BIGINT) AS nchars
           |FROM documents),
           |sc AS (SELECT doc_id,
           |  CAST(4 * least(ntok, 100) * ntok * nchars + 300 * nstop * nchars
           |       + 300 * nalpha * ntok AS DOUBLE)
           |  / CAST(1000 * ntok * nchars AS DOUBLE) AS score
           |FROM c),
           |p AS (SELECT doc_id % 100 AS prompt_id, doc_id, score FROM sc),
           |rk AS (SELECT prompt_id, doc_id, score,
           |  row_number() OVER (PARTITION BY prompt_id ORDER BY score DESC, doc_id ASC) AS rc
           |FROM p),
           |st AS (SELECT prompt_id, count(*) AS group_n,
           |  CAST(sum(CASE WHEN score >= 0.55 THEN 1 ELSE 0 END) AS BIGINT) AS n_accepted
           |FROM p GROUP BY 1)
           |SELECT rk.prompt_id, rk.doc_id AS best_id, rk.score AS best_reward,
           |  st.group_n, st.n_accepted,
           |  round(CAST(st.n_accepted AS DOUBLE) / CAST(st.group_n AS DOUBLE), 6) AS accept_rate,
           |  rk.score >= 0.55 AS accepted
           |FROM rk JOIN st USING (prompt_id) WHERE rk.rc = 1""".stripMargin
      }
    )),

    // Group-relative advantage normalization (GRPO preprocessing):
    // per-prompt z-scores of candidate rewards — the value-baseline-
    // free advantage RL-from-grouped-rollouts trains on. Double sums
    // under GROUP BY don't commute, so mean/variance are LEFT FOLDS
    // over the group's (id, reward) structs sorted by candidate id
    // (Spark aggregate ≡ DuckDB list_sum over list(... ORDER BY ...)),
    // making every advantage bit-deterministic and hash-checked;
    // std-0 groups (single candidate, or all rewards equal) pin
    // advantage 0 by convention, never NaN.
    "q_grpo_advantage" -> ((
      (s: SparkSession, dir: String) => {
        val cands = Tables.documents(s, dir)
          .select(pmod(col("doc_id"), lit(100L)).as("prompt_id"), col("doc_id"),
            TextAnalysis.qualityScore(col("text")).as("score"))
        operators.PostTraining.groupAdvantage(
          cands, "prompt_id", "doc_id", "score")
      },
      Some {
        val allStop = TextAnalysis.stopwords.values.flatten.toSeq.distinct
          .map(w => s"'$w'").mkString(", ")
        s"""WITH c AS (SELECT doc_id,
           |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
           |  CAST(len([w for w in string_split(text, ' ') if w IN ($allStop)]) AS BIGINT) AS nstop,
           |  CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS nalpha,
           |  CAST(length(text) AS BIGINT) AS nchars
           |FROM documents),
           |sc AS (SELECT doc_id,
           |  CAST(4 * least(ntok, 100) * ntok * nchars + 300 * nstop * nchars
           |       + 300 * nalpha * ntok AS DOUBLE)
           |  / CAST(1000 * ntok * nchars AS DOUBLE) AS score
           |FROM c),
           |p AS (SELECT doc_id % 100 AS prompt_id, doc_id AS cand_id, score AS r FROM sc),
           |g AS (SELECT prompt_id, list(r ORDER BY cand_id) AS rs,
           |  list(cand_id ORDER BY cand_id) AS ids, count(*) AS n FROM p GROUP BY 1),
           |m AS (SELECT prompt_id, ids, rs, n, list_sum(rs) / n AS mean FROM g),
           |v AS (SELECT prompt_id, ids, rs, n, mean,
           |  sqrt(list_sum([(x - mean) * (x - mean) for x in rs]) / n) AS sd FROM m),
           |e AS (SELECT prompt_id, n, mean, sd,
           |  unnest(ids) AS cand_id, unnest(rs) AS reward FROM v)
           |SELECT prompt_id, cand_id, reward, CAST(n AS BIGINT) AS group_n,
           |  CASE WHEN sd = 0 THEN 0.0 ELSE round((reward - mean) / sd, 6) END AS advantage
           |FROM e""".stripMargin
      }
    )),

    // Threaded-conversation flattening: forum/chat messages with a
    // parent pointer become one row per LEAF — the root-to-leaf path a
    // linear training example renders from. The fixture builds
    // SF-independent 50-message trees (heap-shaped within each
    // doc_id-div-50 group, depth <= 6), so the bounded walk (8 rounds,
    // the kCore fixed-rounds discipline) never truncates and the
    // DuckDB recursive CTE replays every path id-for-id.
    "q_thread_paths" -> ((
      (s: SparkSession, dir: String) => {
        val t = Tables.documents(s, dir).select(col("doc_id"),
          expr("CASE WHEN doc_id % 50 = 0 THEN CAST(NULL AS BIGINT) " +
            "ELSE (doc_id div 50) * 50 + (doc_id % 50 - 1) div 2 END").as("parent"))
        operators.PostTraining.threadPaths(t, "doc_id", "parent", maxDepth = 8)
          .select(col("leaf_id"), col("root_id"), col("depth"),
            array_join(transform(col("path_ids"), _.cast("string")), ">")
              .as("path_csv"))
      },
      Some("""WITH t AS (SELECT doc_id AS id,
             |  CASE WHEN doc_id % 50 = 0 THEN NULL
             |       ELSE (doc_id // 50) * 50 + (doc_id % 50 - 1) // 2 END AS parent
             |  FROM documents),
             |lv AS (SELECT id, parent FROM t
             |  WHERE id NOT IN (SELECT parent FROM t WHERE parent IS NOT NULL)),
             |w AS (
             |  WITH RECURSIVE walk(leaf_id, cur, path) AS (
             |    SELECT id, parent, [id] FROM lv
             |    UNION ALL
             |    SELECT w.leaf_id, t2.parent, list_prepend(w.cur, w.path)
             |    FROM walk w JOIN t t2 ON t2.id = w.cur)
             |  SELECT * FROM walk)
             |SELECT leaf_id, path[1] AS root_id,
             |  CAST(len(path) AS BIGINT) AS depth,
             |  array_to_string(path, '>') AS path_csv
             |FROM w WHERE cur IS NULL""".stripMargin)
    )),

    // Needle-in-a-haystack probes (the NIAH long-context eval data
    // generator): first 48 words of each doc as the haystack, one
    // needle sentence inserted at an md5-drawn depth rung (0..100%),
    // answer an md5 draw — both draws and the exact insert-position
    // integer arithmetic replay in SQL, so every probe string
    // hash-matches verbatim.
    "q_needle_probes" -> ((
      (s: SparkSession, dir: String) => operators.Denoise.needleProbes(
        Tables.documents(s, dir), "doc_id", "text", ctxWords = 48),
      Some("""WITH d AS (SELECT doc_id,
             |    (list_filter(string_split(text, ' '), t -> t <> ''))[1:48] AS ws
             |  FROM documents),
             |f AS (SELECT doc_id, ws,
             |    CAST((CAST(('0x' || substr(md5('ndl_d' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 11) * 10 AS INTEGER) AS depth_pct,
             |    CAST(('0x' || substr(md5('ndl_v' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100000 AS answer
             |  FROM d WHERE len(ws) >= 1),
             |p AS (SELECT doc_id, ws, depth_pct, answer,
             |    (depth_pct * len(ws)) // 100 AS pos FROM f)
             |SELECT doc_id, depth_pct, answer,
             |  array_to_string(list_concat(list_concat(
             |    ws[1:pos],
             |    ['the', 'magic', 'number', 'is', CAST(answer AS VARCHAR)]),
             |    ws[pos+1:len(ws)]), ' ') AS context
             |FROM p""".stripMargin)
    )),

    // c-TF-IDF cluster labels (BERTopic's class-based TF-IDF): top-5
    // distinctive terms per source cluster. Two planted marker tokens
    // per doc (the q_naive_bayes discipline) make each source's marker
    // maximally cluster-concentrated AND corpus-rare, so the labeler
    // must actually rank it first — the rest of the ladder exercises
    // real rarity re-weighting over the shared vocabulary. ln rounds
    // to 9 at birth, the product to 6 BEFORE ranking, and the
    // per-cluster rank rides groupedPositions' range exchange.
    "q_cluster_labels" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir).select(col("source"),
          concat(col("text"), lit(" mk"), col("source"), lit(" mk"),
            col("source")).as("text"))
        operators.Classifier.clusterLabels(d, "source", "text", topK = 5)
      },
      Some("""WITH d AS (SELECT source,
             |    text || ' mk' || source || ' mk' || source AS text
             |  FROM documents),
             |toks AS (SELECT source AS c,
             |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
             |  FROM d),
             |tf AS (SELECT c, t, CAST(count(*) AS BIGINT) AS tf
             |  FROM toks GROUP BY 1, 2),
             |ft AS (SELECT t, CAST(count(*) AS BIGINT) AS corpus_tf
             |  FROM toks GROUP BY 1),
             |sc AS (SELECT CAST(sum(tf) AS BIGINT) AS total,
             |    CAST(count(DISTINCT c) AS BIGINT) AS nc FROM tf),
             |s AS (SELECT c, t, tf, corpus_tf,
             |    round(tf * round(ln(1.0 +
             |      (CAST(total AS DOUBLE) / nc) / corpus_tf), 9), 6) AS score
             |  FROM tf JOIN ft USING (t) CROSS JOIN sc),
             |r AS (SELECT *, row_number() OVER (
             |    PARTITION BY c ORDER BY score DESC, t) AS rank FROM s)
             |SELECT c AS source, t AS term, tf, corpus_tf, score,
             |  CAST(rank AS BIGINT) AS rank
             |FROM r WHERE rank <= 5""".stripMargin)
    )),

    // Preference-transitivity audit: majority-vote tournament over
    // sparse BT-process votes (the % 101 < 3 filter keeps ~9 votes per
    // pair, so majority flips create real cycles — 47 of 347 triangles
    // at sf0.01), then count directed 3-cycles against fully-connected
    // triples. One wedge join + one closing join; every count is an
    // exact int64; the rate is one division rounded to 6.
    "q_preference_cycles" -> ((
      (s: SparkSession, dir: String) => {
        val m = Tables.orders(s, dir)
          .filter(pmod(col("o_orderkey"), lit(101L)) < 3)
          .select(pmod(col("o_custkey"), lit(15L)).as("a"),
            pmod(col("o_orderkey"), lit(15L)).as("b"),
            col("o_orderkey").as("k"))
          .filter(col("a") =!= col("b"))
        val won = pmod(col("k") * 13, col("a") + col("b") + 2) <= col("a")
        operators.PostTraining.preferenceCycles(
          m.select(when(won, col("a")).otherwise(col("b")).as("winner"),
            when(won, col("b")).otherwise(col("a")).as("loser")),
          "winner", "loser")
      },
      Some("""WITH m0 AS (SELECT o_custkey % 15 AS a, o_orderkey % 15 AS b,
             |    o_orderkey AS k FROM orders
             |  WHERE o_orderkey % 101 < 3 AND o_custkey % 15 <> o_orderkey % 15),
             |mw AS (SELECT
             |    CASE WHEN (k * 13) % (a + b + 2) <= a THEN a ELSE b END AS w,
             |    CASE WHEN (k * 13) % (a + b + 2) <= a THEN b ELSE a END AS l
             |  FROM m0),
             |v AS (SELECT w, l, count(*) AS n FROM mw GROUP BY 1, 2),
             |e0 AS (SELECT least(w, l) AS a, greatest(w, l) AS b,
             |    sum(CASE WHEN w < l THEN n ELSE -n END) AS s
             |  FROM v GROUP BY 1, 2),
             |e AS (SELECT CASE WHEN s > 0 THEN a ELSE b END AS src,
             |    CASE WHEN s > 0 THEN b ELSE a END AS dst FROM e0 WHERE s <> 0),
             |und AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b FROM e),
             |tri AS (SELECT x.a, x.b, y.b AS c FROM und x JOIN und y ON x.b = y.a
             |  JOIN und z ON z.a = x.a AND z.b = y.b),
             |cyc AS (SELECT x.src AS p, y.dst AS q FROM e x
             |  JOIN e y ON x.dst = y.src
             |  JOIN e z ON z.src = y.dst AND z.dst = x.src),
             |s AS (SELECT
             |    (SELECT count(DISTINCT i) FROM (SELECT w AS i FROM mw
             |      UNION ALL SELECT l FROM mw)) AS n_items,
             |    (SELECT count(*) FROM e) AS n_edges,
             |    (SELECT count(*) FROM tri) AS n_triangles,
             |    (SELECT count(*) FROM cyc) // 3 AS n_cycles)
             |SELECT CAST(n_items AS BIGINT) AS n_items,
             |  CAST(n_edges AS BIGINT) AS n_edges,
             |  CAST(n_triangles AS BIGINT) AS n_triangles,
             |  CAST(n_cycles AS BIGINT) AS n_cycles,
             |  CASE WHEN n_triangles = 0 THEN 0.0
             |    ELSE round(CAST(n_cycles AS DOUBLE) / n_triangles, 6)
             |  END AS cyclic_rate
             |FROM s""".stripMargin)
    )),

    // Unbiased pass@k (the HumanEval estimator): 50 tasks of 10
    // samples each with an id-derived correctness bit — n−c < k
    // short-circuits to exactly 1.0, full-fail tasks land at 0, and
    // the mixed tasks exercise the i-ordered product fold (each term
    // one division of exact ints; DuckDB list_reduce's first-element
    // init agrees bitwise with Spark's 1.0 init).
    "q_pass_at_k" -> ((
      (s: SparkSession, dir: String) => {
        val samp = Tables.documents(s, dir)
          .select(pmod(col("doc_id"), lit(50L)).as("task_id"),
            (pmod(col("doc_id") * 7 + expr("doc_id div 50"), lit(10L)) <
              pmod(col("doc_id"), lit(50L)) % 4 + 2).as("ok"))
        operators.Eval.passAtK(samp, "task_id", "ok", k = 5)
      },
      Some("""WITH samp AS (SELECT doc_id % 50 AS task_id,
             |    (doc_id * 7 + doc_id // 50) % 10 < (doc_id % 50) % 4 + 2 AS ok
             |  FROM documents),
             |a AS (SELECT task_id, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS c
             |  FROM samp GROUP BY 1)
             |SELECT task_id, n, c,
             |  CASE WHEN n < 5 THEN NULL
             |       WHEN n - c < 5 THEN 1.0
             |       ELSE round(1.0 - list_reduce(
             |         [CAST(n - c - i AS DOUBLE) / CAST(n - i AS DOUBLE)
             |          for i in range(5)], (a, b) -> a * b), 6)
             |  END AS pass_at_5
             |FROM a""".stripMargin)
    )),

    // Verbosity-bias audit: adjacent doc pairs stand in for
    // (chosen, rejected) preference pairs; per source, how often the
    // chosen side is simply LONGER and the mean word-count delta —
    // the length-confound check run before any reward model trains.
    // Exact int counts, one division each.
    "q_length_bias" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir)
        val ch = d.filter(pmod(col("doc_id"), lit(2L)) === 0)
          .select(expr("doc_id div 2").as("p"), col("source"),
            col("text").as("chosen"))
        val rj = d.filter(pmod(col("doc_id"), lit(2L)) === 1)
          .select(expr("doc_id div 2").as("p"), col("text").as("rejected"))
        operators.PostTraining.lengthBiasAudit(ch.join(rj, "p"),
          "source", "chosen", "rejected")
      },
      Some("""WITH ch AS (SELECT doc_id // 2 AS p, source, text AS chosen
             |  FROM documents WHERE doc_id % 2 = 0),
             |rj AS (SELECT doc_id // 2 AS p, text AS rejected
             |  FROM documents WHERE doc_id % 2 = 1),
             |j AS (SELECT source,
             |    CAST(len(list_filter(string_split(chosen, ' '),
             |      w -> w <> '')) AS BIGINT) AS lc,
             |    CAST(len(list_filter(string_split(rejected, ' '),
             |      w -> w <> '')) AS BIGINT) AS lr
             |  FROM ch JOIN rj USING (p))
             |SELECT source, CAST(count(*) AS BIGINT) AS n_pairs,
             |  CAST(sum(CASE WHEN lc > lr THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_chosen_longer,
             |  CAST(sum(CASE WHEN lc = lr THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_ties,
             |  round(CAST(sum(CASE WHEN lc > lr THEN 1 ELSE 0 END) AS DOUBLE)
             |    / CAST(count(*) AS DOUBLE), 6) AS frac_chosen_longer,
             |  round(CAST(sum(lc - lr) AS DOUBLE)
             |    / CAST(count(*) AS DOUBLE), 6) AS mean_len_delta
             |FROM j GROUP BY 1""".stripMargin)
    )),

    // Chat-format lint: per-conversation role arrays synthesized with
    // planted violations — every 5th conversation carries a leading
    // system turn (allowed), every 7th breaks alternation at turn 1
    // (which also breaks ends_assistant when the core has 2 turns) —
    // so every flag fires on a known subset. Zero-shuffle array
    // arithmetic; each flag separate so a failing corpus says WHY.
    "q_chat_lint" -> ((
      (s: SparkSession, dir: String) => {
        val n = pmod(col("doc_id"), lit(3L)) + 2
        val core = transform(sequence(lit(0L), n - 1), i =>
          when(pmod(col("doc_id"), lit(7L)) === 0 && i === 1, lit("user"))
            .when(pmod(i, lit(2L)) === 0, lit("user"))
            .otherwise(lit("assistant")))
        val roles = concat(
          when(pmod(col("doc_id"), lit(5L)) === 0, array(lit("system")))
            .otherwise(array().cast("array<string>")), core)
        operators.PostTraining.chatLint(
          Tables.documents(s, dir).select(col("doc_id"), roles.as("roles")),
          "doc_id", "roles")
      },
      Some("""WITH d AS (SELECT doc_id,
             |    list_concat(
             |      CASE WHEN doc_id % 5 = 0 THEN ['system']
             |           ELSE CAST([] AS VARCHAR[]) END,
             |      [CASE WHEN doc_id % 7 = 0 AND i = 1 THEN 'user'
             |            WHEN i % 2 = 0 THEN 'user'
             |            ELSE 'assistant' END
             |       for i in range(doc_id % 3 + 2)]) AS roles
             |  FROM documents),
             |x AS (SELECT doc_id, roles,
             |    list_filter(roles, x -> x <> 'system') AS ns FROM d)
             |SELECT doc_id, CAST(len(roles) AS BIGINT) AS n_turns,
             |  roles[1] AS first_role,
             |  roles[len(roles)] = 'assistant' AS ends_assistant,
             |  len([1 for i in range(len(roles))
             |    if roles[i+1] = 'system' AND i > 0]) = 0 AS system_only_first,
             |  list_aggregate([ns[i+1] = CASE WHEN i % 2 = 0 THEN 'user'
             |      ELSE 'assistant' END for i in range(len(ns))],
             |    'bool_and') AS alternates,
             |  roles[len(roles)] = 'assistant'
             |    AND len([1 for i in range(len(roles))
             |      if roles[i+1] = 'system' AND i > 0]) = 0
             |    AND list_aggregate([ns[i+1] = CASE WHEN i % 2 = 0
             |        THEN 'user' ELSE 'assistant' END
             |      for i in range(len(ns))], 'bool_and') AS valid
             |FROM x""".stripMargin)
    )),

    // DoReMi-style mixture reweighting (Xie et al. 2023): domains
    // whose derived loss exceeds the reference get multiplicatively
    // upweighted by round(exp(η·excess), 9) and the vector
    // renormalizes through a domain-ordered fold — the reweighting
    // half of the mixture toolchain (q_mixture_sample consumes such
    // weights). exp has cross-engine precedent in the BLEU oracle;
    // η = 0.5 embeds identically in both engines.
    "q_doremi_weights" -> ((
      (s: SparkSession, dir: String) => {
        val dom = Tables.documents(s, dir)
          .groupBy("source").agg(count(lit(1)).as("cnt"))
          .select(col("source"),
            (pmod(col("cnt"), lit(97L)).cast("double") / lit(100.0)
              + lit(2.0)).as("loss"),
            (pmod(length(col("source")), lit(5)).cast("double") / lit(10.0)
              + lit(2.0)).as("ref_loss"),
            lit(1.0).as("w"))
        operators.Sampling.doremiReweight(dom, "source", "loss",
          "ref_loss", "w", eta = 0.5)
      },
      Some("""WITH dom AS (SELECT source,
             |    CAST(count(*) % 97 AS DOUBLE) / 100.0 + 2.0 AS loss,
             |    CAST(length(source) % 5 AS DOUBLE) / 10.0 + 2.0 AS ref_loss
             |  FROM documents GROUP BY 1),
             |b AS (SELECT source AS d,
             |    greatest(loss - ref_loss, 0.0) AS excess,
             |    round(1.0 * round(exp(0.5 * greatest(loss - ref_loss, 0.0)), 9), 9) AS raw
             |  FROM dom),
             |z AS (SELECT list_reduce(list(raw ORDER BY d),
             |    (a, b) -> a + b) AS z FROM b)
             |SELECT d AS source, round(excess, 6) AS excess,
             |  CASE WHEN z > 0 THEN round(raw / z, 6) ELSE 0.0 END AS weight
             |FROM b CROSS JOIN z""".stripMargin)
    )),

    // Luhn validity gate for card-number PII: planted candidates —
    // a valid plain number, a valid separator-carrying number, and an
    // off-by-one INVALID twin — are extracted by the shared candidate
    // regex, normalized, and classified by the exact ISO 7812
    // checksum fold. Validity gating is what keeps card redaction
    // from destroying 16-digit order ids: only ~1/10 random digit
    // runs pass Luhn. Integer arithmetic end-to-end.
    "q_luhn_filter" -> ((
      (s: SparkSession, dir: String) => {
        val planted = when(pmod(col("doc_id"), lit(4L)) === 0,
            lit(" card 4111111111111111"))
          .when(pmod(col("doc_id"), lit(4L)) === 1,
            lit(" card 5500-0000-0000-0004"))
          .when(pmod(col("doc_id"), lit(4L)) === 2,
            lit(" card 4111111111111112"))
          .otherwise(lit(""))
        Tables.documents(s, dir)
          .select(col("doc_id"), concat(col("text"), planted).as("text"))
          .select(col("doc_id"), explode(regexp_extract_all(col("text"),
            lit(TextAnalysis.cardCandidatePattern), lit(0))).as("m"))
          .select(col("doc_id"), TextAnalysis.cardDigits(col("m")).as("card"))
          .select(col("doc_id"), col("card"),
            TextAnalysis.luhnValid(col("card")).as("valid"))
      },
      Some("""WITH d AS (SELECT doc_id, text ||
             |    CASE WHEN doc_id % 4 = 0 THEN ' card 4111111111111111'
             |         WHEN doc_id % 4 = 1 THEN ' card 5500-0000-0000-0004'
             |         WHEN doc_id % 4 = 2 THEN ' card 4111111111111112'
             |         ELSE '' END AS text
             |  FROM documents),
             |m AS (SELECT doc_id,
             |    unnest(regexp_extract_all(text,
             |      '\b(?:\d[ -]?){12,18}\d\b')) AS m
             |  FROM d),
             |c AS (SELECT doc_id,
             |    replace(replace(m, '-', ''), ' ', '') AS card FROM m)
             |SELECT doc_id, card,
             |  len(card) BETWEEN 13 AND 19 AND
             |  list_sum([CASE WHEN (i + 1) % 2 = 0 THEN
             |      CASE WHEN 2 * CAST(card[len(card)-i : len(card)-i] AS INT) > 9
             |        THEN 2 * CAST(card[len(card)-i : len(card)-i] AS INT) - 9
             |        ELSE 2 * CAST(card[len(card)-i : len(card)-i] AS INT) END
             |    ELSE CAST(card[len(card)-i : len(card)-i] AS INT) END
             |    for i in range(len(card))]) % 10 = 0 AS valid
             |FROM c""".stripMargin)
    )),

    // IBAN mod-97 gate (ISO 13616/7064) — the second exact checksum
    // in the PII family: candidates from the no-lookaround regex,
    // validity by the running-remainder fold (the big number never
    // materializes; remainder < 97 at every step, int32-exact in both
    // engines). Plants two valid IBANs (GB toy-bank example + a real
    // French format with a letter in the BBAN) and a one-digit-off
    // invalid, so both branches fire.
    "q_iban_filter" -> ((
      (s: SparkSession, dir: String) => {
        val planted = when(pmod(col("doc_id"), lit(5L)) === 0,
            lit(" iban GB82WEST12345698765432"))
          .when(pmod(col("doc_id"), lit(5L)) === 1,
            lit(" iban FR1420041010050500013M02606"))
          .when(pmod(col("doc_id"), lit(5L)) === 2,
            lit(" iban GB82WEST12345678654321"))
          .otherwise(lit(""))
        Tables.documents(s, dir)
          .select(col("doc_id"), concat(col("text"), planted).as("text"))
          .select(col("doc_id"), explode(regexp_extract_all(col("text"),
            lit(TextAnalysis.ibanCandidatePattern), lit(0))).as("iban"))
          .select(col("doc_id"), col("iban"),
            TextAnalysis.ibanValid(col("iban")).as("valid"))
      },
      Some("""WITH d AS (SELECT doc_id, text ||
             |    CASE WHEN doc_id % 5 = 0 THEN ' iban GB82WEST12345698765432'
             |         WHEN doc_id % 5 = 1 THEN ' iban FR1420041010050500013M02606'
             |         WHEN doc_id % 5 = 2 THEN ' iban GB82WEST12345678654321'
             |         ELSE '' END AS text
             |  FROM documents),
             |m AS (SELECT doc_id,
             |    unnest(regexp_extract_all(text,
             |      '\b[A-Z]{2}\d{2}[A-Z0-9]{11,30}\b')) AS iban
             |  FROM d),
             |r AS (SELECT doc_id, iban, iban[5:] || iban[1:4] AS re FROM m),
             |dg AS (SELECT doc_id, iban, array_to_string(
             |    [CASE WHEN c BETWEEN 'A' AND 'Z'
             |       THEN CAST(unicode(c)-55 AS VARCHAR) ELSE c END
             |     for c in string_split(re, '')], '') AS digits
             |  FROM r)
             |SELECT doc_id, iban,
             |  len(iban) BETWEEN 15 AND 34
             |  AND regexp_matches(iban[1:2], '^[A-Z]{2}$')
             |  AND regexp_matches(iban[3:4], '^[0-9]{2}$')
             |  AND list_reduce([CAST(x AS INT) for x in string_split(digits, '')],
             |        (a, b) -> (a * 10 + b) % 97) = 1 AS valid
             |FROM dg""".stripMargin)
    )),

    // High-entropy token scan (the credential/API-key detector the
    // regex PII pass cannot catch): tokens >= 20 chars scored by
    // character Shannon entropy, flagged at 3.5 bits. The fixture
    // plants hex keys (md5-derived, H ~ 3.8) and an all-'a' long
    // token (H = 0) so both branches of the flag are exercised.
    // log2 is rounded to 9 AT BIRTH and the sum is a char-ordered
    // fold (the naive-Bayes discipline); entropy computed per
    // DISTINCT token then joined back (the Zipf re-plan lesson).
    "q_secret_entropy" -> ((
      (s: SparkSession, dir: String) => {
        val planted = when(pmod(col("doc_id"), lit(13L)) === 0,
            concat(lit(" sk_"), md5(col("doc_id").cast("string"))))
          .when(pmod(col("doc_id"), lit(13L)) === 1,
            lit(" aaaaaaaaaaaaaaaaaaaaaaaa"))
          .otherwise(lit(""))
        operators.Curation.secretScan(
          Tables.documents(s, dir)
            .select(col("doc_id"), concat(col("text"), planted).as("text")),
          "doc_id", "text", minLen = 20, minBits = 3.5)
      },
      Some("""WITH d AS (SELECT doc_id, text ||
             |    CASE WHEN doc_id % 13 = 0 THEN ' sk_' || md5(CAST(doc_id AS VARCHAR))
             |         WHEN doc_id % 13 = 1 THEN ' aaaaaaaaaaaaaaaaaaaaaaaa'
             |         ELSE '' END AS text FROM documents),
             |tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM d),
             |cand AS (SELECT doc_id, token FROM tk WHERE length(token) >= 20),
             |dt AS (SELECT DISTINCT token FROM cand),
             |chs AS (SELECT token,
             |    unnest([token[i:i] for i in range(1, length(token) + 1)]) AS ch
             |  FROM dt),
             |cc AS (SELECT token, ch, count(*) AS c FROM chs GROUP BY 1, 2),
             |tm AS (SELECT token, ch, c,
             |    CAST(c AS DOUBLE) * round(log2(CAST(c AS DOUBLE)), 9) AS term
             |  FROM cc),
             |e AS (SELECT token, CAST(sum(c) AS BIGINT) AS tok_len,
             |    round(log2(CAST(sum(c) AS DOUBLE)), 9)
             |      - list_sum(list(term ORDER BY ch)) / CAST(sum(c) AS DOUBLE) AS h
             |  FROM tm GROUP BY 1)
             |SELECT cand.doc_id, cand.token, e.tok_len,
             |  round(e.h, 6) AS entropy, e.h >= 3.5 AS is_secret
             |FROM cand JOIN e USING (token)""".stripMargin)
    )),

    // Cohen's kappa — the two-rater member completing the agreement
    // family (Fleiss = n raters, Krippendorff = arbitrary
    // missingness). Rater B agrees with rater A (the lang field) 70%
    // of the time and answers an id-derived class otherwise; every
    // 97th item drops to NULL, exercising the explicit exclusion
    // count. Marginal products exact int64; po/pe one division each.
    "q_cohens_kappa" -> ((
      (s: SparkSession, dir: String) => {
        val p = Tables.documents(s, dir).select(col("lang").as("a"),
          when(pmod(col("doc_id"), lit(97L)) === 0,
            lit(null).cast("string"))
            .when(pmod(col("doc_id") * 13, lit(10L)) < 7, col("lang"))
            .otherwise(concat(lit("l"), pmod(col("doc_id"), lit(4L))))
            .as("b"))
        operators.Eval.cohensKappa(p, "a", "b")
      },
      Some("""WITH p AS (SELECT lang AS a,
             |  CASE WHEN doc_id % 97 = 0 THEN NULL
             |       WHEN (doc_id * 13) % 10 < 7 THEN lang
             |       ELSE 'l' || CAST(doc_id % 4 AS VARCHAR) END AS b
             |  FROM documents),
             |v AS (SELECT a, b FROM p WHERE a IS NOT NULL AND b IS NOT NULL),
             |ag AS (SELECT count(*) AS n_items,
             |  CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS n_agree FROM v),
             |ma AS (SELECT a AS c, count(*) AS na FROM v GROUP BY 1),
             |mb AS (SELECT b AS c, count(*) AS nb FROM v GROUP BY 1),
             |pe AS (SELECT CAST(sum(COALESCE(na, 0) * COALESCE(nb, 0)) AS BIGINT) AS pe_num
             |  FROM ma FULL OUTER JOIN mb USING (c)),
             |dr AS (SELECT count(*) AS n_dropped FROM p WHERE a IS NULL OR b IS NULL)
             |SELECT n_items, n_dropped,
             |  round(CAST(n_agree AS DOUBLE) / CAST(n_items AS DOUBLE), 6) AS po,
             |  round(CAST(pe_num AS DOUBLE) / CAST(n_items * n_items AS DOUBLE), 6) AS pe,
             |  CASE WHEN CAST(pe_num AS DOUBLE) / CAST(n_items * n_items AS DOUBLE) < 1.0 THEN
             |    round((CAST(n_agree AS DOUBLE) / CAST(n_items AS DOUBLE)
             |        - CAST(pe_num AS DOUBLE) / CAST(n_items * n_items AS DOUBLE))
             |      / (1.0 - CAST(pe_num AS DOUBLE) / CAST(n_items * n_items AS DOUBLE)), 6)
             |  ELSE 0.0 END AS kappa
             |FROM ag CROSS JOIN pe CROSS JOIN dr""".stripMargin)
    )),

    // Zipf-law fit — the rank-side power law pairing q_vocab_coverage's
    // Heaps curve: least-squares ln(freq)-on-ln(rank) over the top 500
    // ranks (TakeOrdered, never a global sort); each ln rounds to 9 at
    // birth and all regression sums are rank-ordered folds over the
    // bounded top-R terms, so slope/intercept compose deterministic
    // doubles.
    "q_zipf_fit" -> ((
      (s: SparkSession, dir: String) =>
        operators.Profile.zipfFit(Tables.documents(s, dir), "text",
          topR = 500),
      Some("""WITH f AS (SELECT w, count(*) AS f FROM (
             |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
             |  WHERE w <> '' GROUP BY 1),
             |t AS (SELECT w, f, row_number() OVER (ORDER BY f DESC, w ASC) AS r
             |  FROM f QUALIFY r <= 500),
             |l AS (SELECT r, round(ln(CAST(r AS DOUBLE)), 9) AS x,
             |    round(ln(CAST(f AS DOUBLE)), 9) AS y FROM t),
             |s AS (SELECT count(*) AS n,
             |    list_sum(list(x ORDER BY r)) AS sx,
             |    list_sum(list(y ORDER BY r)) AS sy,
             |    list_sum(list(x * x ORDER BY r)) AS sxx,
             |    list_sum(list(x * y ORDER BY r)) AS sxy
             |  FROM l)
             |SELECT CAST(n AS BIGINT) AS n_ranks,
             |  CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0.0 THEN
             |    round((CAST(n AS DOUBLE) * sxy - sx * sy)
             |      / (CAST(n AS DOUBLE) * sxx - sx * sx), 6) END AS slope,
             |  CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0.0 THEN
             |    round((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
             |        / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
             |      / CAST(n AS DOUBLE), 6) END AS intercept
             |FROM s""".stripMargin)
    )),

    // Heaps'-law fit — the vocabulary-GROWTH power law completing the
    // corpus-law pair with q_zipf_fit: 10 doc-id prefixes each yield
    // one (ln tokens, ln vocab) point from exact integer cumulative
    // counts; the fitted slope is the Heaps exponent β (the number a
    // tokenizer vocab budget extrapolates on).
    "q_heaps_fit" -> ((
      (s: SparkSession, dir: String) =>
        // the synthetic corpus draws from a FIXED vocabulary, which
        // saturates inside the first prefix (beta would be identically
        // 0 and the regression unexercised); one planted doc-unique
        // token per doc gives the vocab a real deterministic growth
        // curve for the gate — the operator itself is plant-free
        operators.Profile.heapsFit(
          Tables.documents(s, dir).withColumn("text",
            concat(col("text"), lit(" nv"), col("doc_id"))),
          "doc_id", "text", rungs = 10),
      Some("""WITH d AS (SELECT doc_id,
             |    text || ' nv' || CAST(doc_id AS VARCHAR) AS text
             |  FROM documents),
             |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
             |tok AS (SELECT doc_id,
             |    unnest([t for t in string_split(text, ' ') if t <> '']) AS w
             |  FROM d),
             |fw AS (SELECT w, min(doc_id) AS f FROM tok GROUP BY 1),
             |fr AS (SELECT ((f + 1) * 10 + n - 1) // n AS r,
             |    CAST(count(*) AS BIGINT) AS v_new FROM fw, nd GROUP BY 1),
             |dt AS (SELECT ((doc_id + 1) * 10 + n - 1) // n AS r,
             |    CAST(sum(len([t for t in string_split(text, ' ') if t <> ''])) AS BIGINT)
             |      AS t_new
             |  FROM d, nd GROUP BY 1),
             |br AS (SELECT coalesce(fr.r, dt.r) AS r,
             |    coalesce(v_new, 0) AS v_new, coalesce(t_new, 0) AS t_new
             |  FROM fr FULL OUTER JOIN dt ON fr.r = dt.r),
             |cum AS (SELECT a.r, CAST(sum(b.v_new) AS BIGINT) AS v,
             |    CAST(sum(b.t_new) AS BIGINT) AS t
             |  FROM br a JOIN br b ON b.r <= a.r GROUP BY 1),
             |pts AS (SELECT r, round(ln(CAST(t AS DOUBLE)), 9) AS x,
             |    round(ln(CAST(v AS DOUBLE)), 9) AS y
             |  FROM cum WHERE v > 0 AND t > 0),
             |s AS (SELECT count(*) AS n,
             |    list_sum(list(x ORDER BY r)) AS sx,
             |    list_sum(list(y ORDER BY r)) AS sy,
             |    list_sum(list(x * x ORDER BY r)) AS sxx,
             |    list_sum(list(x * y ORDER BY r)) AS sxy
             |  FROM pts)
             |SELECT CAST(n AS BIGINT) AS n_points,
             |  CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0.0 THEN
             |    round((CAST(n AS DOUBLE) * sxy - sx * sy)
             |      / (CAST(n AS DOUBLE) * sxx - sx * sx), 6) END AS beta,
             |  CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0.0 THEN
             |    round((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
             |        / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
             |      / CAST(n AS DOUBLE), 6) END AS ln_k
             |FROM s""".stripMargin)
    )),

    // One-pass lexical-diversity panel: TTR, Simpson repeat-rate,
    // bias-corrected Chao1 richness (the unseen-vocabulary estimate
    // pairing q_heaps_fit's growth curve) and Good-Turing unseen mass
    // — all from the single word-count aggregate, exact numerators.
    "q_lexical_diversity" -> ((
      (s: SparkSession, dir: String) =>
        operators.Profile.lexicalDiversity(Tables.documents(s, dir), "text"),
      Some("""WITH c AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
             |    SELECT unnest([t for t in string_split(text, ' ') if t <> '']) AS w
             |    FROM documents) GROUP BY 1),
             |a AS (SELECT CAST(sum(c) AS BIGINT) AS n,
             |    CAST(count(*) AS BIGINT) AS v,
             |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
             |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
             |    sum(CAST(c AS HUGEINT) * (c - 1)) AS rep
             |  FROM c)
             |SELECT n AS n_tokens, v AS vocab,
             |  CASE WHEN n > 0 THEN
             |    round(CAST(v AS DOUBLE) / CAST(n AS DOUBLE), 6) END AS ttr,
             |  CASE WHEN n >= 2 THEN
             |    round(CAST(rep AS DOUBLE)
             |      / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE), 6)
             |  ELSE 0.0 END AS simpson,
             |  round(v + CAST(f1 AS DOUBLE) * (f1 - 1)
             |    / (2.0 * CAST(f2 + 1 AS DOUBLE)), 6) AS chao1,
             |  CASE WHEN n > 0 THEN
             |    round(CAST(f1 AS DOUBLE) / CAST(n AS DOUBLE), 6)
             |  ELSE 0.0 END AS gt_unseen
             |FROM a""".stripMargin)
    )),

    // Word dispersion (Gries DP) over sources for the top-20 words,
    // with one PLANTED one-source burst ("burstword" appended to
    // src0's docs, frequent enough to crack the top-20): frequency
    // alone ranks it beside the evenly-spread core vocabulary; the DP
    // column separates them — the template-contamination signal.
    "q_word_dispersion" -> ((
      (s: SparkSession, dir: String) => {
        val planted = when(col("source") === "src0",
          lit(" " + Seq.fill(12)("burstword").mkString(" ")))
          .otherwise(lit(""))
        operators.Profile.wordDispersion(
          Tables.documents(s, dir)
            .withColumn("text", concat(col("text"), planted)),
          "text", "source", topK = 20)
      },
      Some("""WITH d AS (SELECT source, text ||
             |    CASE WHEN source = 'src0'
             |      THEN ' burstword burstword burstword burstword burstword burstword burstword burstword burstword burstword burstword burstword'
             |      ELSE '' END AS text
             |  FROM documents),
             |tok AS (SELECT source AS src,
             |    unnest([t for t in string_split(text, ' ') if t <> '']) AS w
             |  FROM d),
             |cws AS (SELECT w, src, CAST(count(*) AS BIGINT) AS v
             |  FROM tok GROUP BY 1, 2),
             |st AS (SELECT src, CAST(count(*) AS BIGINT) AS t_s
             |  FROM tok GROUP BY 1),
             |tt AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM tok),
             |top AS (SELECT w, CAST(sum(v) AS BIGINT) AS c_w FROM cws
             |  GROUP BY 1 ORDER BY c_w DESC, w ASC LIMIT 20),
             |grid AS (SELECT top.w, top.c_w,
             |    abs(CAST(coalesce(cws.v, 0) AS HUGEINT) * tt.tt
             |      - CAST(st.t_s AS HUGEINT) * top.c_w) AS term, tt.tt
             |  FROM top CROSS JOIN st
             |  LEFT JOIN cws ON cws.w = top.w AND cws.src = st.src
             |  CROSS JOIN tt)
             |SELECT w, c_w,
             |  round(CAST(sum(term) AS DOUBLE)
             |    / CAST(2 * CAST(c_w AS HUGEINT) * tt AS DOUBLE), 6) AS dp
             |FROM grid GROUP BY w, c_w, tt""".stripMargin)
    )),

    // Mann-Whitney U on English vs non-English lengths — the rank-
    // based LOCATION-shift test completing the two-sample pair with
    // q_ks_lengths (KS sees any distributional difference; U asks
    // specifically "does one group run longer"). Doubled midranks
    // keep every rank sum an exact integer; z composes those exact
    // ints through one fixed IEEE expression order (sqrt included —
    // correctly-rounded per IEEE-754, so both engines agree bitwise).
    "q_mann_whitney" -> ((
      (s: SparkSession, dir: String) =>
        operators.Profile.mannWhitney(Tables.documents(s, dir), "n_chars",
          col("lang") === "en"),
      Some("""WITH c AS (SELECT CAST(n_chars AS BIGINT) AS v,
             |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             |    CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS cb
             |  FROM documents GROUP BY 1),
             |cc AS (SELECT v, ca, cb, ca + cb AS c FROM c),
             |cum AS (SELECT ca, cb, c,
             |    CAST(sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_a,
             |    CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_all
             |  FROM cc),
             |a AS (SELECT max(cum_a) AS na, max(cum_all) - max(cum_a) AS nb,
             |    max(cum_all) AS nn,
             |    sum(CAST(ca * (2 * cum_all - c + 1) AS HUGEINT)) AS r2a,
             |    sum(CAST(c AS HUGEINT) * c * c - c) AS tsum
             |  FROM cum),
             |b AS (SELECT na, nb, nn,
             |    r2a - CAST(na AS HUGEINT) * (na + 1) AS u2,
             |    CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd,
             |    CAST(nn AS DOUBLE) AS nd, tsum
             |  FROM a),
             |z AS (SELECT na, nb, u2,
             |    nad * nbd / 12.0 * ((nd + 1.0)
             |      - CAST(tsum AS DOUBLE) / (nd * (nd - 1.0))) AS sigma2,
             |    CAST(u2 AS DOUBLE) / 2.0 - nad * nbd / 2.0 AS znum
             |  FROM b)
             |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
             |  CAST(u2 AS BIGINT) AS u2_a,
             |  CASE WHEN na > 0 AND nb > 0 AND sigma2 > 0.0 THEN
             |    round(znum / sqrt(sigma2), 6) END AS z,
             |  CASE WHEN na > 0 AND nb > 0 AND sigma2 > 0.0 THEN
             |    abs(znum / sqrt(sigma2)) > 1.959964 END AS reject_05
             |FROM z""".stripMargin)
    )),

    // Kruskal-Wallis H across ALL 20 sources at once — the k-sample
    // extension completing the rank-test family (MW asks "do these TWO
    // groups differ in location", KW asks it for k groups in one
    // statistic). Doubled midranks keep every per-group rank sum an
    // exact integer; the per-group R²/n terms fold in group-key order
    // (the bounded-fold discipline); tie cube decimal-first. No reject
    // flag by design: χ²(k−1) critical values are a table, not a
    // closed form.
    "q_kruskal_wallis" -> ((
      (s: SparkSession, dir: String) =>
        operators.Profile.kruskalWallis(
          Tables.documents(s, dir), "n_chars", "source"),
      Some("""WITH b AS (SELECT CAST(n_chars AS BIGINT) AS v, source AS g
             |  FROM documents),
             |c AS (SELECT v, g, CAST(count(*) AS BIGINT) AS c_vg
             |  FROM b GROUP BY 1, 2),
             |cv AS (SELECT v, CAST(sum(c_vg) AS BIGINT) AS c FROM c GROUP BY 1),
             |cm AS (SELECT v, c,
             |    CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
             |  FROM cv),
             |p AS (SELECT c.g,
             |    sum(CAST(c.c_vg * (2 * cm.cum - cm.c + 1) AS HUGEINT)) AS r2g,
             |    CAST(sum(c.c_vg) AS BIGINT) AS ng
             |  FROM c JOIN cm ON cm.v = c.v GROUP BY 1),
             |t AS (SELECT sum(CAST(c AS HUGEINT) * c * c - c) AS tsum,
             |    CAST(sum(c) AS BIGINT) AS n FROM cv),
             |s AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
             |    list_sum(list(CAST(r2g * r2g AS DOUBLE) / CAST(4 * ng AS DOUBLE)
             |      ORDER BY g)) AS ssum
             |  FROM p)
             |SELECT n_groups, n,
             |  CASE WHEN n_groups >= 2
             |    AND (1.0 - CAST(tsum AS DOUBLE)
             |      / (CAST(n AS DOUBLE) * n * n - n)) > 0.0
             |  THEN round(
             |    (12.0 * ssum / (CAST(n AS DOUBLE) * (n + 1.0)) - 3.0 * (n + 1.0))
             |      / (1.0 - CAST(tsum AS DOUBLE)
             |          / (CAST(n AS DOUBLE) * n * n - n)), 6)
             |  END AS h
             |FROM s CROSS JOIN t""".stripMargin)
    )),

    // Benford's-law first-digit test on document lengths — the
    // fabricated-data smell test as a profiling operator: exact
    // integer->string first digits, the nine pinned 12-decimal Benford
    // masses, chi-square folded in digit order, rejected against the
    // pinned df=8 critical value 15.50731 (synthetic lengths are NOT
    // Benford, so the row pins reject=true — a deterministic outcome
    // either way, which is all the gate needs).
    "q_benford" -> ((
      (s: SparkSession, dir: String) =>
        operators.Profile.benfordTest(Tables.documents(s, dir), "n_chars"),
      Some("""WITH digits(d, p) AS (VALUES
             |  (1, 0.301029995664), (2, 0.176091259056), (3, 0.124938736608),
             |  (4, 0.096910013008), (5, 0.079181246048), (6, 0.066946789631),
             |  (7, 0.057991946978), (8, 0.051152522447), (9, 0.045757490561)),
             |v AS (SELECT CAST(n_chars AS BIGINT) AS v FROM documents
             |  WHERE n_chars >= 1),
             |c AS (SELECT CAST(CAST(v AS VARCHAR)[1:1] AS INTEGER) AS d,
             |    CAST(count(*) AS BIGINT) AS c
             |  FROM v GROUP BY 1),
             |f AS (SELECT digits.d, digits.p, COALESCE(c.c, 0) AS c
             |  FROM digits LEFT JOIN c ON c.d = digits.d),
             |t AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM f),
             |s AS (SELECT n, list_sum(list(
             |    (CAST(c AS DOUBLE) - CAST(n AS DOUBLE) * p)
             |      * (CAST(c AS DOUBLE) - CAST(n AS DOUBLE) * p)
             |      / (CAST(n AS DOUBLE) * p) ORDER BY d)) AS chi2raw
             |  FROM f CROSS JOIN t GROUP BY 1)
             |SELECT n,
             |  CASE WHEN n > 0 THEN round(chi2raw, 6) END AS chi2,
             |  CASE WHEN n > 0 THEN chi2raw > 15.50731 END AS reject_05
             |FROM s""".stripMargin)
    )),

    // Cliff's delta on the SAME split as q_mann_whitney (en vs rest on
    // n_chars) — the effect-SIZE companion to the significance flag: at
    // corpus scale everything is "significant", delta says whether the
    // shift matters. Same doubled-midrank one-pass aggregate (ties
    // cancel exactly in the #{a>b} - #{a<b} difference); magnitude
    // labelled on the ROUNDED delta at the pinned Romano-et-al
    // thresholds so both engines label identically.
    "q_cliffs_delta" -> ((
      (s: SparkSession, dir: String) =>
        operators.Profile.cliffsDelta(Tables.documents(s, dir), "n_chars",
          col("lang") === "en"),
      Some("""WITH c AS (SELECT CAST(n_chars AS BIGINT) AS v,
             |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             |    CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS cb
             |  FROM documents GROUP BY 1),
             |cc AS (SELECT v, ca, cb, ca + cb AS c FROM c),
             |cum AS (SELECT ca, cb, c,
             |    CAST(sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_a,
             |    CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_all
             |  FROM cc),
             |a AS (SELECT max(cum_a) AS na, max(cum_all) - max(cum_a) AS nb,
             |    sum(CAST(ca * (2 * cum_all - c + 1) AS HUGEINT)) AS r2a
             |  FROM cum),
             |b AS (SELECT na, nb,
             |    r2a - CAST(na AS HUGEINT) * (na + 1) AS u2 FROM a),
             |d AS (SELECT na, nb,
             |    CASE WHEN na > 0 AND nb > 0 THEN
             |      round(CAST(u2 - CAST(na AS HUGEINT) * nb AS DOUBLE)
             |        / CAST(CAST(na AS HUGEINT) * nb AS DOUBLE), 6) END AS delta
             |  FROM b)
             |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
             |  delta,
             |  CASE WHEN delta IS NULL THEN NULL
             |       WHEN abs(delta) < 0.147 THEN 'negligible'
             |       WHEN abs(delta) < 0.33 THEN 'small'
             |       WHEN abs(delta) < 0.474 THEN 'medium'
             |       ELSE 'large' END AS magnitude
             |FROM d""".stripMargin)
    )),

    // Cohen's d + Hedges g on the SAME en-vs-rest split — the
    // parametric effect size completing the pair with q_cliffs_delta's
    // ordinal one (reading d and delta together exposes distribution
    // shape: agreement means near-normal spreads, disagreement means
    // tails). Exact decimal sums -> one fixed IEEE composition.
    "q_cohens_d" -> ((
      (s: SparkSession, dir: String) =>
        operators.Profile.cohensD(Tables.documents(s, dir), "n_chars",
          col("lang") === "en"),
      Some("""WITH a AS (SELECT
             |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS na,
             |    CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS nb,
             |    sum(CASE WHEN lang = 'en' THEN CAST(n_chars AS HUGEINT) ELSE 0 END) AS sa,
             |    sum(CASE WHEN lang <> 'en' THEN CAST(n_chars AS HUGEINT) ELSE 0 END) AS sb,
             |    sum(CASE WHEN lang = 'en' THEN CAST(n_chars AS HUGEINT) * n_chars ELSE 0 END) AS qa,
             |    sum(CASE WHEN lang <> 'en' THEN CAST(n_chars AS HUGEINT) * n_chars ELSE 0 END) AS qb
             |  FROM documents),
             |m AS (SELECT na, nb,
             |    CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
             |    CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb,
             |    (CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
             |       / CAST(na AS DOUBLE)
             |     + (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
             |       / CAST(nb AS DOUBLE)))
             |      / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 2.0) AS sp2
             |  FROM a),
             |d AS (SELECT na, nb, ma, mb, sp2,
             |    (ma - mb) / sqrt(sp2) AS dd FROM m)
             |SELECT na AS n_a, nb AS n_b,
             |  CASE WHEN na > 0 THEN round(ma, 6) END AS mean_a,
             |  CASE WHEN nb > 0 THEN round(mb, 6) END AS mean_b,
             |  CASE WHEN na >= 2 AND nb >= 2 AND sp2 > 0.0
             |    THEN round(dd, 6) END AS d,
             |  CASE WHEN na >= 2 AND nb >= 2 AND sp2 > 0.0
             |    THEN round(dd * (1.0 - 3.0
             |      / (4.0 * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) - 9.0)), 6)
             |  END AS g
             |FROM d""".stripMargin)
    )),

    // Mutual information between lang and source — the metadata-audit
    // statistic: these two dimensions are treated as independent by
    // every mixture operator upstream, and MI measures whether the
    // corpus actually is (high MI between a split key and any feature
    // is leakage). Exact (lang, source) grid counts, every log2 term
    // rounded to 9 at birth, key-ordered bounded folds.
    "q_mutual_information" -> ((
      (s: SparkSession, dir: String) =>
        operators.Profile.mutualInformation(Tables.documents(s, dir),
          "lang", "source"),
      Some("""WITH cells AS (SELECT lang AS x, source AS y,
             |    CAST(count(*) AS BIGINT) AS c FROM documents GROUP BY 1, 2),
             |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
             |    CAST(count(*) AS BIGINT) AS n_cells FROM cells),
             |mx AS (SELECT x, CAST(sum(c) AS BIGINT) AS cx FROM cells GROUP BY 1),
             |my AS (SELECT y, CAST(sum(c) AS BIGINT) AS cy FROM cells GROUP BY 1),
             |mi AS (SELECT list_sum([e.term FOR e IN
             |    list({'x': cells.x, 'y': cells.y, 'term': round(
             |      (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
             |      * log2(CAST(c AS DOUBLE) * CAST(n AS DOUBLE)
             |          / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))), 9)}
             |      ORDER BY cells.x, cells.y)]) AS mi_raw
             |  FROM cells JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot),
             |hx AS (SELECT list_sum([e.term FOR e IN
             |    list({'k': x, 'term': round(-1.0
             |      * (CAST(cx AS DOUBLE) / CAST(n AS DOUBLE))
             |      * log2(CAST(cx AS DOUBLE) / CAST(n AS DOUBLE)), 9)}
             |      ORDER BY x)]) AS hx_raw
             |  FROM mx CROSS JOIN tot),
             |hy AS (SELECT list_sum([e.term FOR e IN
             |    list({'k': y, 'term': round(-1.0
             |      * (CAST(cy AS DOUBLE) / CAST(n AS DOUBLE))
             |      * log2(CAST(cy AS DOUBLE) / CAST(n AS DOUBLE)), 9)}
             |      ORDER BY y)]) AS hy_raw
             |  FROM my CROSS JOIN tot)
             |SELECT n, n_cells, round(mi_raw, 6) AS mi,
             |  round(hx_raw, 6) AS h_x, round(hy_raw, 6) AS h_y,
             |  CASE WHEN hx_raw > 0.0 AND hy_raw > 0.0
             |    THEN round(mi_raw / sqrt(hx_raw * hy_raw), 6) END AS nmi
             |FROM tot CROSS JOIN mi CROSS JOIN hx CROSS JOIN hy""".stripMargin)
    )),

    // Kendall tau-b between bucketed document length and token count —
    // the midrank-honest rank correlation beside q_rank_correlation's
    // id-tie-broken Spearman. Exact on the (x, y) value GRID (~30
    // cells here): concordant/discordant counts from ONE half-grid
    // self-join carrying c_i*c_j multiplicities, tie terms from the
    // marginals — row count never enters the join, the named |G|^2
    // bound is a bucket-design constant.
    "q_kendall_tau" -> ((
      (s: SparkSession, dir: String) =>
        operators.Profile.kendallTau(
          Tables.documents(s, dir).select(
            expr("n_chars div 64").as("xb"),
            expr("size(split(text, ' ')) div 8").cast("long").as("yb")),
          "xb", "yb"),
      Some("""WITH cells AS (SELECT n_chars // 64 AS xv,
             |    len(string_split(text, ' ')) // 8 AS yv,
             |    CAST(count(*) AS BIGINT) AS c
             |  FROM documents GROUP BY 1, 2),
             |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
             |    CAST(count(*) AS BIGINT) AS n_cells FROM cells),
             |tx AS (SELECT sum(CAST(t AS HUGEINT) * t) AS stx2
             |  FROM (SELECT CAST(sum(c) AS BIGINT) AS t FROM cells GROUP BY xv)),
             |ty AS (SELECT sum(CAST(t AS HUGEINT) * t) AS sty2
             |  FROM (SELECT CAST(sum(c) AS BIGINT) AS t FROM cells GROUP BY yv)),
             |pq AS (SELECT
             |    COALESCE(sum(CASE WHEN b.yv > a.yv
             |      THEN CAST(a.c AS HUGEINT) * b.c END), 0) AS p,
             |    COALESCE(sum(CASE WHEN b.yv < a.yv
             |      THEN CAST(a.c AS HUGEINT) * b.c END), 0) AS q
             |  FROM cells a JOIN cells b ON b.xv > a.xv)
             |SELECT n, n_cells,
             |  CAST(p AS BIGINT) AS concordant, CAST(q AS BIGINT) AS discordant,
             |  CASE WHEN CAST(CAST(n AS HUGEINT) * n - stx2 AS DOUBLE) > 0.0
             |        AND CAST(CAST(n AS HUGEINT) * n - sty2 AS DOUBLE) > 0.0
             |    THEN round(2.0 * CAST(p - q AS DOUBLE)
             |      / sqrt(CAST(CAST(n AS HUGEINT) * n - stx2 AS DOUBLE)
             |           * CAST(CAST(n AS HUGEINT) * n - sty2 AS DOUBLE)), 6)
             |  END AS tau_b
             |FROM tot, tx, ty, pq""".stripMargin)
    )),

    // Exact MAD robust outliers on document lengths: rank-selected
    // lower medians (value + |x - med|), the 3*1.4826 cut compared as
    // |x - med|*10000 > 44478*MAD — integer arithmetic end to end, no
    // quantile interpolation, no float boundary anywhere.
    "q_mad_outliers" -> ((
      (s: SparkSession, dir: String) =>
        operators.Profile.madOutliers(Tables.documents(s, dir), "n_chars"),
      Some("""WITH b AS (SELECT CAST(n_chars AS BIGINT) AS v FROM documents),
             |cv AS (SELECT v, count(*) AS c FROM b GROUP BY 1),
             |cum AS (SELECT v,
             |    CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
             |  FROM cv),
             |t AS (SELECT max(cum) AS nn FROM cum),
             |m1 AS (SELECT min(v) AS m FROM cum CROSS JOIN t
             |  WHERE cum >= (nn + 1) // 2),
             |d AS (SELECT b.v, m1.m, abs(b.v - m1.m) AS dd
             |  FROM b CROSS JOIN m1),
             |dc AS (SELECT dd, count(*) AS c FROM d GROUP BY 1),
             |dcum AS (SELECT dd,
             |    CAST(sum(c) OVER (ORDER BY dd ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
             |  FROM dc),
             |t2 AS (SELECT max(cum) AS nn FROM dcum),
             |m2 AS (SELECT min(dd) AS mad FROM dcum CROSS JOIN t2
             |  WHERE cum >= (nn + 1) // 2)
             |SELECT CAST(count(*) AS BIGINT) AS n,
             |  CAST(max(m) AS BIGINT) AS median,
             |  CAST(max(mad) AS BIGINT) AS mad,
             |  CAST(sum(CASE WHEN dd * 10000 > 44478 * mad THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_outliers
             |FROM d CROSS JOIN m2""".stripMargin)
    )),

    // Exact 5%-trimmed and winsorized means of document lengths — the
    // robust-location pair beside the MAD's robust spread: per-value
    // interval clipping on the ranked cumulative counts (no row ranks
    // individually, no quantile interpolation), decimal sums, one IEEE
    // division each.
    "q_trimmed_mean" -> ((
      (s: SparkSession, dir: String) =>
        operators.Profile.trimmedMean(Tables.documents(s, dir), "n_chars",
          trimNum = 5L, trimDen = 100L),
      Some("""WITH cv AS (SELECT CAST(n_chars AS BIGINT) AS v,
             |    CAST(count(*) AS BIGINT) AS c FROM documents GROUP BY 1),
             |cm AS (SELECT v, c,
             |    CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT)
             |      AS cum FROM cv),
             |t AS (SELECT max(cum) AS n FROM cm),
             |b AS (SELECT cm.v, cm.c, cm.cum, t.n,
             |    t.n * 5 // 100 AS lo, t.n - t.n * 5 // 100 AS hi
             |  FROM cm CROSS JOIN t),
             |a AS (SELECT max(n) AS n, max(lo) AS lo, max(hi) AS hi,
             |    sum(CAST(v AS HUGEINT)
             |      * greatest(0, least(cum, hi) - greatest(cum - c, lo)))
             |      AS tsum,
             |    min(CASE WHEN cum >= lo + 1 THEN v END) AS vlo,
             |    min(CASE WHEN cum >= hi THEN v END) AS vhi
             |  FROM b)
             |SELECT n, hi - lo AS n_kept,
             |  CASE WHEN hi > lo THEN
             |    round(CAST(tsum AS DOUBLE) / CAST(hi - lo AS DOUBLE), 6)
             |  END AS trimmed_mean,
             |  CASE WHEN n > 0 THEN
             |    round(CAST(tsum + CAST(lo AS HUGEINT) * (vlo + vhi) AS DOUBLE)
             |      / CAST(n AS DOUBLE), 6)
             |  END AS winsorized_mean
             |FROM a""".stripMargin)
    )),

    // Gini concentration of document lengths — the corpus-inequality
    // number beside the Zipf slope and Heaps curve: ranks from the
    // range-sliced machinery (never a global-sort window), every sum
    // decimal(38,0)/HUGEINT, one final division.
    "q_gini_lengths" -> ((
      (s: SparkSession, dir: String) =>
        operators.Profile.giniIndex(
          Tables.documents(s, dir), "n_chars", "doc_id"),
      Some("""WITH b AS (SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS x
             |  FROM documents),
             |rk AS (SELECT x,
             |    CAST(row_number() OVER (ORDER BY x, id) AS BIGINT) AS r
             |  FROM b)
             |SELECT CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(x) AS BIGINT) AS total,
             |  round(CAST(2 * sum(CAST(r AS HUGEINT) * x)
             |      - (count(*) + 1) * sum(CAST(x AS HUGEINT)) AS DOUBLE)
             |    / CAST(count(*) * sum(CAST(x AS HUGEINT)) AS DOUBLE), 6)
             |    AS gini
             |FROM rk""".stripMargin)
    )),

    // Theil T on per-document token counts with the exact
    // between/within decomposition by source — Gini's additive sibling
    // answers WHERE the inequality lives (cross-source skew vs inside
    // each source) in one row. The row-shaped x*ln(x) sum birth-rounds
    // to 9 and accumulates as exact DECIMAL(28,9) (order-free, the
    // calibration trick); the per-group ln terms fold in group order.
    "q_theil_index" -> ((
      (s: SparkSession, dir: String) =>
        operators.Profile.theilIndex(
          Tables.documents(s, dir)
            .select(col("source"),
              size(split(col("text"), " ")).cast("long").as("v")),
          "v", "source"),
      Some("""WITH b AS (SELECT source AS g,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS v
             |  FROM documents WHERE len(string_split(text, ' ')) > 0),
             |per AS (SELECT g, CAST(count(*) AS BIGINT) AS ng,
             |    sum(CAST(v AS HUGEINT)) AS sg,
             |    sum(CAST(round(CAST(v AS DOUBLE) * ln(CAST(v AS DOUBLE)), 9)
             |      AS DECIMAL(28,9))) AS lg
             |  FROM b GROUP BY 1),
             |t AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
             |    CAST(count(*) AS BIGINT) AS n_groups,
             |    sum(sg) AS s, sum(lg) AS l FROM per),
             |f AS (SELECT n, n_groups, s,
             |    CAST(l AS DOUBLE) / CAST(s AS DOUBLE)
             |      - ln(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS theil0,
             |    list_sum([x.t FOR x IN list({'g': per.g, 't': round(
             |      (CAST(sg AS DOUBLE) / CAST(s AS DOUBLE))
             |      * ln(CAST(sg AS DOUBLE) * CAST(n AS DOUBLE)
             |          / (CAST(ng AS DOUBLE) * CAST(s AS DOUBLE))), 9)}
             |      ORDER BY per.g)]) AS between0,
             |    list_sum([x.t FOR x IN list({'g': per.g, 't': round(
             |      (CAST(sg AS DOUBLE) / CAST(s AS DOUBLE))
             |      * (CAST(lg AS DOUBLE) / CAST(sg AS DOUBLE)
             |         - ln(CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE))), 9)}
             |      ORDER BY per.g)]) AS within0
             |  FROM per CROSS JOIN t
             |  GROUP BY 1, 2, 3, 4)
             |SELECT n, n_groups,
             |  CASE WHEN s > 0 THEN round(theil0, 6) END AS theil,
             |  CASE WHEN s > 0 THEN round(between0, 6) END AS t_between,
             |  CASE WHEN s > 0 THEN round(within0, 6) END AS t_within
             |FROM f""".stripMargin)
    )),

    // Rank correlation (Spearman under the (value, id) total order —
    // the named tie deviation in Profile.rankCorrelation's scaladoc)
    // between document length and word count: the monotone-association
    // audit that Pearson's float sums can't do engine-exactly. Ranks
    // are exact distinct integers, sum_d2 decimal/HUGEINT, one
    // division.
    "q_rank_correlation" -> ((
      (s: SparkSession, dir: String) =>
        operators.Profile.rankCorrelation(
          Tables.documents(s, dir)
            .select(col("doc_id"), col("n_chars"),
              size(split(col("text"), " ")).cast("long").as("n_words")),
          "n_chars", "n_words", "doc_id"),
      Some("""WITH b AS (SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS xv,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS yv
             |  FROM documents),
             |rx AS (SELECT id,
             |    CAST(row_number() OVER (ORDER BY xv, id) AS BIGINT) AS rx
             |  FROM b),
             |ry AS (SELECT id,
             |    CAST(row_number() OVER (ORDER BY yv, id) AS BIGINT) AS ry
             |  FROM b),
             |d AS (SELECT CAST(rx - ry AS HUGEINT) * CAST(rx - ry AS HUGEINT)
             |    AS d2
             |  FROM rx JOIN ry USING (id))
             |SELECT CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(d2) AS BIGINT) AS sum_d2,
             |  CASE WHEN count(*) >= 2 THEN
             |    round(1.0 - CAST(6 * sum(d2) AS DOUBLE)
             |      / CAST(CAST(count(*) AS HUGEINT)
             |          * (CAST(count(*) AS HUGEINT) * count(*) - 1) AS DOUBLE), 6)
             |  END AS rho
             |FROM d""".stripMargin)
    )),

    // Two-sample Kolmogorov-Smirnov: English vs non-English document
    // lengths — the bin-free distribution-shift test beside PSI. Both
    // cumulative counts ride ONE rankedPrefixSums pass (c_a·2³¹ + c_b
    // packed into the fold), the decision is the exact-integer form
    // of the α = 0.05 asymptotic threshold (no sqrt, no float
    // boundary — decimal/HUGEINT on both sides).
    "q_ks_lengths" -> ((
      (s: SparkSession, dir: String) =>
        operators.Profile.ksTest(Tables.documents(s, dir), "n_chars",
          col("lang") === "en"),
      Some("""WITH c AS (SELECT CAST(n_chars AS BIGINT) AS v,
             |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             |    CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS cb
             |  FROM documents GROUP BY 1),
             |cum AS (SELECT
             |    CAST(sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_a,
             |    CAST(sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_b
             |  FROM c),
             |tot AS (SELECT max(cum_a) AS na, max(cum_b) AS nb FROM cum),
             |dn AS (SELECT na, nb,
             |    max(abs(CAST(cum_a AS HUGEINT) * nb - CAST(cum_b AS HUGEINT) * na))
             |      AS d_num
             |  FROM cum CROSS JOIN tot GROUP BY 1, 2)
             |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
             |  CASE WHEN na > 0 AND nb > 0 THEN
             |    round(CAST(d_num AS DOUBLE)
             |      / CAST(CAST(na AS HUGEINT) * nb AS DOUBLE), 6) END AS d,
             |  CASE WHEN na > 0 AND nb > 0 THEN
             |    d_num * d_num * 1000000 >
             |      CAST(1844164 AS HUGEINT) * (na + nb) * na * nb
             |  END AS reject_05
             |FROM dn""".stripMargin)
    )),

    // Fleiss' kappa inter-annotator agreement: items are groups of 6
    // consecutive doc_ids, each "rating" picks the item's own class
    // 70% of the time (agreement signal) and an id-derived class
    // otherwise (noise) — so kappa lands well above 0 but below 1 and
    // any contingency slip moves it. The % 97 filter knocks one rating
    // out of ~1/16 of the items, exercising the explicit
    // ratings-per-item contract (those items drop and are REPORTED).
    // All numerators exact int64; pbar/pe one division each; kappa
    // composed from the unrounded pair, round-6 at output.
    "q_fleiss_kappa" -> ((
      (s: SparkSession, dir: String) => {
        val item = expr("doc_id div 6")
        val ratings = Tables.documents(s, dir)
          .filter(pmod(col("doc_id"), lit(97L)) =!= 0)
          .select(item.as("item"),
            when(pmod(col("doc_id") * 13, lit(10L)) < 7,
              pmod(item, lit(4L)))
              .otherwise(pmod(col("doc_id") * 7, lit(4L))).as("category"))
        operators.Eval.fleissKappa(ratings, "item", "category",
          ratersPerItem = 6)
      },
      Some("""WITH r AS (SELECT doc_id // 6 AS i,
             |    CASE WHEN (doc_id * 13) % 10 < 7 THEN (doc_id // 6) % 4
             |         ELSE (doc_id * 7) % 4 END AS c
             |  FROM documents WHERE doc_id % 97 <> 0),
             |pi AS (SELECT i, count(*) AS ni FROM r GROUP BY 1),
             |kept AS (SELECT r.i, r.c FROM r JOIN pi USING (i) WHERE ni = 6),
             |nij AS (SELECT i, c, CAST(count(*) AS BIGINT) AS nij
             |  FROM kept GROUP BY 1, 2),
             |it AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
             |    CAST(sum(an) AS BIGINT) AS s_agree
             |  FROM (SELECT i, sum(nij * nij) - 6 AS an FROM nij GROUP BY 1)),
             |ct AS (SELECT CAST(count(*) AS BIGINT) AS n_categories,
             |    CAST(sum(cj * cj) AS BIGINT) AS s_cj2
             |  FROM (SELECT c, sum(nij) AS cj FROM nij GROUP BY 1)),
             |dr AS (SELECT CAST(count(*) AS BIGINT) AS n_dropped_items
             |  FROM pi WHERE ni <> 6),
             |x AS (SELECT n_items, n_dropped_items, n_categories,
             |    CAST(s_agree AS DOUBLE) / CAST(n_items * 6 * 5 AS DOUBLE) AS pbar,
             |    CAST(s_cj2 AS DOUBLE) /
             |      CAST((n_items * 6) * (n_items * 6) AS DOUBLE) AS pe
             |  FROM it CROSS JOIN ct CROSS JOIN dr)
             |SELECT n_items, n_dropped_items, CAST(6 AS BIGINT) AS n_raters,
             |  n_categories, round(pbar, 6) AS pbar, round(pe, 6) AS pe,
             |  CASE WHEN pe < 1 THEN round((pbar - pe) / (1 - pe), 6)
             |       ELSE 0.0 END AS kappa
             |FROM x""".stripMargin)
    )),

    // Krippendorff's alpha (nominal): the ragged-annotation
    // complement to q_fleiss_kappa — two deterministic knockout
    // filters make rater counts VARY per unit (3..5, occasionally 1 →
    // the dropped-and-reported path). D_o's per-unit rationals group
    // by the bounded rater-count key m so the only non-commutative
    // sum folds over ≤|{m}| round-9 terms in m order; everything else
    // is exact int64 with one division each.
    "q_krippendorff_alpha" -> ((
      (s: SparkSession, dir: String) => {
        val item = expr("doc_id div 5")
        val ratings = Tables.documents(s, dir)
          .filter(pmod(col("doc_id"), lit(11L)) >= 2 &&
            pmod(col("doc_id"), lit(23L)) >= 4)
          .select(item.as("unit"),
            when(pmod(col("doc_id") * 13, lit(10L)) < 7,
              pmod(item, lit(4L)))
              .otherwise(pmod(col("doc_id") * 7, lit(4L))).as("category"))
        operators.Eval.krippendorffAlpha(ratings, "unit", "category")
      },
      Some("""WITH r AS (SELECT doc_id // 5 AS u,
             |    CASE WHEN (doc_id * 13) % 10 < 7 THEN (doc_id // 5) % 4
             |         ELSE (doc_id * 7) % 4 END AS c
             |  FROM documents
             |  WHERE doc_id % 11 >= 2 AND doc_id % 23 >= 4),
             |mu AS (SELECT u, CAST(count(*) AS BIGINT) AS m FROM r GROUP BY 1),
             |kept AS (SELECT r.u, r.c, mu.m FROM r JOIN mu USING (u)
             |  WHERE m >= 2),
             |nuc AS (SELECT u, c, m, CAST(count(*) AS BIGINT) AS nuc
             |  FROM kept GROUP BY 1, 2, 3),
             |bym AS (SELECT m, CAST(sum(nuc * (m - nuc)) AS BIGINT) AS s
             |  FROM nuc GROUP BY 1),
             |don AS (SELECT list_reduce(
             |    list(round(CAST(s AS DOUBLE) / (m - 1), 9) ORDER BY m),
             |    (a, b) -> a + b) AS do_num FROM bym),
             |nr AS (SELECT CAST(count(*) AS BIGINT) AS n_units,
             |    CAST(sum(m) AS BIGINT) AS n_ratings FROM mu WHERE m >= 2),
             |dr AS (SELECT CAST(count(*) AS BIGINT) AS n_dropped_units
             |  FROM mu WHERE m < 2),
             |ct AS (SELECT CAST(count(*) AS BIGINT) AS n_categories,
             |    CAST(sum(nc * (nr.n_ratings - nc)) AS BIGINT) AS de_num
             |  FROM (SELECT c, CAST(count(*) AS BIGINT) AS nc
             |    FROM kept GROUP BY 1) x CROSS JOIN nr),
             |f AS (SELECT n_units, n_dropped_units, n_ratings, n_categories,
             |    do_num / CAST(n_ratings AS DOUBLE) AS d_o,
             |    CAST(de_num AS DOUBLE) /
             |      CAST(n_ratings * (n_ratings - 1) AS DOUBLE) AS d_e
             |  FROM nr CROSS JOIN don CROSS JOIN ct CROSS JOIN dr)
             |SELECT n_units, n_dropped_units, n_ratings, n_categories,
             |  round(d_o, 6) AS d_o, round(d_e, 6) AS d_e,
             |  CASE WHEN d_e > 0 THEN round(1.0 - d_o / d_e, 6)
             |       ELSE 0.0 END AS alpha
             |FROM f""".stripMargin)
    )),

    // Population Stability Index drift monitor: per-source PSI between
    // a reference and a current snapshot of an arithmetic score whose
    // CURRENT multiplier depends on the source name — so some sources
    // drift and some don't, and every psi carries signal. Bucket
    // counts are exact int64, each (p−q)·ln(p/q) term rounds to 9 AT
    // BIRTH, and the per-source sum is a bin-ordered fold (the
    // calibration ECE discipline), so psi hash-matches engine-exactly.
    "q_drift_psi" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir)
        val ref = d.filter(pmod(col("doc_id"), lit(3L)) < 2)
          .select(col("source"),
            expr("CAST((doc_id * 37) % 1000 AS DOUBLE) / 1000.0").as("score"))
        val cur = d.filter(pmod(col("doc_id"), lit(3L)) === 2)
          .select(col("source"),
            expr("CAST((doc_id * (31 + length(source) % 7)) % 1000 AS DOUBLE) / 1000.0")
              .as("score"))
        operators.Profile.distributionDrift(ref, cur, "source", "score")
      },
      Some("""WITH ref AS (SELECT source,
             |    CAST((doc_id * 37) % 1000 AS DOUBLE) / 1000.0 AS score
             |  FROM documents WHERE doc_id % 3 < 2),
             |cur AS (SELECT source,
             |    CAST((doc_id * (31 + length(source) % 7)) % 1000 AS DOUBLE) / 1000.0 AS score
             |  FROM documents WHERE doc_id % 3 = 2),
             |rb AS (SELECT source AS g,
             |    greatest(least(CAST(ceil(score * 10) AS BIGINT), 10), 1) AS b,
             |    CAST(count(*) AS BIGINT) AS nr FROM ref GROUP BY 1, 2),
             |cb AS (SELECT source AS g,
             |    greatest(least(CAST(ceil(score * 10) AS BIGINT), 10), 1) AS b,
             |    CAST(count(*) AS BIGINT) AS nc FROM cur GROUP BY 1, 2),
             |j AS (SELECT COALESCE(rb.g, cb.g) AS g, COALESCE(rb.b, cb.b) AS b,
             |    COALESCE(nr, 0) AS nr, COALESCE(nc, 0) AS nc
             |  FROM rb FULL OUTER JOIN cb ON rb.g = cb.g AND rb.b = cb.b),
             |rt AS (SELECT g, CAST(sum(nr) AS BIGINT) AS n_ref FROM rb GROUP BY 1),
             |ct AS (SELECT g, CAST(sum(nc) AS BIGINT) AS n_cur FROM cb GROUP BY 1),
             |t AS (SELECT j.g, j.b, rt.n_ref, ct.n_cur,
             |    greatest(CAST(nr AS DOUBLE) / CAST(n_ref AS DOUBLE), 0.0001) AS p,
             |    greatest(CAST(nc AS DOUBLE) / CAST(n_cur AS DOUBLE), 0.0001) AS q
             |  FROM j JOIN rt ON rt.g = j.g JOIN ct ON ct.g = j.g)
             |SELECT g AS source, max(n_ref) AS n_ref, max(n_cur) AS n_cur,
             |  round(list_sum([x.term FOR x IN
             |    list({'b': b, 'term': round((p - q) * ln(p / q), 9)} ORDER BY b)]), 6) AS psi
             |FROM t GROUP BY g""".stripMargin)
    )),

    // Jensen-Shannon drift on the IDENTICAL ref/cur split as
    // q_drift_psi — the bounded divergence beside PSI's unbounded one
    // (JSD needs no epsilon floor and lands in [0,1] with log2, so one
    // alerting threshold covers metrics of any bucket cardinality;
    // reading both on the same drift is the point). Exact int64 bucket
    // counts, per-bucket terms rounded to 9 at birth, bin-ordered fold.
    "q_drift_jsd" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir)
        val ref = d.filter(pmod(col("doc_id"), lit(3L)) < 2)
          .select(col("source"),
            expr("CAST((doc_id * 37) % 1000 AS DOUBLE) / 1000.0").as("score"))
        val cur = d.filter(pmod(col("doc_id"), lit(3L)) === 2)
          .select(col("source"),
            expr("CAST((doc_id * (31 + length(source) % 7)) % 1000 AS DOUBLE) / 1000.0")
              .as("score"))
        operators.Profile.jsDivergenceDrift(ref, cur, "source", "score")
      },
      Some("""WITH ref AS (SELECT source,
             |    CAST((doc_id * 37) % 1000 AS DOUBLE) / 1000.0 AS score
             |  FROM documents WHERE doc_id % 3 < 2),
             |cur AS (SELECT source,
             |    CAST((doc_id * (31 + length(source) % 7)) % 1000 AS DOUBLE) / 1000.0 AS score
             |  FROM documents WHERE doc_id % 3 = 2),
             |rb AS (SELECT source AS g,
             |    greatest(least(CAST(ceil(score * 10) AS BIGINT), 10), 1) AS b,
             |    CAST(count(*) AS BIGINT) AS nr FROM ref GROUP BY 1, 2),
             |cb AS (SELECT source AS g,
             |    greatest(least(CAST(ceil(score * 10) AS BIGINT), 10), 1) AS b,
             |    CAST(count(*) AS BIGINT) AS nc FROM cur GROUP BY 1, 2),
             |j AS (SELECT COALESCE(rb.g, cb.g) AS g, COALESCE(rb.b, cb.b) AS b,
             |    COALESCE(nr, 0) AS nr, COALESCE(nc, 0) AS nc
             |  FROM rb FULL OUTER JOIN cb ON rb.g = cb.g AND rb.b = cb.b),
             |rt AS (SELECT g, CAST(sum(nr) AS BIGINT) AS n_ref FROM rb GROUP BY 1),
             |ct AS (SELECT g, CAST(sum(nc) AS BIGINT) AS n_cur FROM cb GROUP BY 1),
             |t AS (SELECT j.g, j.b, rt.n_ref, ct.n_cur, j.nr, j.nc,
             |    CAST(nr AS DOUBLE) / CAST(n_ref AS DOUBLE) AS p,
             |    CAST(nc AS DOUBLE) / CAST(n_cur AS DOUBLE) AS q
             |  FROM j JOIN rt ON rt.g = j.g JOIN ct ON ct.g = j.g)
             |SELECT g AS source, max(n_ref) AS n_ref, max(n_cur) AS n_cur,
             |  round(list_sum([x.term FOR x IN
             |    list({'b': b, 'term': round(
             |      (CASE WHEN nr > 0 THEN p * log2(2.0 * p / (p + q)) / 2 ELSE 0.0 END)
             |      + (CASE WHEN nc > 0 THEN q * log2(2.0 * q / (p + q)) / 2 ELSE 0.0 END),
             |      9)} ORDER BY b)]), 6) AS jsd
             |FROM t GROUP BY g""".stripMargin)
    )),

    // Inverse Cloze Task pairs (Lee et al. 2019): one 8-word window
    // per doc becomes the pseudo-query, the rest the context; 10% of
    // docs (an md5 draw, 'ict_k' salt) keep the query inside the
    // context — the paper's fix for "the answer is never in the
    // passage". Window choice is a second md5 draw ('ict_q'). All
    // map-side array arithmetic; the oracle replays both draws and
    // the slice algebra, so every materialized (query, context) pair
    // hash-matches verbatim.
    "q_ict_pairs" -> ((
      (s: SparkSession, dir: String) =>
        operators.PostTraining.ictPairs(Tables.documents(s, dir),
          "doc_id", "text", windowWords = 8, keepQueryPct = 10),
      Some("""WITH d AS (SELECT doc_id,
             |    list_filter(string_split(text, ' '), t -> t <> '') AS ws
             |  FROM documents),
             |b AS (SELECT doc_id, ws,
             |    CAST((len(ws) + 7) // 8 AS BIGINT) AS nw FROM d),
             |f AS (SELECT doc_id, ws, nw,
             |    CAST(('0x' || substr(md5('ict_q' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % nw AS q_idx,
             |    CASE WHEN CAST(('0x' || substr(md5('ict_k' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 10
             |      THEN 1 ELSE 0 END AS kept
             |  FROM b WHERE nw >= 2)
             |SELECT doc_id, q_idx, kept,
             |  array_to_string(ws[q_idx*8+1 : q_idx*8+8], ' ') AS query,
             |  CASE WHEN kept = 1 THEN array_to_string(ws, ' ')
             |       ELSE array_to_string(list_concat(ws[1 : CAST(q_idx*8 AS INTEGER)],
             |         ws[(q_idx+1)*8+1 : len(ws)]), ' ')
             |  END AS context
             |FROM f""".stripMargin)
    )),

    // Bradley–Terry preference strengths (MM/Zermelo iteration,
    // Hunter 2004) — the reward-modeling primitive turning pairwise
    // preference votes into per-item strengths. The fixture's winner
    // rule (k·13 mod (a+b+2) ≤ a picks a) makes P(a wins) exactly
    // (a+1)/(a+b+2) — a TRUE Bradley–Terry process with strength
    // i+1 — so the fit recovers a monotone ladder, not noise. Six
    // rounds from p=1 with the virtual-opponent regularization; each
    // opponent term rounds to 9 AT BIRTH and sums by a sorted fold,
    // the update re-rounds to 9, so all six p tables replay through
    // materialized CTEs and every strength hash-matches.
    "q_bradley_terry" -> ((
      (s: SparkSession, dir: String) => {
        val m = Tables.orders(s, dir)
          .select(pmod(col("o_custkey"), lit(12L)).as("a"),
            pmod(col("o_orderkey"), lit(12L)).as("b"),
            col("o_orderkey").as("k"))
          .filter(col("a") =!= col("b"))
        val won = pmod(col("k") * 13, col("a") + col("b") + 2) <= col("a")
        val prefs = m.select(
          when(won, col("a")).otherwise(col("b")).as("winner"),
          when(won, col("b")).otherwise(col("a")).as("loser"))
        operators.PostTraining.bradleyTerry(prefs, "winner", "loser",
          rounds = 6)
      },
      Some {
        val roundCtes = (1 to 6).map { r =>
          s"""p$r AS MATERIALIZED (
             |  SELECT adj.item, round((it.wins + 1.0) /
             |    (list_sum(list_sort(list(round(adj.n / (pi.p + pj.p), 9)))) +
             |     round(2.0 / (pi.p + 1.0), 9)), 9) AS p
             |  FROM adj JOIN p${r - 1} pi ON pi.item = adj.item
             |  JOIN p${r - 1} pj ON pj.item = adj.opp
             |  JOIN it ON it.item = adj.item
             |  GROUP BY adj.item, it.wins, pi.p)""".stripMargin
        }.mkString(",\n")
        s"""WITH m0 AS (SELECT o_custkey % 12 AS a, o_orderkey % 12 AS b,
           |    o_orderkey AS k FROM orders
           |  WHERE o_custkey % 12 <> o_orderkey % 12),
           |mw AS (SELECT
           |    CASE WHEN (k * 13) % (a + b + 2) <= a THEN a ELSE b END AS w,
           |    CASE WHEN (k * 13) % (a + b + 2) <= a THEN b ELSE a END AS l
           |  FROM m0),
           |wn AS (SELECT w AS item, CAST(count(*) AS BIGINT) AS wins
           |  FROM mw GROUP BY 1),
           |pr AS (SELECT least(w, l) AS a, greatest(w, l) AS b,
           |    CAST(count(*) AS BIGINT) AS n FROM mw GROUP BY 1, 2),
           |adj AS (SELECT a AS item, b AS opp, n FROM pr
           |  UNION ALL SELECT b AS item, a AS opp, n FROM pr),
           |it AS (SELECT DISTINCT adj.item, COALESCE(wn.wins, 0) AS wins
           |  FROM adj LEFT JOIN wn ON wn.item = adj.item),
           |p0 AS (SELECT item, 1.0 AS p FROM it),
           |$roundCtes,
           |gm AS (SELECT item, CAST(sum(n) AS BIGINT) AS games
           |  FROM adj GROUP BY 1)
           |SELECT it.item, it.wins, gm.games, round(p6.p, 6) AS strength
           |FROM it JOIN gm USING (item) JOIN p6 USING (item)""".stripMargin
      }
    )),

    // Block-diagonal attention boundaries for packed windows: the
    // (shard, window) → ordered per-doc segment spans a dataloader
    // needs to build the cross-document attention mask over q_pack_bpe's
    // windows. One groupBy over the already-exploded pack rows;
    // segment order within a window is total (contiguous doc_id tiling
    // by construction), so the CSV assembly is deterministic.
    "q_pack_boundaries" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir)
        // merges + vocab from ONE corpus word pass (round 17) —
        // byte-identical to the trainMerges-then-vocab sequence
        val (merges, vocab) = operators.Bpe.trainAndVocab(d, "text", rounds = 3)
        val enc = operators.Bpe.encode(d, "text", "doc_id", merges, vocab)
        operators.Packing.contextWindows(enc, "doc_id", "n_bpe",
            budget = 256, shards = 8)
          .withColumn("seg_len", col("seg_end") - col("seg_start"))
          .groupBy("shard", "window_id")
          .agg(count(lit(1)).as("n_segs"),
            sum("seg_len").as("n_tokens"),
            array_join(transform(
              array_sort(collect_list(struct(col("doc_id"), col("seg_len")))),
              t => concat(t.getField("doc_id").cast("string"), lit(":"),
                t.getField("seg_len").cast("string"))), ",").as("segments_csv"))
      },
      Some(BpeEncodeOracleCtes + ",\n" +
        """t AS (SELECT doc_id, CAST(len(bpe_ids) AS BIGINT) n_tok,
          |  CAST('0x' || substr(md5('pack_' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 8 AS shard
          |  FROM enc),
          |c AS (SELECT doc_id, shard, n_tok,
          |  CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
          |    ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tok AS so
          |  FROM t WHERE n_tok > 0),
          |seg AS (SELECT shard, doc_id, n_tok, so,
          |  unnest(generate_series(CAST(floor(so / 256.0) AS BIGINT),
          |    CAST(floor((so + n_tok - 1) / 256.0) AS BIGINT))) AS window_id
          |  FROM c),
          |sp AS (SELECT shard, window_id, doc_id,
          |  least(n_tok, (window_id + 1) * 256 - so)
          |    - greatest(window_id * 256 - so, 0) AS seg_len FROM seg)
          |SELECT shard, window_id, CAST(count(*) AS BIGINT) AS n_segs,
          |  CAST(sum(seg_len) AS BIGINT) AS n_tokens,
          |  string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(seg_len AS VARCHAR),
          |    ',' ORDER BY doc_id) AS segments_csv
          |FROM sp GROUP BY 1, 2""".stripMargin)
    )),

    // ---- round 7: retrieval fusion, graph cores, product analytics ----

    // Hybrid retrieval with reciprocal-rank fusion (Cormack et al.):
    // a per-query BM25 ranking (term table broadcast, same single-
    // tokenize shape as q_bm25) and a brute-force cosine ranking over
    // the aligned embeddings are fused by 1/(60+rank) — the standard
    // RRF constant. Ranks are computed over round(score, 6) on the
    // lexical side (double sums under GROUP BY do not commute; rounded
    // values do) and raw cosine on the vector side (left-fold dots are
    // bit-identical), absent list entries contribute 0 via the SAME
    // COALESCE expression in both engines, and the fused ordering
    // tiebreaks on doc_id — every rank, score and fusion value
    // hash-matches.
    "q_rrf_fusion" -> ((
      (s: SparkSession, dir: String) => {
        val emb = Tables.embeddings(s, dir)
        val vec = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 4),
            "vec_id", "embedding", k = 20)
          .select(col("query_id"), col("neighbor_id").as("doc_id"),
            col("rank").as("rank_vec"))
        rrfFuse(rrfLexLeg(s, dir), vec)
      },
      Some("WITH " + RrfLexCtesSql + ",\n" +
        """p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) emb FROM embeddings),
          |nn AS (SELECT vec_id, emb, list_sum([x*x for x in emb]) n2 FROM p),
          |sv AS (SELECT q.vec_id query_id, c.vec_id doc_id,
          |  list_sum([c.emb[i+1] * q.emb[i+1] for i in range(len(c.emb))]) / sqrt(c.n2 * q.n2) score
          |  FROM nn q JOIN nn c ON c.vec_id != q.vec_id WHERE q.vec_id < 4),
          |vec AS (SELECT query_id, doc_id, rank_vec FROM (
          |  SELECT query_id, doc_id,
          |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank_vec
          |  FROM sv) WHERE rank_vec <= 20)""".stripMargin + "\n" +
        RrfFuseSelectSql)
    )),

    // RRF fusion with the ANN vector leg — the scale composition the
    // round-7 verdict asked for: the cosine ranking comes from the
    // multi-probe hyperplane-LSH pipeline (the q_ann_lsh machinery at
    // k=20, planes=6 — bucket count sized to the 500-vector fixture;
    // planes grow with log|corpus|) instead of a brute-force corpus
    // scan, and the fused ranking is STILL oracle-exact because the
    // LSH buckets, probe sets and re-rank scores are all
    // deterministic. The lexical leg and the fusion arithmetic are
    // byte-shared with q_rrf_fusion (same helpers both sides), so the
    // two queries differ ONLY in candidate generation — the ANN leg's
    // recall vs brute is pinned in SimilaritySpec (bounded by the
    // near-uniform fixture geometry, documented there).
    "q_rrf_fusion_ann" -> ((
      (s: SparkSession, dir: String) => {
        val emb = Tables.embeddings(s, dir)
        val vec = Similarity.lshTopK(emb, emb.filter(col("vec_id") < 4),
            "vec_id", "embedding", k = 20, dims = 64, planes = 6)
          .select(col("query_id"), col("neighbor_id").as("doc_id"),
            col("rank").as("rank_vec"))
        rrfFuse(rrfLexLeg(s, dir), vec)
      },
      Some("WITH " + RrfLexCtesSql + ",\n" + lshVecCtesSql(64, 6, 20) + "\n" +
        RrfFuseSelectSql)
    )),

    // Hard-negative mining for retrieval training (the DPR recipe):
    // every 37th doc becomes a query (its first 5 distinct words, the
    // doc itself the positive); negatives = top-3 OTHER docs by BM25 —
    // lexically confusable — EXCLUDING the positive's jaccard>=0.8
    // near-dup cluster, because a near-duplicate of the positive is a
    // FALSE negative that poisons contrastive training. Composes the
    // shared bm25Scores kernel with the dedup-cluster table; ranking
    // on round(bm25, 6) keeps the suite's double-sum discipline, so
    // every (query, rank, negative, score) row hash-matches.
    // NAMED SCALE CAVEAT: candidate scoring is exhaustive — the tf
    // table is Σ_q Σ_t df(t) rows, and with common query terms that
    // approaches |queries|·|docs|. Real billion-doc negative mining
    // prunes candidates first (impact-ordered postings / WAND, or the
    // ANN retrieval legs this suite already has); this composition is
    // the exact-scoring form those candidate generators re-rank.
    "q_hard_negatives" -> ((
      (s: SparkSession, dir: String) => {
        val docs = Tables.documents(s, dir)
        val terms = docs.filter(pmod(col("doc_id"), lit(37L)) === 0)
          .select(col("doc_id").as("query_id"),
            explode(slice(split(col("text"), " "), 1, 5)).as("t"))
          .distinct()
        val clusters = Dedup.duplicateClusters(
          Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.8)
            .select("id_a", "id_b"))
        val scored = bm25Scores(docs, terms)
          .filter(col("doc_id") =!= col("query_id"))
        scored
          .join(clusters.toDF("query_id", "q_cl"), Seq("query_id"), "left")
          .join(clusters.toDF("doc_id", "d_cl"), Seq("doc_id"), "left")
          .filter(col("q_cl").isNull || col("d_cl").isNull ||
            col("q_cl") =!= col("d_cl"))
          .withColumn("rank", row_number().over(Window.partitionBy("query_id")
            .orderBy(desc("bm25"), asc("doc_id"))))
          .filter(col("rank") <= 3)
          .select(col("query_id"), col("rank"),
            col("doc_id").as("neg_id"), col("bm25"))
      },
      Some("WITH qt AS (SELECT DISTINCT doc_id AS query_id, unnest(string_split(text, ' ')[1:5]) AS t\n" +
        "  FROM documents WHERE doc_id % 37 = 0),\n" +
        Bm25CtesSql + ",\n" + JaccardClusterOracleCtes + ",\n" +
        """cand AS (SELECT bm.query_id, bm.doc_id, bm.bm25 FROM bm
          |  WHERE bm.doc_id <> bm.query_id),
          |kept AS (SELECT c.query_id, c.doc_id, c.bm25 FROM cand c
          |  LEFT JOIN cl a ON a.doc_id = c.query_id
          |  LEFT JOIN cl b ON b.doc_id = c.doc_id
          |  WHERE a.canonical_id IS NULL OR b.canonical_id IS NULL
          |     OR a.canonical_id <> b.canonical_id)
          |SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id AS neg_id, bm25
          |FROM (SELECT query_id, doc_id, bm25, row_number() OVER (
          |    PARTITION BY query_id ORDER BY bm25 DESC, doc_id ASC) AS rank
          |  FROM kept)
          |WHERE rank <= 3""".stripMargin)
    )),

    // ANN-candidate hard-negative mining — the scale path the
    // exhaustive miner's NAMED caveat promises, composed under its own
    // oracle: candidates come from the multi-probe hyperplane-LSH
    // retrieval leg (top-50 dense neighbors of each query's embedding
    // — the DPR shape: dense retrieve, then score), the exact BM25
    // re-rank runs ONLY on those pairs (the semi-join lands before
    // the contribution sum inside bm25Scores — non-candidates never
    // reach the arithmetic), and the same near-dup-cluster exclusion
    // and top-3 rank follow. Deterministic end-to-end (literal
    // hyperplanes, exact re-rank), so every triplet hash-matches; the
    // oracle restricts AFTER its bm CTE, which commutes because the
    // candidate filter is on the pair key the aggregation groups by.
    "q_hard_negatives_ann" -> ((
      (s: SparkSession, dir: String) => {
        val docs = Tables.documents(s, dir)
        val emb = Tables.embeddings(s, dir)
        val cand = Similarity.lshTopK(emb,
            emb.filter(pmod(col("vec_id"), lit(37L)) === 0),
            "vec_id", "embedding", k = 50, dims = 64, planes = 6)
          .select(col("query_id"), col("neighbor_id").as("doc_id"))
        val terms = docs.filter(pmod(col("doc_id"), lit(37L)) === 0)
          .select(col("doc_id").as("query_id"),
            explode(slice(split(col("text"), " "), 1, 5)).as("t"))
          .distinct()
        val clusters = Dedup.duplicateClusters(
          Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.8)
            .select("id_a", "id_b"))
        val scored = bm25Scores(docs, terms, Some(cand))
          .filter(col("doc_id") =!= col("query_id"))
        scored
          .join(clusters.toDF("query_id", "q_cl"), Seq("query_id"), "left")
          .join(clusters.toDF("doc_id", "d_cl"), Seq("doc_id"), "left")
          .filter(col("q_cl").isNull || col("d_cl").isNull ||
            col("q_cl") =!= col("d_cl"))
          .withColumn("rank", row_number().over(Window.partitionBy("query_id")
            .orderBy(desc("bm25"), asc("doc_id"))))
          .filter(col("rank") <= 3)
          .select(col("query_id"), col("rank"),
            col("doc_id").as("neg_id"), col("bm25"))
      },
      Some("WITH qt AS (SELECT DISTINCT doc_id AS query_id, unnest(string_split(text, ' ')[1:5]) AS t\n" +
        "  FROM documents WHERE doc_id % 37 = 0),\n" +
        Bm25CtesSql + ",\n" +
        lshVecCtesSql(64, 6, 50, "vec_id % 37 = 0") + ",\n" +
        JaccardClusterOracleCtes + ",\n" +
        """cand AS (SELECT bm.query_id, bm.doc_id, bm.bm25 FROM bm
          |  JOIN vec ON vec.query_id = bm.query_id AND vec.doc_id = bm.doc_id
          |  WHERE bm.doc_id <> bm.query_id),
          |kept AS (SELECT c.query_id, c.doc_id, c.bm25 FROM cand c
          |  LEFT JOIN cl a ON a.doc_id = c.query_id
          |  LEFT JOIN cl b ON b.doc_id = c.doc_id
          |  WHERE a.canonical_id IS NULL OR b.canonical_id IS NULL
          |     OR a.canonical_id <> b.canonical_id)
          |SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id AS neg_id, bm25
          |FROM (SELECT query_id, doc_id, bm25, row_number() OVER (
          |    PARTITION BY query_id ORDER BY bm25 DESC, doc_id ASC) AS rank
          |  FROM kept)
          |WHERE rank <= 3""".stripMargin)
    )),

    // Winnowing fingerprints (Schleimer–Wilkerson–Aiken, the MOSS
    // scheme): k=5-char rolling hashes, rightmost minimum of every
    // w=4 window, distinct (pos, hash) selections — the position-aware
    // fingerprint family member (MinHash/SimHash are bag-of-grams).
    // All-integer mod-1000003 arithmetic (overflow-free under CHECKED
    // int64), and the rightmost-min rule is RELATIONAL in both
    // engines: a doc-keyed window min over the w-following frame, an
    // equi-join back on the min value with a w-wide position band,
    // max(pos) per window start.
    "q_winnow_fingerprints" -> ((
      (s: SparkSession, dir: String) =>
        operators.Dedup.winnowFingerprints(
          Tables.documents(s, dir), "doc_id", "text", k = 5, w = 4),
      Some("""WITH hh AS (SELECT doc_id,
             |  [list_reduce(list_prepend(CAST(0 AS BIGINT),
             |    [CAST(ascii(text[i + j - 1]) AS BIGINT) for j in range(1, 6)]),
             |    (acc, c) -> (acc * 131 + c) % 1000003)
             |   for i in range(1, length(text) - 3)] AS hs
             |  FROM documents WHERE length(text) >= 8),
             |h AS (SELECT doc_id, p.pos AS pos, p.hv AS hv FROM (
             |  SELECT doc_id,
             |    unnest([{'pos': i, 'hv': hs[i]} for i in range(1, len(hs) + 1)]) AS p
             |  FROM hh)),
             |s AS (SELECT doc_id, pos AS q, mn FROM (
             |  SELECT doc_id, pos,
             |    min(hv) OVER (PARTITION BY doc_id ORDER BY pos
             |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mn,
             |    max(pos) OVER (PARTITION BY doc_id) AS m
             |  FROM h) WHERE pos <= m - 3)
             |SELECT DISTINCT doc_id, fp_pos, fp FROM (
             |  SELECT h.doc_id, s.q, max(h.pos) AS fp_pos, min(s.mn) AS fp
             |  FROM h JOIN s ON s.doc_id = h.doc_id AND h.hv = s.mn
             |    AND h.pos >= s.q AND h.pos <= s.q + 3
             |  GROUP BY 1, 2)""".stripMargin)
    )),

    // MOSS-style pairwise overlap report over winnowing fingerprints:
    // shared distinct-fingerprint counts + containment per doc pair,
    // with the df <= 20 hub cap excluding common-vocab fingerprints
    // BEFORE pairing (the adamicAdar cap, applied to plagiarism
    // detection). Fixture plants a quote: every 11th doc gains a
    // digit-heavy per-doc passage, and a "plagiarist" copy of its last
    // 80 chars (clamped — Spark and DuckDB disagree on negative
    // substring positions) plus a novel tail; the quoted digits are
    // pair-unique, so planted pairs surface at shared 4-12 against a
    // background that tops out at 4.
    "q_winnow_overlap" -> ((
      (s: SparkSession, dir: String) => {
        val marked = Tables.documents(s, dir).select(col("doc_id"),
          when(pmod(col("doc_id"), lit(11)) === 0,
            concat(col("text"),
              lit(" q"), (col("doc_id") * col("doc_id") * lit(1009L)).cast("string"),
              lit("x"), (col("doc_id") * lit(31L) + lit(7L)).cast("string"),
              lit("y"), (col("doc_id") * lit(7919L) + lit(3L)).cast("string"),
              lit("z")))
            .otherwise(col("text")).as("text"))
        val copies = marked.filter(pmod(col("doc_id"), lit(11)) === 0)
          .select((col("doc_id") + 10000).as("doc_id"),
            concat(expr("substring(text, greatest(length(text) - 79, 1), 80)"),
              lit(" wholly novel tail appended")).as("text"))
        Dedup.winnowOverlap(marked.unionByName(copies), "doc_id", "text",
          k = 5, w = 4, maxDf = 20L, minShared = 3L)
      },
      Some("""WITH marked AS (SELECT doc_id,
             |  CASE WHEN doc_id % 11 = 0 THEN text || ' q' || CAST(doc_id * doc_id * 1009 AS VARCHAR)
             |    || 'x' || CAST(doc_id * 31 + 7 AS VARCHAR) || 'y' || CAST(doc_id * 7919 + 3 AS VARCHAR) || 'z'
             |  ELSE text END AS text FROM documents),
             |docs AS (SELECT doc_id, text FROM marked
             |  UNION ALL
             |  SELECT doc_id + 10000, substring(text, greatest(length(text) - 79, 1), 80) || ' wholly novel tail appended'
             |  FROM marked WHERE doc_id % 11 = 0),
             |hh AS (SELECT doc_id,
             |  [list_reduce(list_prepend(CAST(0 AS BIGINT),
             |    [CAST(ascii(text[i + j - 1]) AS BIGINT) for j in range(1, 6)]),
             |    (acc, c) -> (acc * 131 + c) % 1000003)
             |   for i in range(1, length(text) - 3)] AS hs
             |  FROM docs WHERE length(text) >= 8),
             |h AS (SELECT doc_id, p.pos AS pos, p.hv AS hv FROM (
             |  SELECT doc_id,
             |    unnest([{'pos': i, 'hv': hs[i]} for i in range(1, len(hs) + 1)]) AS p
             |  FROM hh)),
             |s AS (SELECT doc_id, pos AS q, mn FROM (
             |  SELECT doc_id, pos,
             |    min(hv) OVER (PARTITION BY doc_id ORDER BY pos
             |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mn,
             |    max(pos) OVER (PARTITION BY doc_id) AS m
             |  FROM h) WHERE pos <= m - 3),
             |fp0 AS (SELECT DISTINCT doc_id, fp_pos, fp FROM (
             |  SELECT h.doc_id, s.q, max(h.pos) AS fp_pos, min(s.mn) AS fp
             |  FROM h JOIN s ON s.doc_id = h.doc_id AND h.hv = s.mn
             |    AND h.pos >= s.q AND h.pos <= s.q + 3
             |  GROUP BY 1, 2)),
             |fps AS (SELECT DISTINCT doc_id AS id, fp FROM fp0),
             |cnt AS (SELECT id, count(*) AS n_fp FROM fps GROUP BY 1),
             |dfq AS (SELECT fp, count(*) AS df FROM fps GROUP BY 1),
             |rare AS (SELECT f.id, f.fp FROM fps f JOIN dfq ON dfq.fp = f.fp WHERE dfq.df <= 20),
             |p AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
             |  FROM rare a JOIN rare b ON a.fp = b.fp AND a.id < b.id
             |  GROUP BY 1, 2 HAVING count(*) >= 3)
             |SELECT id_a, id_b, shared,
             |  round(CAST(shared AS DOUBLE) / CAST(least(ca.n_fp, cb.n_fp) AS DOUBLE), 6) AS containment
             |FROM p JOIN cnt ca ON ca.id = p.id_a JOIN cnt cb ON cb.id = p.id_b""".stripMargin)
    )),

    // Ed-Join bounded edit-distance self-join: the Spark side runs the
    // REAL prefix-filtered algorithm (q·d+1 rarest occurrence-keyed
    // q-grams per doc generate candidates; exact levenshtein verifies),
    // while the oracle brute-forces the |Δlen| <= maxDist band — so
    // the hash compare IS the Ed-Join recall proof. Fixture: every
    // 10th doc gains a one-substitution twin (dist 1) and a
    // delete-then-append twin (dist 2); the word-salad background
    // contributes no pairs.
    "q_edit_distance_join" -> ((
      (s: SparkSession, dir: String) => {
        val base = Tables.documents(s, dir)
          .filter(pmod(col("doc_id"), lit(10)) === 0)
          .select(col("doc_id"), col("text"))
        val sub = base.select((col("doc_id") + 20000).as("doc_id"),
          concat(expr("substring(text, 1, 10)"), lit("Q"),
            expr("substring(text, 12, length(text))")).as("text"))
        val del = base.select((col("doc_id") + 30000).as("doc_id"),
          concat(expr("substring(text, 1, 5)"),
            expr("substring(text, 7, length(text))"), lit("Z")).as("text"))
        Dedup.editDistancePairs(base.unionByName(sub).unionByName(del),
          "doc_id", "text", maxDist = 2, q = 3)
      },
      Some("""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
             |sub AS (SELECT doc_id + 20000 AS doc_id,
             |  substring(text, 1, 10) || 'Q' || substring(text, 12, length(text)) AS text FROM base),
             |del AS (SELECT doc_id + 30000 AS doc_id,
             |  substring(text, 1, 5) || substring(text, 7, length(text)) || 'Z' AS text FROM base),
             |docs AS (SELECT * FROM base UNION ALL SELECT * FROM sub UNION ALL SELECT * FROM del)
             |SELECT id_a, id_b, dist FROM (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |    CAST(levenshtein(a.text, b.text) AS INTEGER) AS dist
             |  FROM docs a JOIN docs b ON a.doc_id < b.doc_id
             |    AND abs(length(a.text) - length(b.text)) <= 2)
             |WHERE dist <= 2""".stripMargin)
    )),

    // k-core decomposition by bounded-round parallel peeling: every
    // peel deletes the ENTIRE sub-k fringe at once (degree agg + two
    // semi-joins, all keyed on vertex ids), and six rounds replay
    // exactly in SQL via materialized per-round CTEs — the same
    // fixed-iteration discipline as q_pagerank/q_perceptron_train.
    // Edge fixture: a deterministic 300-node slice of the order/
    // customer key space, dense enough that peeling at k=11 removes a
    // real fringe over three rounds without emptying the core.
    "q_kcore" -> ((
      (s: SparkSession, dir: String) => {
        val e = Tables.orders(s, dir)
          .filter(pmod(col("o_orderkey"), lit(13L)) < 2)
          .select(pmod(col("o_custkey"), lit(300L)).as("src"),
            pmod(col("o_orderkey"), lit(300L)).as("dst"))
        operators.Graph.kCore(e, k = 11, rounds = 6)
      },
      Some {
        val rounds = (1 to 6).map { i =>
          s"""d$i AS MATERIALIZED (SELECT x, count(*) AS d FROM (
             |  SELECT a AS x FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1}) GROUP BY 1),
             |k$i AS MATERIALIZED (SELECT x FROM d$i WHERE d >= 11),
             |e$i AS MATERIALIZED (SELECT e.a, e.b FROM e${i - 1} e
             |  JOIN k$i ka ON ka.x = e.a JOIN k$i kb ON kb.x = e.b)""".stripMargin
        }.mkString(",\n")
        s"""WITH raw AS (SELECT o_custkey % 300 AS s, o_orderkey % 300 AS t
           |  FROM orders WHERE o_orderkey % 13 < 2),
           |e0 AS (SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
           |  FROM raw WHERE s <> t),
           |$rounds
           |SELECT x AS id, CAST(count(*) AS BIGINT) AS core_deg FROM (
           |  SELECT a AS x FROM e6 UNION ALL SELECT b FROM e6) GROUP BY 1""".stripMargin
      }
    )),

    // k-truss edge peeling (Cohen 2008) — the edge-level cohesion
    // rung above q_kcore: per round, drop edges in fewer than k-2
    // triangles, exactly 3 synchronous rounds, support recounted on
    // the final edge set. Same fixture as q_kcore; Spark enumerates
    // triangles through the degree-ordered orientation, the oracle
    // through plain a<b<c nesting — the triangle SET is identical
    // either way, so supports replay edge-for-edge.
    "q_ktruss" -> ((
      (s: SparkSession, dir: String) => {
        val e = Tables.orders(s, dir)
          .filter(pmod(col("o_orderkey"), lit(13L)) < 2)
          .select(pmod(col("o_custkey"), lit(300L)).as("src"),
            pmod(col("o_orderkey"), lit(300L)).as("dst"))
        operators.Graph.kTruss(e, k = 4, rounds = 3)
      },
      Some {
        def tri(i: Int, src: String) =
          s"""t$i AS MATERIALIZED (SELECT e1.a AS x, e1.b AS y, e2.b AS z
             |  FROM $src e1 JOIN $src e2 ON e2.a = e1.b
             |  JOIN $src e3 ON e3.a = e1.a AND e3.b = e2.b),
             |s$i AS MATERIALIZED (SELECT a, b, count(*) AS sup FROM (
             |  SELECT x AS a, y AS b FROM t$i
             |  UNION ALL SELECT x, z FROM t$i
             |  UNION ALL SELECT y, z FROM t$i) GROUP BY 1, 2)""".stripMargin
        val rounds = (1 to 3).map { i =>
          tri(i, s"e${i - 1}") + ",\n" +
            s"""e$i AS MATERIALIZED (SELECT e.a, e.b FROM e${i - 1} e
               |  JOIN s$i s ON s.a = e.a AND s.b = e.b AND s.sup >= 2)""".stripMargin
        }.mkString(",\n")
        s"""WITH raw AS (SELECT o_custkey % 300 AS s, o_orderkey % 300 AS t
           |  FROM orders WHERE o_orderkey % 13 < 2),
           |e0 AS (SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
           |  FROM raw WHERE s <> t),
           |$rounds,
           |${tri(4, "e3")}
           |SELECT e.a, e.b, COALESCE(s4.sup, CAST(0 AS BIGINT)) AS support
           |FROM e3 e LEFT JOIN s4 ON s4.a = e.a AND s4.b = e.b""".stripMargin
      }
    )),

    // Synchronous label propagation (Raghavan-Albert-Kumara) made
    // deterministic: most-frequent neighbor label, ties to the
    // SMALLEST, exactly 4 synchronous rounds from self-labels — the
    // async/random variant converges faster but is irreproducible by
    // construction. Same fixture and MATERIALIZED per-round CTE
    // replay as q_kcore; the argmax is a row_number window in SQL and
    // a max(struct(cnt, -lbl)) in Spark — identical total orders.
    "q_label_propagation" -> ((
      (s: SparkSession, dir: String) => {
        val e = Tables.orders(s, dir)
          .filter(pmod(col("o_orderkey"), lit(13L)) < 2)
          .select(pmod(col("o_custkey"), lit(300L)).as("src"),
            pmod(col("o_orderkey"), lit(300L)).as("dst"))
        operators.Graph.labelPropagation(e, rounds = 4)
      },
      Some {
        val rounds = (1 to 4).map { i =>
          s"""c$i AS MATERIALIZED (SELECT und.a AS id, l.lbl AS nlbl, count(*) AS cnt
             |  FROM und JOIN l${i - 1} l ON l.id = und.b GROUP BY 1, 2),
             |l$i AS MATERIALIZED (SELECT id, nlbl AS lbl FROM (
             |  SELECT id, nlbl, row_number() OVER (
             |    PARTITION BY id ORDER BY cnt DESC, nlbl ASC) AS rn FROM c$i)
             |  WHERE rn = 1)""".stripMargin
        }.mkString(",\n")
        s"""WITH raw AS (SELECT o_custkey % 300 AS s, o_orderkey % 300 AS t
           |  FROM orders WHERE o_orderkey % 13 < 2),
           |und AS MATERIALIZED (SELECT DISTINCT a, b FROM (
           |  SELECT s AS a, t AS b FROM raw WHERE s <> t
           |  UNION ALL SELECT t, s FROM raw WHERE s <> t)),
           |l0 AS MATERIALIZED (SELECT DISTINCT a AS id, a AS lbl FROM und),
           |$rounds
           |SELECT id, lbl AS community FROM l4""".stripMargin
      }
    )),

    // Degree assortativity of the SAME order-graph as
    // q_label_propagation — "do hubs link to hubs?" as one exact
    // Pearson-over-edges number. Every sum is exact decimal over int64
    // degrees; one fixed IEEE composition, round 6.
    "q_assortativity" -> ((
      (s: SparkSession, dir: String) => {
        val e = Tables.orders(s, dir)
          .filter(pmod(col("o_orderkey"), lit(13L)) < 2)
          .select(pmod(col("o_custkey"), lit(300L)).as("src"),
            pmod(col("o_orderkey"), lit(300L)).as("dst"))
        operators.Graph.assortativity(e)
      },
      Some("""WITH raw AS (SELECT o_custkey % 300 AS s, o_orderkey % 300 AS t
             |  FROM orders WHERE o_orderkey % 13 < 2),
             |und AS (SELECT DISTINCT a, b FROM (
             |  SELECT s AS a, t AS b FROM raw WHERE s <> t
             |  UNION ALL SELECT t, s FROM raw WHERE s <> t)),
             |deg AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS d
             |  FROM und GROUP BY 1),
             |jn AS (SELECT da.d AS j, db.d AS k FROM und
             |  JOIN deg da ON da.id = und.a JOIN deg db ON db.id = und.b),
             |a AS (SELECT CAST(count(*) AS BIGINT) AS ecnt,
             |    sum(CAST(j AS HUGEINT) * k) AS sjk,
             |    sum(CAST(j AS HUGEINT) + k) AS sjpk,
             |    sum(CAST(j AS HUGEINT) * j + CAST(k AS HUGEINT) * k) AS sj2k2
             |  FROM jn),
             |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg),
             |x AS (SELECT n_nodes, ecnt, sjk, sjpk, sj2k2,
             |    CAST(sjpk AS DOUBLE) / (2.0 * CAST(ecnt AS DOUBLE)) AS mu
             |  FROM a CROSS JOIN nn)
             |SELECT n_nodes, ecnt // 2 AS n_edges,
             |  CASE WHEN ecnt > 0 AND CAST(sj2k2 AS DOUBLE)
             |      / (2.0 * CAST(ecnt AS DOUBLE)) - mu * mu > 0.0
             |    THEN round((CAST(sjk AS DOUBLE) / CAST(ecnt AS DOUBLE) - mu * mu)
             |      / (CAST(sj2k2 AS DOUBLE) / (2.0 * CAST(ecnt AS DOUBLE))
             |         - mu * mu), 6)
             |  END AS r
             |FROM x""".stripMargin)
    )),

    // Newman-Girvan modularity of the 4-round label-propagation
    // communities on the same graph — the NUMBER that grades what LP
    // found. Computed in the fully-exact integer form
    // (4m*e_in - sum d_c^2) / (4m^2): one division, no per-community
    // float fold, so community count can be data-sized.
    "q_modularity" -> ((
      (s: SparkSession, dir: String) => {
        val e = Tables.orders(s, dir)
          .filter(pmod(col("o_orderkey"), lit(13L)) < 2)
          .select(pmod(col("o_custkey"), lit(300L)).as("src"),
            pmod(col("o_orderkey"), lit(300L)).as("dst"))
        operators.Graph.modularity(e, operators.Graph.labelPropagation(e,
          rounds = 4))
      },
      Some {
        val rounds = (1 to 4).map { i =>
          s"""c$i AS MATERIALIZED (SELECT und.a AS id, l.lbl AS nlbl, count(*) AS cnt
             |  FROM und JOIN l${i - 1} l ON l.id = und.b GROUP BY 1, 2),
             |l$i AS MATERIALIZED (SELECT id, nlbl AS lbl FROM (
             |  SELECT id, nlbl, row_number() OVER (
             |    PARTITION BY id ORDER BY cnt DESC, nlbl ASC) AS rn FROM c$i)
             |  WHERE rn = 1)""".stripMargin
        }.mkString(",\n")
        s"""WITH raw AS (SELECT o_custkey % 300 AS s, o_orderkey % 300 AS t
           |  FROM orders WHERE o_orderkey % 13 < 2),
           |und AS MATERIALIZED (SELECT DISTINCT a, b FROM (
           |  SELECT s AS a, t AS b FROM raw WHERE s <> t
           |  UNION ALL SELECT t, s FROM raw WHERE s <> t)),
           |l0 AS MATERIALIZED (SELECT DISTINCT a AS id, a AS lbl FROM und),
           |$rounds,
           |half AS (SELECT a, b FROM und WHERE a < b),
           |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM half),
           |deg AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS d
           |  FROM und GROUP BY 1),
           |ein AS (SELECT CAST(count(*) AS BIGINT) AS e_in FROM half
           |  JOIN l4 ca ON ca.id = half.a JOIN l4 cb ON cb.id = half.b
           |  WHERE ca.lbl = cb.lbl),
           |dsq AS (SELECT sum(CAST(dc AS HUGEINT) * dc) AS sdc2,
           |    CAST(count(*) AS BIGINT) AS n_communities
           |  FROM (SELECT l4.lbl, CAST(sum(d) AS BIGINT) AS dc
           |    FROM deg JOIN l4 ON l4.id = deg.id GROUP BY 1)),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
           |SELECT n_nodes, m AS n_edges, n_communities,
           |  CASE WHEN m > 0 THEN round(
           |    CAST(CAST(4 AS HUGEINT) * m * e_in - sdc2 AS DOUBLE)
           |    / (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)), 6)
           |  END AS modularity
           |FROM m CROSS JOIN ein CROSS JOIN dsq CROSS JOIN nn""".stripMargin
      }
    )),

    // Weekly cohort retention over the event stream: entities keyed to
    // their first active ISO week, exact distinct-activity counts per
    // (cohort, week-offset) cell. Both engines truncate weeks to the
    // ISO Monday and the offsets are exact integer multiples, so the
    // retention triangle hash-matches.
    "q_retention_cohorts" -> ((
      (s: SparkSession, dir: String) =>
        operators.Timeseries.retentionCohorts(
          Tables.events(s, dir).filter(col("event_type") === "purchase"),
          "user_id", "ts", "week"),
      Some("""WITH a AS (SELECT DISTINCT user_id AS e, date_trunc('week', ts) AS bucket
             |  FROM events WHERE event_type = 'purchase'),
             |c AS (SELECT e, min(bucket) AS c0 FROM a GROUP BY 1)
             |SELECT strftime(c0, '%Y-%m-%d') AS cohort,
             |  CAST(date_diff('day', c0, bucket) // 7 AS INTEGER) AS offset,
             |  count(*) AS n_active
             |FROM a JOIN c USING (e) GROUP BY 1, 2""".stripMargin)
    )),

    // STREAMING LSH candidate generation under the hard gate — the
    // ninth direct streaming row, and the first for the production
    // near-dup path: a bounded document slice replays through the REAL
    // flatMapGroupsWithState bucket-state operator (bounded-corpus
    // mode), streamed candidates are verified by the batch exact-
    // Jaccard verifier, and the result must equal the exhaustive
    // all-pairs oracle — candidate RECALL parity with the batch LSH
    // path is exactly what a missed pair would break (the same
    // exhaustive-oracle discipline as q_dedup_minhash_lsh; per-pair
    // LSH miss probability < 5e-8 at j >= 0.8). Every 37th slice doc
    // gains an exact copy at id+10000, so the row is NEVER vacuously
    // empty (the sf0.1 slice has no organic j >= 0.8 pairs): ~11
    // planted pairs must surface through the stream at every scale.
    "q_stream_lsh_candidates" -> ((
      (s: SparkSession, dir: String) => {
        val slice = Tables.documents(s, dir)
          .filter(col("doc_id") < 400).select(col("doc_id"), col("text"))
        val planted = slice.filter(pmod(col("doc_id"), lit(37)) === 0)
          .select((col("doc_id") + 10000).as("doc_id"), col("text"))
        graft.streaming.EventStreams.replayLshCandidates(
          slice.unionByName(planted), "doc_id", "text",
          threshold = 0.8, maxDocs = 20000)
      },
      Some("""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 400
             |  UNION ALL
             |  SELECT doc_id + 10000, text FROM documents
             |  WHERE doc_id < 400 AND doc_id % 37 = 0),
             |w AS (SELECT doc_id, string_split(text, ' ') ws FROM d),
             |g AS (SELECT doc_id, CASE WHEN len(ws) >= 3
             |  THEN list_distinct([ws[i+1] || '_' || ws[i+2] || '_' || ws[i+3] for i in range(len(ws)-2)])
             |  ELSE [] END sh FROM w),
             |e AS (SELECT doc_id, unnest(sh) s FROM g),
             |sz AS (SELECT doc_id, len(sh) n FROM g),
             |p AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) inter
             |      FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
             |SELECT id_a, id_b
             |FROM p JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
             |WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.8""".stripMargin)
    )),

    // STREAMING upsert sink under the hard gate — the tenth direct
    // streaming row, proving the sink's TWO core claims at once: a
    // bounded event slice runs through the real foreachBatch →
    // first-writer-wins merge → crash-safe staging swap in
    // deterministic (ts, event_id)-ordered micro-batches of 256, then
    // the FINAL batch is deliberately re-delivered (foreachBatch's
    // at-least-once crash replay) before the table is read. The oracle
    // replays the chunking arithmetic: per user, the min-event_id row
    // of the user's last batch. A non-idempotent re-delivery or a
    // wrong merge priority would duplicate or regress keys and
    // hash-mismatch.
    "q_stream_upsert" -> ((
      (s: SparkSession, dir: String) =>
        graft.streaming.EventStreams.replayUpsert(
          Tables.events(s, dir), "user_id", "ts", "event_id", "value",
          chunk = 256, maxUsers = 200)
          .select(col("user_id"), col("event_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
            col("value")),
      Some("""WITH e AS (SELECT event_id, ts, user_id, value FROM events
             |  WHERE user_id < 200),
             |o AS (SELECT event_id, ts, user_id, value,
             |    (row_number() OVER (ORDER BY ts, event_id) - 1) // 256 AS b
             |  FROM e),
             |m AS (SELECT user_id, max(b) AS bm FROM o GROUP BY 1),
             |r AS (SELECT o.user_id, o.event_id, o.ts, o.value,
             |    row_number() OVER (PARTITION BY o.user_id
             |      ORDER BY o.event_id) AS rn
             |  FROM o JOIN m ON m.user_id = o.user_id AND o.b = m.bm)
             |SELECT user_id, event_id,
             |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, value
             |FROM r WHERE rn = 1""".stripMargin)
    )),

    // SNAPSHOT-COMMITTED table format under the hard gate — the
    // incremental cycle on core.SnapshotTable's versioned-manifest
    // layout (immutable data files + atomic manifest publish): three
    // deterministic cycles (cyc = event_id % 3) run through the REAL
    // upsertCycle merge+commit path, the FINAL cycle is deliberately
    // re-delivered (at-least-once replay: a new version, identical
    // content), and a reader PINNED before the last two commits is
    // checked against snapshot 2 exactly — read-under-commit
    // isolation as a loud in-query invariant, with the end-state
    // content under the oracle: per user, the min-event_id row of the
    // user's highest cycle present (last-writer-wins across cycles,
    // tie-break within).
    "q_snapshot_table" -> ((
      (s: SparkSession, dir: String) => {
        val e = Tables.events(s, dir).filter(col("user_id") < 150)
          .select(col("user_id"), col("event_id"), col("value"),
            pmod(col("event_id"), lit(3)).as("cyc"))
        val root = java.nio.file.Files
          .createTempDirectory("graft_snapshot_q").toString + "/table"
        var pinned: org.apache.spark.sql.DataFrame = null
        for (c <- 0 to 2) {
          if (c == 2) pinned = graft.core.SnapshotTable.read(s, root)
          graft.core.SnapshotTable.upsertCycle(
            e.filter(col("cyc") === c).drop("cyc"),
            root, Seq("user_id"), Seq(col("event_id")))
        }
        // the crash-replayed final cycle through the identical path:
        // a NEW version must publish with IDENTICAL rows
        graft.core.SnapshotTable.upsertCycle(
          e.filter(col("cyc") === 2).drop("cyc"),
          root, Seq("user_id"), Seq(col("event_id")))
        // the reader pinned BEFORE those two commits still sees
        // snapshot 2 exactly — loud gate failure otherwise
        def sig(df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)),
            coalesce(sum(col("event_id")), lit(0L).cast("long"))).collect()(0)
        val a = sig(pinned)
        val b = sig(graft.core.SnapshotTable.readVersion(s, root, 2))
        require(a == b,
          s"snapshot read-under-commit isolation broke: pinned $a, v2 $b")
        graft.core.SnapshotTable.read(s, root)
          .select(col("user_id"), col("event_id"), col("value"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, value,
             |    event_id % 3 AS cyc FROM events WHERE user_id < 150),
             |m AS (SELECT user_id, max(cyc) AS cm FROM e GROUP BY 1),
             |r AS (SELECT e.user_id, e.event_id, e.value,
             |    row_number() OVER (PARTITION BY e.user_id
             |      ORDER BY e.event_id) AS rn
             |  FROM e JOIN m ON m.user_id = e.user_id AND e.cyc = m.cm)
             |SELECT user_id, event_id, value FROM r WHERE rn = 1""".stripMargin)
    )),

    // STREAMING snapshot upsert under the hard gate — the FIFTEENTH
    // direct streaming row: q_stream_upsert's replay protocol (real
    // foreachBatch micro-batches in deterministic (ts, event_id)
    // order, final batch deliberately RE-DELIVERED) against the
    // snapshot-committed layout — every micro-batch publishes a
    // version, the re-delivery one more with IDENTICAL content, and
    // the oracle reads the current snapshot: per user, the
    // min-event_id row of the user's last batch. A different user
    // slice (120) than q_stream_upsert keeps the two rows
    // independently falsifiable.
    "q_stream_snapshot_upsert" -> ((
      (s: SparkSession, dir: String) =>
        graft.streaming.EventStreams.replaySnapshotUpsert(
          Tables.events(s, dir), "user_id", "ts", "event_id", "value",
          chunk = 256, maxUsers = 120)
          .select(col("user_id"), col("event_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
            col("value")),
      Some("""WITH e AS (SELECT event_id, ts, user_id, value FROM events
             |  WHERE user_id < 120),
             |o AS (SELECT event_id, ts, user_id, value,
             |    (row_number() OVER (ORDER BY ts, event_id) - 1) // 256 AS b
             |  FROM e),
             |m AS (SELECT user_id, max(b) AS bm FROM o GROUP BY 1),
             |r AS (SELECT o.user_id, o.event_id, o.ts, o.value,
             |    row_number() OVER (PARTITION BY o.user_id
             |      ORDER BY o.event_id) AS rn
             |  FROM o JOIN m ON m.user_id = o.user_id AND o.b = m.bm)
             |SELECT user_id, event_id,
             |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, value
             |FROM r WHERE rn = 1""".stripMargin)
    )),

    // STREAMING snapshot CDC under the hard gate — the SIXTEENTH
    // direct streaming row, and the live completion of the
    // incremental-recompute story: three deterministic per-user states
    // commit as TRACKED versions 1..3 while a real
    // readStream.format("snapshot-changes") stream drains between
    // commits (version-number offsets over the stored change feed, one
    // micro-batch per commit). The in-query require holds the emitted
    // changelog VERBATIM against the batch APIs (v1's bootstrap
    // inserts + changesSince(v1)); the oracle replays bootstrap and
    // both per-step diffs in SQL — a re-emitted step, a missed one, or
    // a wrong version tag duplicates/drops rows and hash-mismatches.
    "q_stream_snapshot_changes" -> ((
      (s: SparkSession, dir: String) => {
        val ev = Tables.events(s, dir)
        val s1 = ev.filter(col("user_id") < 50).groupBy("user_id")
          .agg(count(lit(1)).as("n"))
        val s2 = ev.filter(col("user_id") < 70).groupBy("user_id")
          .agg(count(when(pmod(col("event_id"), lit(2)) === 0, 1)).as("n"))
        val s3 = ev.filter(col("user_id") >= 30 && col("user_id") < 90)
          .groupBy("user_id")
          .agg(count(when(pmod(col("event_id"), lit(3)) === 0, 1)).as("n"))
        val (root, streamed) = graft.streaming.EventStreams
          .replaySnapshotChanges(s, Seq(s1, s2, s3), Seq("user_id"))
        // the stream must equal the batch view of the same feed:
        // bootstrap inserts of v1 plus every retained per-step diff
        val batch = graft.core.SnapshotTable.readVersion(s, root, 1L)
          .select(col("user_id"), lit("insert").as("change"), col("n"))
          .withColumn("version", lit(1L))
          .unionByName(graft.core.SnapshotTable.changesSince(
            s, root, 1L, Seq("user_id")))
        val (nS, nB) = (streamed.count(), batch.count())
        require(nS == nB && streamed.except(batch).isEmpty &&
            batch.except(streamed).isEmpty,
          s"streamed changelog diverged from the batch APIs: $nS " +
            s"streamed rows vs $nB batch rows")
        streamed
      },
      Some("""WITH s1 AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
             |  FROM events WHERE user_id < 50 GROUP BY 1),
             |s2 AS (SELECT user_id,
             |    CAST(count(*) FILTER (WHERE event_id % 2 = 0) AS BIGINT) AS n
             |  FROM events WHERE user_id < 70 GROUP BY 1),
             |s3 AS (SELECT user_id,
             |    CAST(count(*) FILTER (WHERE event_id % 3 = 0) AS BIGINT) AS n
             |  FROM events WHERE user_id >= 30 AND user_id < 90 GROUP BY 1),
             |b AS (SELECT user_id, 'insert' AS change, n,
             |    CAST(1 AS BIGINT) AS version FROM s1),
             |d12 AS (SELECT COALESCE(s1.user_id, s2.user_id) AS user_id,
             |    CASE WHEN s1.user_id IS NULL THEN 'insert'
             |      WHEN s2.user_id IS NULL THEN 'delete'
             |      ELSE 'update' END AS change,
             |    CASE WHEN s2.user_id IS NULL THEN s1.n ELSE s2.n END AS n,
             |    CAST(2 AS BIGINT) AS version
             |  FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id
             |  WHERE s1.user_id IS NULL OR s2.user_id IS NULL
             |    OR (s1.n IS DISTINCT FROM s2.n)),
             |d23 AS (SELECT COALESCE(s2.user_id, s3.user_id) AS user_id,
             |    CASE WHEN s2.user_id IS NULL THEN 'insert'
             |      WHEN s3.user_id IS NULL THEN 'delete'
             |      ELSE 'update' END AS change,
             |    CASE WHEN s3.user_id IS NULL THEN s2.n ELSE s3.n END AS n,
             |    CAST(3 AS BIGINT) AS version
             |  FROM s2 FULL OUTER JOIN s3 ON s2.user_id = s3.user_id
             |  WHERE s2.user_id IS NULL OR s3.user_id IS NULL
             |    OR (s2.n IS DISTINCT FROM s3.n))
             |SELECT * FROM b
             |UNION ALL SELECT * FROM d12
             |UNION ALL SELECT * FROM d23""".stripMargin)
    )),

    // CDC-DRIVEN MATERIALIZED VIEW under the hard gate — the
    // SEVENTEENTH direct streaming row, and the capstone the CDC
    // source exists for: the LIVE twin of
    // q_snapshot_incremental_pipeline, now WITH deletes. Three corpus
    // states commit as tracked versions (revisions AND removals) while
    // a snapshot-changes stream's foreachBatch maintains a derived
    // embedding store via SnapshotTable.applyChangesCycle — recompute
    // ONLY changed keys, drop deleted ones — and the final batch is
    // deliberately RE-DELIVERED (at-least-once idempotence). The
    // oracle computes the FULL re-embed over the final state: a missed
    // change, a resurrected deleted key, a stale kept vector, or a
    // non-idempotent replay all hash-mismatch.
    "q_stream_cdc_view" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir)
        def rev(c: org.apache.spark.sql.Column) =
          when(pmod(col("doc_id"), lit(10)) === 0,
            concat(c, lit(" [rev2]"))).otherwise(c)
        val s1 = d.filter(pmod(col("doc_id"), lit(3)) =!= 2)
          .select(col("doc_id"), col("text").as("txt"))
        val s2 = d.filter(pmod(col("doc_id"), lit(2)) === 0)
          .select(col("doc_id"), rev(col("text")).as("txt"))
        val s3 = d.filter(pmod(col("doc_id"), lit(2)) === 0 &&
            pmod(col("doc_id"), lit(7)) =!= 3)
          .select(col("doc_id"), rev(col("text")).as("txt"))
        val derived = graft.streaming.EventStreams.replayCdcView(
          s, Seq(s1, s2, s3), Seq("doc_id"),
          df => df.select(col("doc_id"),
            operators.Sampling.hash32(col("txt"), "emb_").as("emb")))
        graft.core.SnapshotTable.read(s, derived)
      },
      Some("""SELECT doc_id,
             |  CAST('0x' || substr(md5('emb_' ||
             |    CASE WHEN doc_id % 10 = 0 THEN text || ' [rev2]'
             |      ELSE text END), 1, 8) AS BIGINT) AS emb
             |FROM documents
             |WHERE doc_id % 2 = 0 AND doc_id % 7 <> 3""".stripMargin)
    )),

    // STREAM-TO-STREAM CDC under the hard gate — the NINETEENTH direct
    // streaming row, and the full production loop as two COMPOSED live
    // streams: a tracked upsertSink writer commits deterministic
    // micro-batches (recording the changelog at commit time) while a
    // snapshot-changes READER stream tails the stored feed and
    // maintains a derived view via applyChangesCycle, the two drained
    // alternately. The oracle computes the final upsert table in SQL
    // (per user, the min-event_id row of the user's last batch): if
    // any hop — sink merge, feed recording, version offsets, view
    // apply — lost or duplicated a change, the view diverges and
    // hash-mismatches. A different user slice (100) than the other
    // upsert rows keeps it independently falsifiable.
    "q_stream_to_stream_cdc" -> ((
      (s: SparkSession, dir: String) => {
        val view = graft.streaming.EventStreams.replayStreamToStreamCdc(
          Tables.events(s, dir), "user_id", "ts", "event_id", "value",
          chunk = 256, maxUsers = 100)
        graft.core.SnapshotTable.read(s, view)
          .select(col("user_id"), col("event_id"), col("ts_s"),
            col("value"))
      },
      Some("""WITH e AS (SELECT event_id, ts, user_id, value FROM events
             |  WHERE user_id < 100),
             |o AS (SELECT event_id, ts, user_id, value,
             |    (row_number() OVER (ORDER BY ts, event_id) - 1) // 256 AS b
             |  FROM e),
             |m AS (SELECT user_id, max(b) AS bm FROM o GROUP BY 1),
             |r AS (SELECT o.user_id, o.event_id, o.ts, o.value,
             |    row_number() OVER (PARTITION BY o.user_id
             |      ORDER BY o.event_id) AS rn
             |  FROM o JOIN m ON m.user_id = o.user_id AND o.b = m.bm)
             |SELECT user_id, event_id,
             |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, value
             |FROM r WHERE rn = 1""".stripMargin)
    )),

    // COMPOSED MUTATION FEED under the hard gate — the TWENTIETH
    // direct streaming row, promoting the SnapshotChangesSourceSpec
    // scenario to the oracle: ONE live `snapshot-changes` stream
    // maintains a derived view while the source table mutates through
    // THREE different machineries in sequence — upsertTargeted's
    // batch-scoped feed step (revisions + brand-new keys),
    // deleteWhereDV's tombstone retractions, and a tracked restore's
    // net rollback diff. A mid-stream require proves the delete hop
    // actually landed (the tombstoned keys LEFT the view before the
    // restore brought them back); the oracle is the batch replay of
    // the same mutation sequence (final table = the post-upsert
    // state, since the restore rolls the delete back), so a feed row
    // lost, double-applied, or mis-versioned at ANY hop leaves the
    // view diverged and hash-mismatches.
    "q_stream_cdc_composed" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir)
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_cdc_composed_q").toString
        val root = s"$tmp/table"
        val view = s"$tmp/view"
        val base = d.filter(pmod(col("doc_id"), lit(3)) === 0)
          .select(col("doc_id"), col("source"),
            col("n_chars").cast("long").as("n_chars"))
        graft.core.SnapshotTable.commit(s, root, base,
          changeKeys = Seq("doc_id"))
        val q = s.readStream.format("snapshot-changes").load(root)
          .writeStream.option("checkpointLocation", s"$tmp/ckpt")
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
                           _: Long) =>
            graft.core.SnapshotTable.applyChangesCycle(
              batch, view, Seq("doc_id"),
              df => df.select(col("doc_id"),
                (col("n_chars") * 2L).as("feat")))
            ()
          }.start()
        try {
          q.processAllAvailable()
          // hop 1: a targeted upsert — every 6th doc revised, plus a
          // disjoint slice of brand-new keys
          val up = d.filter(pmod(col("doc_id"), lit(6)) === 0)
            .select(col("doc_id"), col("source"),
              (col("n_chars").cast("long") + 500L).as("n_chars"))
            .unionByName(d.filter(pmod(col("doc_id"), lit(3)) === 1 &&
                pmod(col("doc_id"), lit(5)) === 0)
              .select(col("doc_id"), col("source"),
                col("n_chars").cast("long").as("n_chars")))
          graft.core.SnapshotTable.upsertTargeted(up, root,
            Seq("doc_id"), trackChanges = true)
          q.processAllAvailable()
          // hop 2: scattered DV deletes retract through the feed
          graft.core.SnapshotTable.deleteWhereDV(s, root,
            pmod(col("doc_id"), lit(9)) === 0,
            changeKeys = Seq("doc_id"))
          q.processAllAvailable()
          require(graft.core.SnapshotTable.read(s, view)
              .filter(pmod(col("doc_id"), lit(9)) === 0)
              .limit(1).isEmpty,
            "the DV delete's feed did not retract from the live view")
          // hop 3: a tracked restore to the post-upsert state rolls
          // the view back with the table
          graft.core.SnapshotTable.restore(s, root, 2L,
            changeKeys = Seq("doc_id"))
          q.processAllAvailable()
        } finally q.stop()
        graft.core.SnapshotTable.read(s, view)
      },
      Some("""SELECT doc_id,
             |  CAST(CASE WHEN doc_id % 6 = 0 THEN (n_chars + 500) * 2
             |       ELSE n_chars * 2 END AS BIGINT) AS feat
             |FROM documents
             |WHERE doc_id % 3 = 0
             |   OR (doc_id % 3 = 1 AND doc_id % 5 = 0)""".stripMargin)
    )),

    // CDC-MAINTAINED DEDUP SIGNATURE STORE under the hard gate — the
    // EIGHTEENTH direct streaming row, closing the loop between the
    // snapshot CDC source and the incremental-dedup economics: the
    // standing corpus' banded MinHash store is kept current by the
    // LIVE change feed (drafts revised, decoy docs inserted then
    // DELETED — recompute only changed keys via applyChangesCycle with
    // bandedSignatureRows as the derive step), an in-query require
    // proves the maintained store row-for-row equals the direct
    // recompute over the final corpus, and the new-batch probe join
    // reuses q_incremental_dedup's exhaustive cross-join oracle — a
    // stale signature, a resurrected decoy, or a missed revision
    // changes the surviving pairs and hash-mismatches.
    "q_stream_cdc_dedup_store" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir)
        val odds = d.filter(pmod(col("doc_id"), lit(2)) === 1)
          .select(col("doc_id"), col("text").as("txt"))
        val decoys = d.filter(pmod(col("doc_id"), lit(10)) === 2)
          .select(col("doc_id"), col("text").as("txt"))
        val s1 = odds.filter(pmod(col("doc_id"), lit(3)) === 1)
          .select(col("doc_id"),
            when(pmod(col("doc_id"), lit(9)) === 1,
              lit("draft pending text")).otherwise(col("txt")).as("txt"))
          .unionByName(decoys)
        val s2 = odds.unionByName(decoys)
        val s3 = odds
        val storeRoot = graft.streaming.EventStreams.replayCdcView(
          s, Seq(s1, s2, s3), Seq("doc_id"),
          df => Dedup.bandedSignatureRows(df, "doc_id", "txt")
            .withColumnRenamed("id", "doc_id"))
        val store = graft.core.SnapshotTable.read(s, storeRoot)
        val direct = Dedup.bandedSignatureRows(odds, "doc_id", "txt")
          .withColumnRenamed("id", "doc_id")
        require(store.count() == direct.count() &&
            store.except(direct).isEmpty && direct.except(store).isEmpty,
          "the CDC-maintained signature store diverged from the " +
            "direct recompute over the final corpus")
        Dedup.minhashJoinPrecomputed(
          d.filter(pmod(col("doc_id"), lit(2)) === 0),
          store.withColumnRenamed("doc_id", "id"),
          Dedup.shingleSets(odds, "doc_id", "txt"),
          "doc_id", "text", threshold = 0.8)
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
             |g AS (SELECT doc_id, CASE WHEN len(ws) >= 3
             |  THEN list_distinct([ws[i+1] || '_' || ws[i+2] || '_' || ws[i+3] for i in range(len(ws)-2)])
             |  ELSE [] END sh FROM w),
             |e AS (SELECT doc_id, unnest(sh) s FROM g),
             |sz AS (SELECT doc_id, len(sh) n FROM g),
             |p AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) inter
             |      FROM e a JOIN e b ON a.s = b.s
             |      WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1 GROUP BY 1, 2)
             |SELECT id_a, id_b
             |FROM p JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
             |WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.8""".stripMargin)
    )),

    // CATEGORICAL manifest pruning under the hard gate — the equality
    // twin of q_snapshot_prune, and the single most common 100 TB
    // slice ("read only source=X"): documents commit clustered on
    // source with per-file category sets recorded, then a source probe
    // skips, in the planned scan's file index, every file whose category
    // set lacks the value. The in-query
    // require proves files were skipped; the oracle proves the
    // superset contract composed with the row filter loses nothing.
    "q_snapshot_prune_eq" -> ((
      (s: SparkSession, dir: String) => {
        val base = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("n_chars"))
          .repartition(8, col("source"))
        val root = java.nio.file.Files
          .createTempDirectory("graft_snappruneeq_q").toString + "/table"
        graft.core.SnapshotTable.commit(s, root, base,
          categoryCols = Seq("source"))
        val (total, kept) = graft.core.SnapshotTable.pruneCountsEq(
          s, root, "source", "src7")
        require(kept < total,
          s"category pruning skipped nothing: kept $kept of $total files")
        graft.core.SnapshotTable.scanPrunedEq(s, root, "source", "src7")
          .filter(col("source") === "src7")
          .select(col("doc_id"), col("source"), col("n_chars"))
      },
      Some("""SELECT doc_id, source, n_chars FROM documents
             |WHERE source = 'src7'""".stripMargin)
    )),

    // BLOOM manifest pruning under the hard gate — the point-lookup
    // third of the stats family (ranges need a clustered layout,
    // category sets cap at 16 distinct): an UNCLUSTERED-by-key events
    // slice commits with a per-file Bloom over event_id, then a point
    // probe skips, in the planned scan's file index, every file whose
    // Bloom rules the key out. The in-query
    // require proves files were skipped; the oracle proves the
    // superset contract composed with the row filter loses nothing —
    // a wrong hash on either side drops the row and hash-mismatches.
    "q_snapshot_prune_bloom" -> ((
      (s: SparkSession, dir: String) => {
        val base = Tables.events(s, dir).filter(col("user_id") < 200)
          .select(col("user_id"), col("event_id"), col("value"))
          .repartition(8, pmod(col("event_id"), lit(8)))
        val root = java.nio.file.Files
          .createTempDirectory("graft_snapbloom_q").toString + "/table"
        // 32768 bits/file: the sf0.1 slice is ~1.7k distinct ids per
        // file — inside the bits/8 saturation cap at both gate scales
        graft.core.SnapshotTable.commit(s, root, base,
          bloomCols = Seq("event_id"), bloomBits = 32768)
        val probe = base.agg(min(col("event_id"))).collect()(0).getLong(0)
        val (total, kept) = graft.core.SnapshotTable.pruneCountsBloom(
          s, root, "event_id", probe.toString)
        require(kept < total,
          s"bloom pruning skipped nothing: kept $kept of $total files")
        graft.core.SnapshotTable
          .scanPrunedBloom(s, root, "event_id", probe.toString)
          .filter(col("event_id") === probe)
          .select(col("user_id"), col("event_id"), col("value"))
      },
      Some("""SELECT user_id, event_id, value FROM events
             |WHERE user_id < 200 AND event_id =
             |  (SELECT min(event_id) FROM events WHERE user_id < 200)""".stripMargin)
    )),

    // TARGETED KEYED UPSERT under the hard gate — upsertCycle's merge
    // semantics WITHOUT its O(table) write amplification: a re-crawl
    // batch revising one source's docs rewrites ONLY the files whose
    // keys it hits (deleteWhere's manifest-prune + targeted-COW
    // discipline applied to the merge). In-query requires prove the
    // copy-on-write shape (some rewritten, some kept), that every
    // untouched v1 file is referenced BY NAME in v2's manifest, and
    // that the batch-scoped change feed carries only the revised
    // keys' updates. The oracle is the merged table — a dropped
    // bystander row from a rewritten file, a stale kept row, or a
    // missed batch key hash-mismatches.
    "q_snapshot_upsert_targeted" -> ((
      (s: SparkSession, dir: String) => {
        val base = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"),
            col("n_chars").cast("long").as("n_chars"))
          .repartition(8, col("source"))
        val root = java.nio.file.Files
          .createTempDirectory("graft_snapupsert_q").toString + "/table"
        graft.core.SnapshotTable.commit(s, root, base,
          categoryCols = Seq("source"), changeKeys = Seq("doc_id"))
        val batch = Tables.documents(s, dir)
          .filter(col("source") === "src3")
          .select(col("doc_id"), col("source"),
            (col("n_chars").cast("long") + 1000L).as("n_chars"))
        val (v2, rew, kept) = graft.core.SnapshotTable.upsertTargeted(
          batch, root, Seq("doc_id"),
          categoryCols = Seq("source"), trackChanges = true)
        require(v2 == 2L && rew >= 1 && kept >= 1,
          s"targeted COW did not hold: v$v2 rewrote $rew, kept $kept")
        def files(v: Long) = graft.core.SnapshotTable
          .readVersion(s, root, v).select(input_file_name())
          .distinct().collect().map(_.getString(0)).toSet
        val verbatim = (files(1L) intersect files(2L)).size
        // input_file_name() cannot observe zero-row part files (empty
        // hash partitions) — they are untouched by construction (no
        // rows, no keys), so account for them via the manifest count
        val zeroRow = graft.core.SnapshotTable.history(s, root)
          .filter(col("version") === 1L).select("n_files")
          .head().getInt(0) - files(1L).size
        require(verbatim == kept - zeroRow,
          s"expected ${kept - zeroRow} untouched v1 files referenced " +
            s"verbatim in v2, found $verbatim")
        val feed = graft.core.SnapshotTable.readChanges(s, root, 1L)
        require(feed.filter(col("change") =!= "update").count() == 0L,
          "the targeted upsert's changelog carried non-update rows")
        graft.core.SnapshotTable.read(s, root)
      },
      Some("""SELECT doc_id, source,
             |  CAST(CASE WHEN source = 'src3' THEN n_chars + 1000
             |       ELSE n_chars END AS BIGINT) AS n_chars
             |FROM documents""".stripMargin)
    )),

    // COPY-ON-WRITE DELETE under the hard gate — right-to-be-forgotten
    // on the snapshot format: documents commit clustered on source
    // with category stats, then deleteWhere(source='src3') rewrites
    // ONLY the files that hold src3 rows (in-query requires prove some
    // files were rewritten AND some kept verbatim) and records the
    // deletions in the change feed (require: the step is pure
    // deletes). The oracle is the surviving table — a resurrected row,
    // a lost innocent-bystander row from a rewritten file, or a
    // half-applied predicate hash-mismatches.
    "q_snapshot_delete" -> ((
      (s: SparkSession, dir: String) => {
        val base = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("n_chars"))
          .repartition(8, col("source"))
        val root = java.nio.file.Files
          .createTempDirectory("graft_snapdelete_q").toString + "/table"
        graft.core.SnapshotTable.commit(s, root, base,
          categoryCols = Seq("source"), changeKeys = Seq("doc_id"))
        val (_, rew, kept) = graft.core.SnapshotTable.deleteWhere(
          s, root, col("source") === "src3",
          changeKeys = Seq("doc_id"), categoryCols = Seq("source"))
        require(rew >= 1 && kept >= 1,
          s"copy-on-write did not hold: rewrote $rew, kept $kept verbatim")
        val feed = graft.core.SnapshotTable.readChanges(s, root, 1L)
        val nonDeletes = feed.filter(col("change") =!= "delete").count()
        require(nonDeletes == 0,
          s"the delete's changelog carried $nonDeletes non-delete rows")
        graft.core.SnapshotTable.read(s, root)
      },
      Some("""SELECT doc_id, source, n_chars FROM documents
             |WHERE source <> 'src3'""".stripMargin)
    )),

    // MERGE-ON-READ DELETE (deletion vectors) under the hard gate —
    // the scattered-delete complement of q_snapshot_delete's
    // copy-on-write: the SAME predicate deletes with ZERO data-file
    // rewrites — matching rows land as positional tombstones in a
    // _dv/ sidecar and every read anti-joins them out (Delta DVs /
    // Iceberg v2 position deletes on the house format). In-query
    // requires prove the zero-rewrite shape (v2's manifest = v1's
    // data entries + exactly the new DV files, via history's file
    // counts) and a pure-delete changelog; the oracle is the
    // surviving table, so a tombstone mapped to the wrong row
    // ordinal, a resurrected row, or an over-wide match
    // hash-mismatches against the COW twin's own oracle.
    "q_snapshot_delete_dv" -> ((
      (s: SparkSession, dir: String) => {
        val base = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("n_chars"))
          .repartition(8, col("source"))
        val root = java.nio.file.Files
          .createTempDirectory("graft_snapdeletedv_q").toString + "/table"
        graft.core.SnapshotTable.commit(s, root, base,
          categoryCols = Seq("source"), changeKeys = Seq("doc_id"))
        val (v2, n, dvFiles) = graft.core.SnapshotTable.deleteWhereDV(
          s, root, col("source") === "src3", changeKeys = Seq("doc_id"))
        require(v2 == 2L && n >= 1 && dvFiles >= 1,
          s"merge-on-read did not hold: v$v2 tombstoned $n in $dvFiles files")
        val nf = graft.core.SnapshotTable.history(s, root)
          .select("version", "n_files").collect()
          .map(r => r.getLong(0) -> r.getInt(1)).toMap
        require(nf(2L) == nf(1L) + dvFiles,
          s"expected zero data rewrites: v1 ${nf(1L)} files, " +
            s"v2 ${nf(2L)} with $dvFiles DV sidecars")
        val feed = graft.core.SnapshotTable.readChanges(s, root, 1L)
        require(feed.count() == n &&
            feed.filter(col("change") =!= "delete").count() == 0L,
          "the DV delete's changelog was not exactly the tombstoned rows")
        graft.core.SnapshotTable.read(s, root)
      },
      Some("""SELECT doc_id, source, n_chars FROM documents
             |WHERE source <> 'src3'""".stripMargin)
    )),

    // TARGETED ROW UPDATE under the hard gate — in-place repair priced
    // like the COW delete: updateWhere(source='src3', n_chars += 1000)
    // rewrites ONLY the files holding src3 rows with the set column
    // swapped under when(condition), references everything else
    // verbatim, and records the touched-diff feed (pure updates).
    // Deliberately shares q_snapshot_upsert_targeted's oracle: two
    // different mutations (keyed merge vs predicate update) must land
    // on the identical final state, so a divergence in either
    // machinery hash-mismatches the same SQL.
    "q_snapshot_update" -> ((
      (s: SparkSession, dir: String) => {
        val base = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"),
            col("n_chars").cast("long").as("n_chars"))
          .repartition(8, col("source"))
        val root = java.nio.file.Files
          .createTempDirectory("graft_snapupdate_q").toString + "/table"
        graft.core.SnapshotTable.commit(s, root, base,
          categoryCols = Seq("source"), changeKeys = Seq("doc_id"))
        val (v2, rew, kept) = graft.core.SnapshotTable.updateWhere(
          s, root, col("source") === "src3",
          Seq("n_chars" -> (col("n_chars") + 1000L)),
          changeKeys = Seq("doc_id"), categoryCols = Seq("source"))
        require(v2 == 2L && rew >= 1 && kept >= 1,
          s"targeted update did not hold: v$v2 rewrote $rew, kept $kept")
        val feed = graft.core.SnapshotTable.readChanges(s, root, 1L)
        require(feed.filter(col("change") =!= "update").count() == 0L,
          "the update's changelog carried non-update rows")
        graft.core.SnapshotTable.read(s, root)
      },
      Some("""SELECT doc_id, source,
             |  CAST(CASE WHEN source = 'src3' THEN n_chars + 1000
             |       ELSE n_chars END AS BIGINT) AS n_chars
             |FROM documents""".stripMargin)
    )),

    // RESTORE (rollback) under the hard gate — a bad commit undone as
    // a MANIFEST-ONLY publish: three states commit, restore(v1)
    // republishes v1's manifest lines verbatim as v4 (in-query
    // requires prove zero data movement via history's file counts and
    // that the rolled-back state stays time-travelable), and the
    // oracle reads the tip — a restore that re-derived, dropped stats,
    // or pointed at the wrong version hash-mismatches.
    "q_snapshot_restore" -> ((
      (s: SparkSession, dir: String) => {
        val ev = Tables.events(s, dir)
        def state(hi: Int, m: Int) = ev.filter(col("user_id") < hi)
          .groupBy("user_id")
          .agg(count(when(pmod(col("event_id"), lit(m)) === 0, 1)).as("n"))
        val root = java.nio.file.Files
          .createTempDirectory("graft_snaprestore_q").toString + "/table"
        graft.core.SnapshotTable.commit(s, root, state(70, 1))
        graft.core.SnapshotTable.commit(s, root, state(90, 2))
        graft.core.SnapshotTable.commit(s, root, state(110, 3))
        val v4 = graft.core.SnapshotTable.restore(s, root, 1L)
        require(v4 == 4L, s"restore published v$v4, expected v4")
        val nf = graft.core.SnapshotTable.history(s, root)
          .select("version", "n_files").collect()
          .map(r => r.getLong(0) -> r.getInt(1)).toMap
        require(nf(4L) == nf(1L),
          s"restore moved data: v1 ${nf(1L)} files, v4 ${nf(4L)}")
        // the rolled-back tip stays auditable
        require(graft.core.SnapshotTable.readVersion(s, root, 3L)
            .count() > 0L, "the bad version must stay time-travelable")
        graft.core.SnapshotTable.read(s, root)
      },
      Some("""SELECT user_id, CAST(count(*) AS BIGINT) AS n
             |FROM events WHERE user_id < 70 GROUP BY 1""".stripMargin)
    )),

    // Version TAGS under the hard gate — the provenance primitive of a
    // training pipeline ("the exact corpus model X trained on"), and a
    // retention LEASE: version 1 is tagged, two more states commit,
    // and vacuum(keepVersions=1) runs — the in-query require proves
    // the untagged middle was reclaimed while the tagged version
    // survived the horizon, and the oracle reads the TAG, so a tag
    // resolving to the wrong version or a vacuum eating a tagged
    // manifest both fail loudly.
    "q_snapshot_tag" -> ((
      (s: SparkSession, dir: String) => {
        val ev = Tables.events(s, dir)
        def state(hi: Int, m: Int) = ev.filter(col("user_id") < hi)
          .groupBy("user_id")
          .agg(count(when(pmod(col("event_id"), lit(m)) === 0, 1)).as("n"))
        val root = java.nio.file.Files
          .createTempDirectory("graft_snaptag_q").toString + "/table"
        graft.core.SnapshotTable.commit(s, root, state(70, 1))
        graft.core.SnapshotTable.tag(s, root, "train-v1", 1L)
        graft.core.SnapshotTable.commit(s, root, state(90, 2))
        graft.core.SnapshotTable.commit(s, root, state(110, 3))
        graft.core.SnapshotTable.vacuum(s, root, keepVersions = 1)
        val vs = graft.core.SnapshotTable.versions(s, root)
        require(vs == Seq(1L, 3L),
          s"tag lease failed: retained versions $vs, expected 1 and 3")
        graft.core.SnapshotTable.readTag(s, root, "train-v1")
      },
      Some("""SELECT user_id, CAST(count(*) AS BIGINT) AS n
             |FROM events WHERE user_id < 70 GROUP BY 1""".stripMargin)
    )),

    // Snapshot COMPACTION under the hard gate — compaction is just
    // another version: an 8-file fragmented commit rewrites to ONE
    // file (in-query requires prove the file count actually dropped
    // and a version actually published), and the oracle proves the
    // rewrite changed NOTHING about the rows — the invariance that
    // makes compaction safe to run inside a live incremental cycle.
    "q_snapshot_compact" -> ((
      (s: SparkSession, dir: String) => {
        val base = Tables.events(s, dir).filter(col("user_id") < 100)
          .select(col("user_id"), col("event_id"), col("value"))
          .repartition(8)
        val root = java.nio.file.Files
          .createTempDirectory("graft_snapcompact_q").toString + "/table"
        graft.core.SnapshotTable.commit(s, root, base)
        val v = graft.core.SnapshotTable.compactSnapshot(s, root,
          targetFileBytes = Long.MaxValue)
        require(v.map(_._1).contains(2L), s"compaction did not publish: $v")
        val nf = graft.core.SnapshotTable.read(s, root)
          .select(input_file_name()).distinct().count()
        require(nf == 1L, s"expected 1 compacted file, read $nf")
        graft.core.SnapshotTable.read(s, root)
      },
      Some("""SELECT user_id, event_id, value FROM events
             |WHERE user_id < 100""".stripMargin)
    )),

    // TRANSPARENT DATA SKIPPING under the hard gate — the
    // manifest-backed FileIndex (SnapshotFileIndex): a PLAIN
    // `.filter(...)` on SnapshotTable.read reaches the index through
    // Spark's pushed-down data filters and opens only the files whose
    // recorded range sections admit the predicate. The in-query require reads the EXECUTED scan's
    // numFiles metric (row counts cannot distinguish file skipping
    // from parquet row-group pruning) and demands a strict subset;
    // the oracle recomputes the same filter in SQL, so pruning that
    // drops a matching file (or a wrongly-kept duplicate) is a hash
    // mismatch, not just a slow plan.
    "q_snapshot_index" -> ((
      (s: SparkSession, dir: String) => {
        val base = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"),
            col("n_chars").cast("long").as("n_chars"))
          .repartitionByRange(8, col("doc_id"))
        val root = java.nio.file.Files
          .createTempDirectory("graft_snapidx_q").toString + "/table"
        graft.core.SnapshotTable.commit(s, root, base,
          statsCols = Seq("doc_id"))
        val mx = base.agg(max(col("doc_id"))).head().getLong(0)
        val k = mx / 8L
        val probe = graft.core.SnapshotTable.read(s, root)
          .filter(col("doc_id") <= k)
        probe.collect()
        val n = probe.queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }.map(_.metrics("numFiles").value).sum
        require(n >= 1 && n < 8,
          s"transparent pruning opened $n of 8 files")
        graft.core.SnapshotTable.read(s, root)
          .filter(col("doc_id") <= k)
      },
      Some("""SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
             |FROM documents
             |WHERE doc_id <= (SELECT max(doc_id) // 8 FROM documents)"""
        .stripMargin)
    )),

    // TARGETED (binpack) COMPACTION under the hard gate — the
    // complement of q_snapshot_compact's full-rewrite fixture, proving
    // compaction scales: a mixed layout (two FAT files, two SMALL
    // appends) takes a DV point-delete whose tombstone lands in fat
    // file 1, and compactSnapshot folds it by rewriting ONLY the
    // tombstoned fat file and the two smalls — the in-query requires
    // prove the CLEAN fat file's name survives into the new manifest
    // verbatim (one small sidecar must never force a table rewrite)
    // and that no sidecar is referenced afterwards. The oracle is the
    // surviving table: a row lost from a rewritten file, a resurrected
    // tombstone, or a clean file dropped from the manifest all
    // hash-mismatch.
    "q_snapshot_compact_targeted" -> ((
      (s: SparkSession, dir: String) => {
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("value"))
        val root = java.nio.file.Files
          .createTempDirectory("graft_snapbinpack_q").toString + "/table"
        graft.core.SnapshotTable.commit(s, root,
          ev.filter(col("user_id") < 60).coalesce(1))
        graft.core.SnapshotTable.append(s, root,
          ev.filter(col("user_id") >= 60 && col("user_id") < 120)
            .coalesce(1))
        graft.core.SnapshotTable.append(s, root,
          ev.filter(col("user_id") >= 120 && col("user_id") < 125)
            .coalesce(1))
        graft.core.SnapshotTable.append(s, root,
          ev.filter(col("user_id") >= 125 && col("user_id") < 130)
            .coalesce(1))
        // manifest-derived file list (root-relative): input_file_name()
        // is unavailable once the DV anti-join is in the read plan —
        // the documented multi-source boundary
        def files() = graft.core.SnapshotTable.dataFiles(s, root)
        // size-derived threshold: target = the smaller fat file, so
        // both fats clear the 3/4 bar and both 5-user appends do not —
        // the same split at every SF
        val fsys = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        def len(p: String) = fsys.getFileStatus(
          new org.apache.hadoop.fs.Path(root, p)).getLen
        val bySize = files().map(p => p -> len(p)).sortBy(-_._2)
        val target = bySize(1)._2
        require(bySize(2)._2 < target - target / 4,
          "fixture drift: the small appends are not under threshold")
        val (_, nDel, dvAdded) = graft.core.SnapshotTable.deleteWhereDV(
          s, root, col("user_id") === 5L)
        require(nDel >= 1L && dvAdded == 1,
          s"DV fixture: $nDel rows, $dvAdded sidecars")
        val before = files().toSet
        val res = graft.core.SnapshotTable.compactSnapshot(s, root,
          targetFileBytes = target)
        require(res.isDefined, "tombstone + small files must compact")
        val (_, rew, kept) = res.get
        require(rew == 3 && kept == 1,
          s"binpack lost its shape: rewrote $rew, kept $kept")
        val survived = before intersect files().toSet
        require(survived.size == 1,
          s"expected exactly the clean fat file verbatim, got " +
            s"${survived.size}")
        require(graft.core.SnapshotTable.dvFileCount(s, root) == 0,
          "compaction left live sidecar references")
        graft.core.SnapshotTable.read(s, root)
      },
      Some("""SELECT event_id, user_id, value FROM events
             |WHERE user_id < 130 AND user_id <> 5""".stripMargin)
    )),

    // SCHEMA EVOLUTION on the snapshot format under the hard gate —
    // append's loud drift refusal now has its exit ramp
    // (SnapshotTable.evolveAddColumns): v1 commits two columns, a
    // migration commit materializes a defaulted third, and a
    // NEW-schema batch appends cleanly on top. In-query requires prove
    // time travel is untouched (v1 still reads the OLD schema) and the
    // pre-evolution append would still refuse; the oracle proves the
    // default materialized into every old row and the append lost
    // nothing — a wrong default, a dropped row, or a half-applied
    // projection hash-mismatches.
    "q_snapshot_evolve" -> ((
      (s: SparkSession, dir: String) => {
        val ev = Tables.events(s, dir)
        val s1 = ev.filter(col("user_id") < 90).groupBy("user_id")
          .agg(count(lit(1)).as("n"))
        val root = java.nio.file.Files
          .createTempDirectory("graft_snapevolve_q").toString + "/table"
        graft.core.SnapshotTable.commit(s, root, s1)
        graft.core.SnapshotTable.evolveAddColumns(s, root,
          Seq("src" -> lit("legacy")))
        // time travel is untouched by the migration: v1 keeps the
        // narrow schema
        val v1Cols = graft.core.SnapshotTable.readVersion(s, root, 1L)
          .columns.sorted
        require(v1Cols.sameElements(Array("n", "user_id")),
          s"evolution rewrote history: v1 reads (${v1Cols.mkString(",")})")
        val batch2 = ev.filter(col("user_id") >= 90 && col("user_id") < 130)
          .groupBy("user_id").agg(count(lit(1)).as("n"))
          .withColumn("src", lit("batch2"))
        graft.core.SnapshotTable.append(s, root, batch2)
        graft.core.SnapshotTable.read(s, root)
          .select(col("user_id"), col("n"), col("src"))
      },
      Some("""SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             |  'legacy' AS src
             |FROM events WHERE user_id < 90 GROUP BY 1
             |UNION ALL
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             |  'batch2' AS src
             |FROM events WHERE user_id >= 90 AND user_id < 130
             |GROUP BY 1""".stripMargin)
    )),

    // INCREMENTAL-RECOMPUTE capstone on the snapshot format — the
    // economics the changelog exists for, proven lossless under one
    // oracle: a corpus commits, a re-crawl cycle upserts (every 10th
    // even doc's text revised), and the downstream embedding store is
    // updated INCREMENTALLY — hash-embeddings recomputed ONLY for
    // changesSince keys, all other docs keeping their v1 vectors.
    // The oracle computes the FULL recompute over the final state, so
    // equality proves the incremental path loses nothing: a missed
    // changelog row, a stale kept vector, or a wrong merge priority
    // leaves some doc's embedding at the wrong revision and
    // hash-mismatches.
    "q_snapshot_incremental_pipeline" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir)
        val s1 = d.filter(pmod(col("doc_id"), lit(3)) =!= 2)
          .select(col("doc_id"), col("source"), col("text").as("txt"))
        val s2 = d.filter(pmod(col("doc_id"), lit(2)) === 0)
          .select(col("doc_id"), col("source"),
            when(pmod(col("doc_id"), lit(10)) === 0,
              concat(col("text"), lit(" [rev2]")))
              .otherwise(col("text")).as("txt"))
        val root = java.nio.file.Files
          .createTempDirectory("graft_snapinc_q").toString + "/table"
        graft.core.SnapshotTable.commit(s, root, s1)
        graft.core.SnapshotTable.upsertCycle(s2, root, Seq("doc_id"),
          Seq(col("txt")))
        // v1 embeddings: the full pass that ran when cycle 1 landed
        val emb1 = graft.core.SnapshotTable.readVersion(s, root, 1L)
          .select(col("doc_id"),
            operators.Sampling.hash32(col("txt"), "emb_").as("emb"))
        // the incremental path: recompute ONLY the changelog keys
        // (upsert cycles never delete, so every change row carries the
        // NEW txt)
        val changed = graft.core.SnapshotTable
          .changesSince(s, root, 1L, Seq("doc_id"))
          .select(col("doc_id"),
            operators.Sampling.hash32(col("txt"), "emb_").as("emb"))
        operators.Components.mergeFirstWriterWins(
          Seq(changed, emb1), Seq("doc_id"), Seq(col("emb")))
      },
      Some("""WITH s1 AS (SELECT doc_id, text AS txt FROM documents
             |  WHERE doc_id % 3 <> 2),
             |s2 AS (SELECT doc_id,
             |    CASE WHEN doc_id % 10 = 0 THEN text || ' [rev2]'
             |      ELSE text END AS txt
             |  FROM documents WHERE doc_id % 2 = 0),
             |fin AS (SELECT doc_id, txt FROM s2
             |  UNION ALL
             |  SELECT doc_id, txt FROM s1
             |  WHERE doc_id NOT IN (SELECT doc_id FROM s2))
             |SELECT doc_id,
             |  CAST('0x' || substr(md5('emb_' || txt), 1, 8) AS BIGINT) AS emb
             |FROM fin""".stripMargin)
    )),

    // Snapshot CHANGELOG-SINCE under the hard gate —
    // SnapshotTable.changesSince, the incremental-consumer API: three
    // deterministic per-user states commit as versions 1..3 and the
    // consumer catches up from version 1, receiving BOTH per-step
    // diffs concatenated with the introducing version (a key changed
    // in both steps appears twice). The oracle replays both
    // classifications and unions them — a missed step, a net-diff
    // shortcut, or a wrong version tag changes the row set and
    // hash-mismatches.
    "q_snapshot_changes" -> ((
      (s: SparkSession, dir: String) => {
        val ev = Tables.events(s, dir)
        val s1 = ev.filter(col("user_id") < 60).groupBy("user_id")
          .agg(count(lit(1)).as("n"))
        val s2 = ev.filter(col("user_id") < 80).groupBy("user_id")
          .agg(count(when(pmod(col("event_id"), lit(2)) === 0, 1)).as("n"))
        val s3 = ev.filter(col("user_id") >= 40 && col("user_id") < 100)
          .groupBy("user_id")
          .agg(count(when(pmod(col("event_id"), lit(3)) === 0, 1)).as("n"))
        val root = java.nio.file.Files
          .createTempDirectory("graft_snapchanges_q").toString + "/table"
        graft.core.SnapshotTable.commit(s, root, s1)
        graft.core.SnapshotTable.commit(s, root, s2)
        graft.core.SnapshotTable.commit(s, root, s3)
        graft.core.SnapshotTable.changesSince(s, root, 1L, Seq("user_id"))
      },
      Some("""WITH s1 AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
             |  FROM events WHERE user_id < 60 GROUP BY 1),
             |s2 AS (SELECT user_id,
             |    CAST(count(*) FILTER (WHERE event_id % 2 = 0) AS BIGINT) AS n
             |  FROM events WHERE user_id < 80 GROUP BY 1),
             |s3 AS (SELECT user_id,
             |    CAST(count(*) FILTER (WHERE event_id % 3 = 0) AS BIGINT) AS n
             |  FROM events WHERE user_id >= 40 AND user_id < 100 GROUP BY 1),
             |d12 AS (SELECT COALESCE(s1.user_id, s2.user_id) AS user_id,
             |    CASE WHEN s1.user_id IS NULL THEN 'insert'
             |      WHEN s2.user_id IS NULL THEN 'delete'
             |      ELSE 'update' END AS change,
             |    CASE WHEN s2.user_id IS NULL THEN s1.n ELSE s2.n END AS n,
             |    CAST(2 AS BIGINT) AS version
             |  FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id
             |  WHERE s1.user_id IS NULL OR s2.user_id IS NULL
             |    OR (s1.n IS DISTINCT FROM s2.n)),
             |d23 AS (SELECT COALESCE(s2.user_id, s3.user_id) AS user_id,
             |    CASE WHEN s2.user_id IS NULL THEN 'insert'
             |      WHEN s3.user_id IS NULL THEN 'delete'
             |      ELSE 'update' END AS change,
             |    CASE WHEN s3.user_id IS NULL THEN s2.n ELSE s3.n END AS n,
             |    CAST(3 AS BIGINT) AS version
             |  FROM s2 FULL OUTER JOIN s3 ON s2.user_id = s3.user_id
             |  WHERE s2.user_id IS NULL OR s3.user_id IS NULL
             |    OR (s2.n IS DISTINCT FROM s3.n))
             |SELECT * FROM d12 UNION ALL SELECT * FROM d23""".stripMargin)
    )),

    // Manifest-level FILE PRUNING under the hard gate — the snapshot
    // format's scan-planning half: an events slice commits
    // range-partitioned on user_id with per-file min/max recorded in
    // the manifest (statsCols), then a key-range read skips, in the
    // planned scan's file index, every file whose range cannot
    // intersect (the int column's widening cast unwraps to a bare
    // attribute, so the long bounds still prune). The in-query
    // require proves files were actually skipped (kept < total); the
    // oracle proves pruning composed with the row filter loses
    // nothing — a wrong min/max or an off-by-one bound drops rows and
    // hash-mismatches.
    "q_snapshot_prune" -> ((
      (s: SparkSession, dir: String) => {
        val base = Tables.events(s, dir).filter(col("user_id") < 200)
          .select(col("user_id"), col("event_id"), col("value"))
          .repartitionByRange(8, col("user_id"))
        val root = java.nio.file.Files
          .createTempDirectory("graft_snapprune_q").toString + "/table"
        graft.core.SnapshotTable.commit(s, root, base,
          statsCols = Seq("user_id"))
        val (total, kept) = graft.core.SnapshotTable.pruneCounts(
          s, root, "user_id", 40L, 79L)
        require(kept < total,
          s"manifest pruning skipped nothing: kept $kept of $total files")
        graft.core.SnapshotTable.scanPruned(s, root, "user_id", 40L, 79L)
          .filter(col("user_id").between(40, 79))
          .select(col("user_id"), col("event_id"), col("value"))
      },
      Some("""SELECT user_id, event_id, value FROM events
             |WHERE user_id BETWEEN 40 AND 79""".stripMargin)
    )),

    // Snapshot CHANGELOG under the hard gate — SnapshotTable.diff, the
    // "what did cycle N change" companion of q_snapshot_table: two
    // deterministic per-user states commit as versions 1 and 2 (state
    // 1: users < 80, eid = min event, n = all events; state 2: users
    // 20..119, n = events with event_id % 3 = 0), then the keyed
    // full-outer diff classifies insert (users 80+), delete (users
    // < 20, carrying LAST-SEEN values) and update (overlap users whose
    // n or eid moved), dropping identical keys. The oracle replays the
    // classification with IS DISTINCT FROM — a null-safety slip or a
    // wrong carried side hash-mismatches.
    "q_snapshot_diff" -> ((
      (s: SparkSession, dir: String) => {
        val ev = Tables.events(s, dir)
        val s1 = ev.filter(col("user_id") < 80).groupBy("user_id")
          .agg(min(col("event_id")).as("eid"), count(lit(1)).as("n"))
        val s2 = ev.filter(col("user_id") >= 20 && col("user_id") < 120)
          .groupBy("user_id")
          .agg(min(col("event_id")).as("eid"),
            count(when(pmod(col("event_id"), lit(3)) === 0, 1)).as("n"))
        val root = java.nio.file.Files
          .createTempDirectory("graft_snapdiff_q").toString + "/table"
        graft.core.SnapshotTable.commit(s, root, s1)
        graft.core.SnapshotTable.commit(s, root, s2)
        graft.core.SnapshotTable.diff(s, root, 1L, 2L, Seq("user_id"))
      },
      Some("""WITH s1 AS (SELECT user_id, min(event_id) AS eid,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM events WHERE user_id < 80 GROUP BY 1),
             |s2 AS (SELECT user_id, min(event_id) AS eid,
             |    CAST(count(*) FILTER (WHERE event_id % 3 = 0) AS BIGINT) AS n
             |  FROM events WHERE user_id >= 20 AND user_id < 120 GROUP BY 1),
             |j AS (SELECT COALESCE(s1.user_id, s2.user_id) AS user_id,
             |    s1.user_id IS NOT NULL AS a, s2.user_id IS NOT NULL AS b,
             |    s1.eid AS ea, s1.n AS na, s2.eid AS eb, s2.n AS nb
             |  FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id)
             |SELECT user_id,
             |  CASE WHEN NOT a THEN 'insert' WHEN NOT b THEN 'delete'
             |    ELSE 'update' END AS change,
             |  CASE WHEN NOT b THEN ea ELSE eb END AS eid,
             |  CASE WHEN NOT b THEN na ELSE nb END AS n
             |FROM j
             |WHERE (NOT a) OR (NOT b)
             |  OR (ea IS DISTINCT FROM eb) OR (na IS DISTINCT FROM nb)""".stripMargin)
    )),

    // STREAMING exact dedup under the hard gate — the eleventh direct
    // streaming row: a bounded slice replays through the real
    // dropDuplicatesWithinWatermark state store in occurrence-ordinal
    // micro-batches (each batch at most one row per key, so the
    // implementation-defined within-batch survivor can't blur the
    // claim under test: cross-batch keyed dedup). 750 of the slice's
    // (user, type) keys repeat, every repeat must be swallowed, and
    // the survivor must be the first-(ts, event_id) occurrence — the
    // oracle's rn = 1 row.
    "q_stream_dedup_watermark" -> ((
      (s: SparkSession, dir: String) =>
        graft.streaming.EventStreams.replayDedupWithinWatermark(
          Tables.events(s, dir), "user_id", "event_type", "ts",
          "event_id", "value", maxUsers = 150),
      Some("""WITH e AS (SELECT event_id, ts, user_id, event_type, value
             |  FROM events WHERE user_id < 150),
             |r AS (SELECT user_id, event_type, event_id, ts, value,
             |    row_number() OVER (PARTITION BY user_id, event_type
             |      ORDER BY ts, event_id) AS rn
             |  FROM e)
             |SELECT user_id, event_type, event_id,
             |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, value
             |FROM r WHERE rn = 1""".stripMargin)
    )),

    // STREAMING interval join under the hard gate — the twelfth direct
    // streaming row: purchase->click attribution within one hour,
    // through the real stream-stream inner join whose time-interval
    // condition is what bounds its state. Inner-append emission is
    // exactly-once per qualifying pair and chunking-invariant, so the
    // emitted set must equal the batch interval join verbatim.
    "q_stream_interval_join" -> ((
      (s: SparkSession, dir: String) =>
        graft.streaming.EventStreams.replayIntervalJoin(
          Tables.events(s, dir), "user_id", "ts", "event_id",
          "event_type", leftType = "purchase", rightType = "click",
          windowSeconds = 3600, maxUsers = 100),
      Some("""WITH l AS (SELECT user_id, ts, event_id FROM events
             |  WHERE event_type = 'purchase' AND user_id < 100),
             |r AS (SELECT user_id, ts, event_id FROM events
             |  WHERE event_type = 'click' AND user_id < 100)
             |SELECT l.user_id, l.event_id AS eid_a, r.event_id AS eid_b
             |FROM l JOIN r ON l.user_id = r.user_id
             |  AND r.ts >= l.ts AND r.ts < l.ts + INTERVAL 3600 SECOND""".stripMargin)
    )),

    // STREAMING cohort retention under the hard gate (the streaming
    // family's third direct row, after q_stream_passage_dedup and
    // q_stream_domain_cap): a bounded user slice's purchase events are
    // replayed through the real retentionStream in ascending
    // (ts, user_id) order — per-user arrival is time-ordered, so each
    // user's first event anchors the cohort and the state-store
    // emissions equal the batch retentionCohorts ACTIVITY rows, which
    // IS the SQL oracle (finer than the aggregated triangle: every
    // (user, cohort, offset) emission is hash-checked).
    "q_stream_retention" -> ((
      (s: SparkSession, dir: String) =>
        graft.streaming.EventStreams.replayRetention(
          Tables.events(s, dir).filter(col("event_type") === "purchase"),
          "user_id", "ts", maxUsers = 200),
      Some("""WITH a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS bucket
             |  FROM events WHERE event_type = 'purchase' AND user_id < 200),
             |c AS (SELECT user_id, min(bucket) AS c0 FROM a GROUP BY 1)
             |SELECT user_id, strftime(c0, '%Y-%m-%d') AS cohort,
             |  CAST(date_diff('day', c0, bucket) // 7 AS INTEGER) AS offset
             |FROM a JOIN c USING (user_id)""".stripMargin)
    )),

    // STREAMING sessionization under the hard gate — the fifth direct
    // streaming row: a bounded user slice replays through the REAL
    // flatMapGroupsWithState sessionizer in (ts, event_id) order, a
    // per-user sentinel closes every open session (NoTimeout
    // semantics: the next same-user event IS the closing signal), and
    // the emitted sessions must equal q_sessionize's window
    // formulation row-for-row. total_value is the state machine's
    // sequential double fold, replayed as a (ts, event_id)-ordered
    // list_reduce — bit-identical, no rounding.
    "q_stream_sessionize" -> ((
      (s: SparkSession, dir: String) =>
        graft.streaming.EventStreams.replaySessionize(
          Tables.events(s, dir), "user_id", "ts", "event_id", "value",
          gapMs = 30L * 60 * 1000, maxUsers = 100)
          .select(col("user_id"), col("n_events"),
            date_format(col("start"), "yyyy-MM-dd HH:mm:ss")
              .as("session_start"),
            date_format(col("end"), "yyyy-MM-dd HH:mm:ss")
              .as("session_end"),
            col("total_value")),
      Some("""WITH g AS (
             |  SELECT user_id, event_id, ts, value,
             |    CASE WHEN lag(epoch_us(ts), 1) OVER w IS NULL
             |           OR epoch_us(ts) - lag(epoch_us(ts), 1) OVER w
             |              > 30*60*1000000
             |         THEN 1 ELSE 0 END AS brk
             |  FROM events WHERE user_id < 100
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |),
             |sess AS (
             |  SELECT user_id, event_id, ts, value,
             |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS si
             |  FROM g
             |)
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
             |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
             |  list_reduce(list(value ORDER BY ts, event_id),
             |    (a, b) -> a + b) AS total_value
             |FROM sess GROUP BY user_id, si""".stripMargin)
    )),

    // STREAMING count-min gate — the sixth direct streaming row, and
    // the first gating a SKETCH: weekly windowed CMS cells from the
    // real append-mode aggregation (final counts at watermark close,
    // MemoryStream replay) must equal the batch CMS of each window
    // cell-for-cell — md5-derived buckets replay verbatim in SQL, so
    // the whole sketch is hash-checked, proving the streaming form
    // sees exactly the batch's tokens.
    "q_stream_heavy_hitters" -> ((
      (s: SparkSession, dir: String) =>
        graft.streaming.EventStreams.replayWindowedCountMin(
          Tables.events(s, dir)
            .filter(col("event_type") === "purchase" && col("user_id") < 400),
          "ts", concat(lit("u"), pmod(col("user_id"), lit(50L))),
          d = 4, w = 1024),
      Some("""WITH ev AS (SELECT ts,
             |    'u' || CAST(user_id % 50 AS VARCHAR) AS t
             |  FROM events WHERE event_type = 'purchase' AND user_id < 400),
             |wb AS (SELECT strftime(DATE '1970-01-01' +
             |      CAST(CAST(floor(epoch(ts) / 604800) AS BIGINT) * 7 AS INTEGER),
             |      '%Y-%m-%d') AS win_start, t FROM ev),
             |rws AS (SELECT unnest([0, 1, 2, 3]) AS r)
             |SELECT win_start, CAST(rws.r AS INTEGER) AS row,
             |  CAST('0x' || substr(md5(CAST(rws.r AS VARCHAR) || '_' || wb.t),
             |    1, 8) AS BIGINT) % 1024 AS bucket,
             |  CAST(count(*) AS BIGINT) AS cnt
             |FROM wb, rws GROUP BY 1, 2, 3""".stripMargin)
    )),

    // STREAMING KMV — the thirteenth direct streaming row, second to
    // gate a SKETCH: distinct user ids replay in ascending order
    // through the REAL flatMapGroupsWithState operator (bounded k-long
    // state, map-side pre-cut), emitting the running estimate after
    // every micro-batch; the oracle replays each prefix's k-smallest
    // cut and division in SQL. The sf0.01 slice crosses the below-k
    // exact branch INTO the estimator branch mid-replay (prefixes
    // 30/60 < k=64 < 90/120/150), so both paths sit under the gate.
    "q_stream_kmv" -> ((
      (s: SparkSession, dir: String) =>
        graft.streaming.EventStreams.replayKmv(
          Tables.events(s, dir), "user_id", k = 64, chunks = 5),
      Some("""WITH v AS (SELECT DISTINCT CAST(user_id AS BIGINT) AS v
             |  FROM events),
             |c AS (SELECT CAST(ceil(CAST(count(*) AS DOUBLE) / 5) AS BIGINT)
             |    AS chunk FROM v),
             |r AS (SELECT
             |    CAST('0x' || substr(md5('kmv_' || CAST(v AS VARCHAR)), 1, 8)
             |      AS BIGINT) AS h,
             |    (CAST(row_number() OVER (ORDER BY v) AS BIGINT) - 1) // chunk
             |      AS b
             |  FROM v CROSS JOIN c),
             |ords AS (SELECT DISTINCT b FROM r),
             |pre AS (SELECT o.b, r2.h FROM ords o JOIN r r2 ON r2.b <= o.b),
             |rk AS (SELECT b, h,
             |    CAST(row_number() OVER (PARTITION BY b ORDER BY h) AS BIGINT)
             |      AS rn,
             |    CAST(count(*) OVER (PARTITION BY b) AS BIGINT) AS n
             |  FROM pre),
             |agg AS (SELECT b, max(n) AS n_pre,
             |    max(CASE WHEN rn = least(n, 64) THEN h END) AS kth
             |  FROM rk GROUP BY 1)
             |SELECT CAST(b + 1 AS INTEGER) AS ord,
             |  least(n_pre, 64) AS n_state, kth AS kth_hash,
             |  CASE WHEN n_pre < 64 THEN CAST(n_pre AS DOUBLE)
             |    ELSE round(63.0 * 4294967296.0 / CAST(kth AS DOUBLE), 6)
             |  END AS est
             |FROM agg""".stripMargin)
    )),

    // STREAMING drift gate — the fourth direct streaming correctness
    // row: weekly score distributions come from the REAL append-mode
    // windowed aggregation (final counts at watermark close, replayed
    // through MemoryStream), then each closed window's distribution
    // scores a PSI against the full slice's batch reference — window
    // vs corpus, the q_drift_psi discipline (round-9 terms, b-ordered
    // fold). The oracle recomputes the epoch-aligned 7-day windows
    // and the PSI algebra entirely in SQL: streaming final counts
    // must EQUAL batch counts or every downstream double moves.
    "q_stream_drift" -> ((
      (s: SparkSession, dir: String) => {
        val scoreE = expr("CAST((user_id * 37) % 1000 AS DOUBLE) / 1000.0")
        val ev = Tables.events(s, dir)
          .filter(col("event_type") === "purchase" && col("user_id") < 300)
        val counts = graft.streaming.EventStreams.replayScoreDistribution(
          ev, "ts", scoreE, bins = 10)
        val ref = ev
          .select(greatest(least(ceil(scoreE * 10).cast("long"), lit(10L)),
            lit(1L)).as("b"))
          .groupBy("b").agg(count(lit(1)).as("nr"))
        val rt = ref.agg(sum("nr").as("n_ref"))
        val ct = counts.groupBy("win_start").agg(sum("n").as("n_events"))
        counts.select("win_start").distinct()
          .crossJoin(broadcast(ref))
          .join(counts.withColumnRenamed("n", "nc"), Seq("win_start", "b"),
            "left")
          .withColumn("nc", coalesce(col("nc"), lit(0L)))
          .crossJoin(broadcast(rt))
          .join(ct, "win_start")
          .withColumn("p", greatest(col("nr").cast("double") /
            col("n_ref").cast("double"), lit(1e-4)))
          .withColumn("q", greatest(col("nc").cast("double") /
            col("n_events").cast("double"), lit(1e-4)))
          .withColumn("term", round((col("p") - col("q")) *
            log(col("p") / col("q")), 9))
          .groupBy("win_start", "n_events")
          .agg(sort_array(collect_list(struct(col("b"), col("term"))))
            .as("terms"))
          .select(col("win_start"), col("n_events"),
            round(expr(
              "aggregate(terms, cast(0 as double), (acc, x) -> acc + x.term)"),
              6).as("psi"))
      },
      Some("""WITH ev AS (SELECT ts,
             |    CAST((user_id * 37) % 1000 AS DOUBLE) / 1000.0 AS score
             |  FROM events WHERE event_type = 'purchase' AND user_id < 300),
             |wb AS (SELECT strftime(DATE '1970-01-01' +
             |      CAST(CAST(floor(epoch(ts) / 604800) AS BIGINT) * 7 AS INTEGER),
             |      '%Y-%m-%d') AS win_start,
             |    greatest(least(CAST(ceil(score * 10) AS BIGINT), 10), 1) AS b
             |  FROM ev),
             |wc AS (SELECT win_start, b, CAST(count(*) AS BIGINT) AS nc
             |  FROM wb GROUP BY 1, 2),
             |ref AS (SELECT greatest(least(CAST(ceil(score * 10) AS BIGINT), 10), 1) AS b,
             |    CAST(count(*) AS BIGINT) AS nr FROM ev GROUP BY 1),
             |rt AS (SELECT CAST(sum(nr) AS BIGINT) AS n_ref FROM ref),
             |ct AS (SELECT win_start, CAST(sum(nc) AS BIGINT) AS n_events
             |  FROM wc GROUP BY 1),
             |grid AS (SELECT w.win_start, ref.b, ref.nr,
             |    COALESCE(wc.nc, 0) AS nc
             |  FROM (SELECT DISTINCT win_start FROM wc) w
             |  CROSS JOIN ref
             |  LEFT JOIN wc ON wc.win_start = w.win_start AND wc.b = ref.b),
             |t AS (SELECT g.win_start, g.b, ct.n_events,
             |    greatest(CAST(g.nr AS DOUBLE) / CAST(rt.n_ref AS DOUBLE), 0.0001) AS p,
             |    greatest(CAST(g.nc AS DOUBLE) / CAST(ct.n_events AS DOUBLE), 0.0001) AS q
             |  FROM grid g CROSS JOIN rt JOIN ct ON ct.win_start = g.win_start)
             |SELECT win_start, max(n_events) AS n_events,
             |  round(list_sum([x.term FOR x IN
             |    list({'b': b, 'term': round((p - q) * ln(p / q), 9)} ORDER BY b)]), 6) AS psi
             |FROM t GROUP BY win_start""".stripMargin)
    )),

    // Tokenizer fitness report per source: fertility (BPE tokens per
    // word) and compression (chars per BPE token) over the REAL
    // trained tokenizer — the metric sheet a tokenizer change ships
    // with. Integer sums per source, ratios as one double division of
    // exact longs — identical in both engines.
    "q_tokenizer_stats" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir)
        // merges + vocab from ONE corpus word pass (round 17) —
        // byte-identical to the trainMerges-then-vocab sequence
        val (merges, vocab) = operators.Bpe.trainAndVocab(d, "text", rounds = 3)
        val enc = operators.Bpe.encode(d, "text", "doc_id", merges, vocab)
        d.select(col("doc_id"), col("source"),
            size(filter(split(col("text"), " "), w => length(w) > 0))
              .cast("long").as("n_words"),
            length(col("text")).cast("long").as("n_chars"))
          .join(enc.select(col("doc_id"), col("n_bpe")), "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_words").as("words"),
            sum("n_bpe").as("bpe_tokens"),
            sum("n_chars").as("chars"))
          .select(col("source"), col("n_docs"), col("words"),
            col("bpe_tokens"), col("chars"),
            round(col("bpe_tokens").cast("double") / col("words").cast("double"), 6)
              .as("fertility"),
            round(col("chars").cast("double") / col("bpe_tokens").cast("double"), 6)
              .as("compression"))
      },
      Some(BpeEncodeOracleCtes + ",\n" +
        """st AS (SELECT d.source,
          |    CAST(len([x for x in string_split(d.text, ' ') if x <> '']) AS BIGINT) AS n_words,
          |    CAST(length(d.text) AS BIGINT) AS n_chars,
          |    CAST(len(enc.bpe_ids) AS BIGINT) AS n_bpe
          |  FROM documents d JOIN enc ON enc.doc_id = d.doc_id),
          |ag AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          |    CAST(sum(n_words) AS BIGINT) AS words,
          |    CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
          |    CAST(sum(n_chars) AS BIGINT) AS chars
          |  FROM st GROUP BY 1)
          |SELECT source, n_docs, words, bpe_tokens, chars,
          |  round(CAST(bpe_tokens AS DOUBLE) / CAST(words AS DOUBLE), 6) AS fertility,
          |  round(CAST(chars AS DOUBLE) / CAST(bpe_tokens AS DOUBLE), 6) AS compression
          |FROM ag""".stripMargin)
    )),

    // Tokenizer vocabulary coverage curve: the smallest usage-ranked
    // vocab prefix covering 50/90/99% of all token OCCURRENCES — the
    // metric behind vocab-size decisions (a long tail of rarely-hit
    // entries is wasted embedding rows). Integer arithmetic throughout
    // (cum·100 >= pct·total — no float thresholds), ranked under the
    // total (count desc, id asc) order. The rank window runs over the
    // USED-VOCAB table — bounded model-state scale (Heaps'-law
    // sublinear, thousands of rows), not a corpus-sized single-task
    // window; the corpus itself is touched once by the id-keyed count.
    "q_vocab_coverage" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val d = Tables.documents(s, dir)
        // merges + vocab from ONE corpus word pass (round 17) —
        // byte-identical to the trainMerges-then-vocab sequence
        val (merges, vocab) = operators.Bpe.trainAndVocab(d, "text", rounds = 3)
        val enc = operators.Bpe.encode(d, "text", "doc_id", merges, vocab)
        val counts = enc.select(explode(col("bpe_ids")).as("id"))
          .groupBy("id").agg(count(lit(1)).as("n"))
        // rank + running sum via the range-sliced machinery, NOT two
        // stacked unpartitioned windows: the vocab table is Heaps'-law
        // bounded so the old plan was CORRECT, but this one has no
        // single-task sort at any size (and no WindowExec warning).
        // (n desc, id asc) expressed as the value order (-n, id).
        val ranked = operators.Sampling.rankedPrefixSums(counts,
          Seq(col("n") * -1L, col("id")), col("n"), "rank", "cum")
        val totals = ranked.agg(max("cum").as("total"),
          max("rank").as("vocab_used"))
        val th = Seq(50, 90, 99).toDF("pct")
        ranked.crossJoin(broadcast(totals)).crossJoin(broadcast(th))
          .filter(col("cum") * 100 >= col("pct").cast("long") * col("total"))
          .groupBy("pct")
          .agg(min("rank").as("tokens_needed"),
            max("vocab_used").as("vocab_used"))
          .select(col("pct"), col("tokens_needed"), col("vocab_used"),
            round(col("tokens_needed").cast("double") /
              col("vocab_used").cast("double"), 6).as("vocab_fraction"))
      },
      Some(BpeEncodeOracleCtes + ",\n" +
        """cnt AS (SELECT id, count(*) AS n FROM
          |  (SELECT unnest(bpe_ids) AS id FROM enc) GROUP BY 1),
          |rk AS (SELECT id, n,
          |  CAST(row_number() OVER (ORDER BY n DESC, id ASC) AS BIGINT) AS rank,
          |  CAST(sum(n) OVER (ORDER BY n DESC, id ASC
          |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM cnt),
          |tt AS (SELECT max(cum) AS total, max(rank) AS vocab_used FROM rk),
          |th(pct) AS (SELECT * FROM (VALUES (50), (90), (99)) x(p))
          |SELECT pct, min(rank) AS tokens_needed,
          |  max(vocab_used) AS vocab_used,
          |  round(CAST(min(rank) AS DOUBLE) / CAST(max(vocab_used) AS DOUBLE), 6)
          |    AS vocab_fraction
          |FROM rk, tt, th
          |WHERE cum * 100 >= pct * total
          |GROUP BY pct""".stripMargin)
    )),

    // Length-bucketed batching for padding-efficient fine-tuning: docs
    // land in a power-of-two length rung (fixed CASE ladder — integer-
    // exact, no float log2 near-boundary ambiguity), each rung packs
    // batches of 4096 padded tokens (batch index = (rn-1)·bucket div
    // 4096, pure integer arithmetic), and the report prices every
    // batch's padding efficiency. The dataloader-side complement of
    // q_pack_bpe's contiguous-fill pretraining windows — SFT batches
    // pad to the bucket width instead of concatenating. Per-rung
    // positions come from the range-partitioned groupedPositions
    // machinery, NOT a row_number window over the SIX-value bucket
    // key: that window would sort each rung's whole population in ONE
    // task at scale. The arithmetic is identical, so the report (and
    // its oracle, which SQL-expresses the same rank as a window) is
    // unchanged.
    "q_length_buckets" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir)
          .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
          .withColumn("bucket",
            when(col("n_tokens") <= 64, 64)
              .when(col("n_tokens") <= 128, 128)
              .when(col("n_tokens") <= 256, 256)
              .when(col("n_tokens") <= 512, 512)
              .when(col("n_tokens") <= 1024, 1024).otherwise(2048))
        operators.Sampling.groupedPositions(
            d, Seq("bucket"), Seq(col("doc_id")), "rn")
          .withColumn("batch_id",
            expr("cast((cast(rn as bigint) - 1) * bucket div 4096 as bigint)"))
          .groupBy("bucket", "batch_id")
          .agg(count(lit(1)).as("n_rows"), sum("n_tokens").as("actual_tokens"))
          .select(col("bucket"), col("batch_id"), col("n_rows"),
            (col("bucket").cast("long") * col("n_rows")).as("padded_tokens"),
            col("actual_tokens"),
            round(col("actual_tokens").cast("double") /
              (col("bucket").cast("double") * col("n_rows").cast("double")), 6)
              .as("efficiency"))
      },
      Some("""WITH t AS (SELECT doc_id,
             |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
             |b AS (SELECT doc_id, n_tokens,
             |  CASE WHEN n_tokens <= 64 THEN 64 WHEN n_tokens <= 128 THEN 128
             |       WHEN n_tokens <= 256 THEN 256 WHEN n_tokens <= 512 THEN 512
             |       WHEN n_tokens <= 1024 THEN 1024 ELSE 2048 END AS bucket FROM t),
             |r AS (SELECT doc_id, n_tokens, bucket,
             |  row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn FROM b),
             |g AS (SELECT bucket,
             |  CAST((CAST(rn AS BIGINT) - 1) * bucket // 4096 AS BIGINT) AS batch_id,
             |  count(*) AS n_rows, CAST(sum(n_tokens) AS BIGINT) AS actual_tokens
             |  FROM r GROUP BY 1, 2)
             |SELECT bucket, batch_id, n_rows,
             |  CAST(bucket AS BIGINT) * n_rows AS padded_tokens, actual_tokens,
             |  round(CAST(actual_tokens AS DOUBLE)
             |    / (CAST(bucket AS DOUBLE) * CAST(n_rows AS DOUBLE)), 6) AS efficiency
             |FROM g""".stripMargin)
    )),

    // Quality-argmax cluster representative: canonical-id dedup keeps
    // an ARBITRARY member of each near-dup family; curation should
    // keep the cleanest one. Clusters from the jaccard>=0.8 graph,
    // scored by the integer-ratio quality score, argmax under the
    // total (score desc, id asc) order — representative choice is
    // deterministic and the oracle replays clusters AND choice.
    "q_cluster_best" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir)
        val clusters = Dedup.duplicateClusters(
          Dedup.jaccardPairs(d, "doc_id", "text", threshold = 0.8)
            .select("id_a", "id_b"))
        val scored = d.select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("score"))
        Dedup.clusterBest(clusters, scored, "doc_id", "score")
      },
      Some {
        val allStop = TextAnalysis.stopwords.values.flatten.toSeq.distinct
          .map(w => s"'$w'").mkString(", ")
        "WITH " + JaccardClusterOracleCtes + ",\n" +
          s"""qc AS (SELECT doc_id,
             |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
             |  CAST(len([w for w in string_split(text, ' ') if w IN ($allStop)]) AS BIGINT) AS nstop,
             |  CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS nalpha,
             |  CAST(length(text) AS BIGINT) AS nchars
             |FROM documents),
             |sc AS (SELECT doc_id,
             |  CAST(4 * least(ntok, 100) * ntok * nchars + 300 * nstop * nchars
             |       + 300 * nalpha * ntok AS DOUBLE)
             |  / CAST(1000 * ntok * nchars AS DOUBLE) AS score
             |FROM qc),
             |jn AS (SELECT cl.canonical_id, cl.doc_id, sc.score
             |  FROM cl JOIN sc USING (doc_id)),
             |rk AS (SELECT canonical_id, doc_id, score,
             |  row_number() OVER (PARTITION BY canonical_id
             |    ORDER BY score DESC, doc_id ASC) AS rn,
             |  count(*) OVER (PARTITION BY canonical_id) AS n FROM jn)
             |SELECT canonical_id, doc_id AS best_id, round(score, 6) AS best_score,
             |  CAST(n AS BIGINT) AS cluster_size
             |FROM rk WHERE rn = 1""".stripMargin
      }
    )),

    // Leakage-safe train/val/test assignment: the split hash keys off
    // the DUPLICATE-CLUSTER id, so a near-dup family can never straddle
    // train and eval (the silent-memorization leak a plain per-row
    // hash split ships). 80/10/10 by md5 bucket of the cluster key;
    // singleton docs key by themselves. The oracle replays clusters,
    // fallback key and bucket arithmetic exactly.
    "q_leakage_safe_splits" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir)
        val clusters = Dedup.duplicateClusters(
          Dedup.jaccardPairs(d, "doc_id", "text", threshold = 0.8)
            .select("id_a", "id_b"))
        operators.Sampling.leakageSafeSplit(d.select("doc_id"), "doc_id",
          clusters, valFraction = 0.1, testFraction = 0.1)
      },
      Some("WITH " + JaccardClusterOracleCtes + ",\n" +
        """al AS (SELECT d.doc_id, COALESCE(cl.canonical_id, d.doc_id) AS cluster_key
          |  FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id),
          |bk AS (SELECT doc_id, cluster_key,
          |  CAST(('0x' || substr(md5('split_' || CAST(cluster_key AS VARCHAR)), 1, 8)) AS BIGINT)
          |    % 10000 AS b FROM al)
          |SELECT doc_id, cluster_key,
          |  CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'val'
          |       ELSE 'test' END AS split
          |FROM bk""".stripMargin)
    )),

    // Margin-based bitext mining (ratio margin + mutual-best filter —
    // the Artetxe–Schwenk mining criterion): sides are the label<5 /
    // label>=5 halves of the embedding space standing in for two
    // languages. Every score, the best/second-best ratio margin, and
    // the mutual flag are replayed: forward and backward rankings both
    // derive from ONE symmetric score set in the oracle, which is
    // exactly what the engine computes (elementwise multiply commutes
    // bitwise in IEEE).
    "q_bitext_margin" -> ((
      (s: SparkSession, dir: String) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.bitextMarginPairs(
          emb.filter(col("label") < 5), emb.filter(col("label") >= 5),
          "vec_id", "embedding")
      },
      Some("""WITH p AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) emb FROM embeddings),
             |n AS (SELECT vec_id, label, emb, list_sum([x*x for x in emb]) n2 FROM p),
             |a AS (SELECT * FROM n WHERE label < 5),
             |b AS (SELECT * FROM n WHERE label >= 5),
             |fs AS (SELECT a.vec_id src_id, b.vec_id tgt_id,
             |  list_sum([b.emb[i+1] * a.emb[i+1] for i in range(len(b.emb))]) / sqrt(b.n2 * a.n2) AS score
             |  FROM a, b),
             |fr AS (SELECT src_id, tgt_id, score,
             |  row_number() OVER (PARTITION BY src_id ORDER BY score DESC, tgt_id ASC) AS rn FROM fs),
             |br AS (SELECT tgt_id, src_id,
             |  row_number() OVER (PARTITION BY tgt_id ORDER BY score DESC, src_id ASC) AS rn FROM fs),
             |bb AS (SELECT tgt_id AS match_id, src_id AS back_id FROM br WHERE rn = 1),
             |f1 AS (SELECT src_id, tgt_id AS match_id, round(score, 6) AS score
             |  FROM fr WHERE rn = 1),
             |f2 AS (SELECT src_id, round(score, 6) AS score2 FROM fr WHERE rn = 2)
             |SELECT f1.src_id, f1.match_id, f1.score,
             |  round(f1.score / f2.score2, 6) AS margin,
             |  (bb.back_id = f1.src_id) AS mutual
             |FROM f1 JOIN f2 USING (src_id) JOIN bb USING (match_id)""".stripMargin)
    )),

    // ANN-candidate bitext mining — q_bitext_margin's 100 TB shape
    // under its own oracle: in bitext BOTH sides are corpora, so the
    // brute path's corpus-sized broadcast is disqualified by
    // definition; candidates come from 4 independent hyperplane LSH
    // tables banded on EACH side (only ids+buckets shuffle), and the
    // margin/mutual algebra runs EXACTLY on the candidate set — the
    // exact re-rank makes the kept pairs deterministic, so the oracle
    // replays buckets, candidate join, both rankings, margins and the
    // mutual flags bit-for-bit. Recall vs the brute miner is pinned
    // in SimilaritySpec.
    "q_bitext_margin_ann" -> ((
      (s: SparkSession, dir: String) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.bitextMarginPairsAnn(
          emb.filter(col("label") < 5), emb.filter(col("label") >= 5),
          "vec_id", "embedding", dims = 64)
      },
      Some(bitextAnnOracleSql(dims = 64, ppt = 4, tables = 4))
    )),

    // Perceptual image hashing under the oracle gate: dHash64 over a
    // fixture of constructed PNGs whose hashes are HAND-DERIVED from
    // the dHash definition (flat → 0, strict gradient → all 64 bits,
    // inverted → 0, half-split → one rising edge per row) — the same
    // pinned-truth scheme as q_multimodal_meta, so the decode +
    // area-average + bit-assembly path is checked against constants
    // the code under test never produced.
    "q_multimodal_dhash" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val mediaDir = graft.sources.MediaFixture.ensureDHash()
        s.read.format("binaryFile").load(mediaDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("name"),
            col("content"))
          .as[(String, Array[Byte])]
          .map { case (name, content) =>
            (name, operators.Multimodal.dHash64(content).get)
          }
          .toDF("name", "dhash")
      },
      Some(s"""SELECT name, dhash
              |FROM read_csv('${graft.sources.MediaFixture.expectedDHashCsvPath}',
              |  header=true, columns={'name':'VARCHAR','dhash':'BIGINT'})""".stripMargin)
    )),

    // The WebDataset shape under the gate: the SAME dHash PNG corpus,
    // but delivered as binary members of one tar shard (the format
    // multimodal training sets actually ship in) through TarSource's
    // checksum-verified member walk -> the identical PNG decoder. The
    // oracle is the SAME pinned CSV as q_multimodal_dhash, so the
    // shard path must reproduce the loose-file path byte-for-byte —
    // any framing slip corrupts a PNG and the decode fails loudly.
    "q_ingest_tar_webdataset" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val tarPath = graft.sources.TarFixture.ensureWds()
        graft.sources.TarSource.members(s, Seq(tarPath))
          .select(col("name"), col("content"))
          .as[(String, Array[Byte])]
          .map { case (name, content) =>
            (name, operators.Multimodal.dHash64(content).get)
          }
          .toDF("name", "dhash")
      },
      Some(s"""SELECT name, dhash
              |FROM read_csv('${graft.sources.MediaFixture.expectedDHashCsvPath}',
              |  header=true, columns={'name':'VARCHAR','dhash':'BIGINT'})""".stripMargin)
    )),

    // STREAMING tar/WebDataset ingestion under the hard gate — the
    // FOURTEENTH direct streaming row, and the live half of
    // q_ingest_tar_webdataset: the SAME dHash PNG corpus split across
    // two monotonically named shards lands INCREMENTALLY into a fresh
    // directory tailed by readStream.format("tar") (the WARC
    // name-watermark offset applied to tar), each landing drained
    // before the next, then every member decodes through the
    // identical PNG path. The oracle is the SAME pinned CSV — a shard
    // re-emitted or missed by the watermark, or any member framing
    // slip, duplicates/drops/corrupts rows and hash-mismatches.
    "q_stream_tar_ingest" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val shards = graft.sources.TarFixture.ensureWdsShards()
        graft.streaming.EventStreams.replayTarIngest(s, shards)
          .as[(String, Array[Byte])]
          .map { case (name, content) =>
            (name, operators.Multimodal.dHash64(content).get)
          }
          .toDF("name", "dhash")
      },
      Some(s"""SELECT name, dhash
              |FROM read_csv('${graft.sources.MediaFixture.expectedDHashCsvPath}',
              |  header=true, columns={'name':'VARCHAR','dhash':'BIGINT'})""".stripMargin)
    )),

    // Audio energy fingerprinting under the oracle gate: real PCM
    // decode (javax.sound) → 65-window integer energy envelope →
    // 64 louder-than-previous bits, pinned against HAND-DERIVED
    // constants (flat envelope → 0, rising ramp → all ones, one step
    // → single bit) — the third modality on the q_multimodal_meta
    // pinned-truth scheme.
    "q_multimodal_audiofp" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val mediaDir = graft.sources.MediaFixture.ensureAudioFp()
        s.read.format("binaryFile").load(mediaDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("name"),
            col("content"))
          .as[(String, Array[Byte])]
          .map { case (name, content) =>
            (name, operators.Multimodal.audioFingerprint64(content).get)
          }
          .toDF("name", "afp")
      },
      Some(s"""SELECT name, afp
              |FROM read_csv('${graft.sources.MediaFixture.expectedAudioFpCsvPath}',
              |  header=true, columns={'name':'VARCHAR','afp':'BIGINT'})""".stripMargin)
    )),

    // FLAC fingerprints — the second COMPRESSED codec on the real
    // side, and the stronger oracle: FLAC is LOSSLESS, so
    // [[operators.Flac]]'s spec-written decode (rice residuals, fixed
    // predictors, CRC-framed frames) yields PCM bit-identical to the
    // encoder's input, and the pinned constants are the SAME
    // hand-derived envelope values as the WAV fixture — flat 0,
    // ramp -1, step 2^31, two_step bits 20|42 — with zero tolerance.
    "q_multimodal_flacfp" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val mediaDir = graft.sources.MediaFixture.ensureFlacFp()
        s.read.format("binaryFile").load(mediaDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("name"),
            col("content"))
          .as[(String, Array[Byte])]
          .map { case (name, content) =>
            (name, operators.Multimodal.audioFingerprint64(content).get)
          }
          .toDF("name", "afp")
      },
      Some(s"""SELECT name, afp
              |FROM read_csv('${graft.sources.MediaFixture.expectedFlacFpCsvPath}',
              |  header=true, columns={'name':'VARCHAR','afp':'BIGINT'})""".stripMargin)
    )),

    // Ogg-FLAC fingerprints — the FIFTH real audio container: the
    // CRC-verified RFC 3533 page walk reassembles packets, the xiph
    // mapping prefix strips to the NATIVE FLAC stream, and the same
    // spec-written Flac decoder runs — so the constants are inherited
    // from the WAV fixture exactly like native FLAC's (losslessness:
    // the container adds framing, not samples). This closes half the
    // former "ogg is header-only" stub with zero new codec math.
    "q_multimodal_oggflacfp" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val mediaDir = graft.sources.MediaFixture.ensureOggFlacFp()
        s.read.format("binaryFile").load(mediaDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("name"),
            col("content"))
          .as[(String, Array[Byte])]
          .map { case (name, content) =>
            (name, operators.Multimodal.audioFingerprint64(content).get)
          }
          .toDF("name", "afp")
      },
      Some(s"""SELECT name, afp
              |FROM read_csv('${graft.sources.MediaFixture.expectedOggFlacFpCsvPath}',
              |  header=true, columns={'name':'VARCHAR','afp':'BIGINT'})""".stripMargin)
    )),

    // G.711 µ-law fingerprints — the THIRD real audio format and the
    // first LOSSY audio codec on the real side. The constants can't be
    // inherited like FLAC's (losslessness): they're hand-derived from
    // the G.711 closed form instead — expand∘compress is monotone and
    // the envelope levels quantize to DISTINCT values (100→104,
    // 1000→988, 2000→1980), so the louder-than-previous bits survive
    // by a full quantizer segment of margin; ramp8 doubles its level
    // every 8 windows because a linear ramp would NOT survive (µ-law
    // step sizes above segment 0 exceed the ramp increment).
    "q_multimodal_mulawfp" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val mediaDir = graft.sources.MediaFixture.ensureMulawFp()
        s.read.format("binaryFile").load(mediaDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("name"),
            col("content"))
          .as[(String, Array[Byte])]
          .map { case (name, content) =>
            (name, operators.Multimodal.audioFingerprint64(content).get)
          }
          .toDF("name", "afp")
      },
      Some(s"""SELECT name, afp
              |FROM read_csv('${graft.sources.MediaFixture.expectedMulawFpCsvPath}',
              |  header=true, columns={'name':'VARCHAR','afp':'BIGINT'})""".stripMargin)
    )),

    // G.711 A-law fingerprints — µ-law's European twin (fmt tag 6,
    // even-bit-inverted segment/mantissa coding), decoded by the
    // closed-form expand. Constants hand-derived from the segment
    // closed form (levels 104/1008/2016; doubling ramp 40..8448
    // strictly increasing — a linear ramp dies in the 16-wide seg-0
    // steps), so the louder-than-previous bits survive the codec by
    // envelope margin.
    "q_multimodal_alawfp" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val mediaDir = graft.sources.MediaFixture.ensureAlawFp()
        s.read.format("binaryFile").load(mediaDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("name"),
            col("content"))
          .as[(String, Array[Byte])]
          .map { case (name, content) =>
            (name, operators.Multimodal.audioFingerprint64(content).get)
          }
          .toDF("name", "afp")
      },
      Some(s"""SELECT name, afp
              |FROM read_csv('${graft.sources.MediaFixture.expectedAlawFpCsvPath}',
              |  header=true, columns={'name':'VARCHAR','afp':'BIGINT'})""".stripMargin)
    )),

    // CROSS-FORMAT G.711 near-dup: the SAME recordings through BOTH
    // telephony codings (µ-law's complemented bias form, A-law's
    // even-bit-inverted segment form) pair in one banded join — the
    // classic transcoded-call dedup that byte comparison can never do.
    "q_g711_crossformat_pairs" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val d1 = graft.sources.MediaFixture.ensureMulawFp()
        val d2 = graft.sources.MediaFixture.ensureAlawFp()
        val files = s.read.format("binaryFile").load(d1, d2)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("name"),
            col("content"))
        val names = files.select("name").collect().map(_.getString(0)).sorted
        val idx = names.zipWithIndex.toMap
        val nameDf = names.zipWithIndex
          .map { case (n, i) => (i.toLong, n) }.toSeq.toDF("mid", "name")
        val blobs = files.as[(String, Array[Byte])]
          .map { case (n, c) => operators.Multimodal.MediaBlob(idx(n).toLong,
            "wav", c) }
        operators.Multimodal.audioNearDupPairs(blobs, maxHamming = 3)
          .join(broadcast(nameDf.toDF("id_a", "name_a")), "id_a")
          .join(broadcast(nameDf.toDF("id_b", "name_b")), "id_b")
          .select("name_a", "name_b", "hamming")
      },
      Some(s"""WITH u AS (
              |  SELECT name, afp
              |  FROM read_csv('${graft.sources.MediaFixture.expectedMulawFpCsvPath}',
              |    header=true, columns={'name':'VARCHAR','afp':'BIGINT'})
              |  UNION ALL
              |  SELECT name, afp
              |  FROM read_csv('${graft.sources.MediaFixture.expectedAlawFpCsvPath}',
              |    header=true, columns={'name':'VARCHAR','afp':'BIGINT'})),
              |h AS (SELECT name, afp,
              |    row_number() OVER (ORDER BY name) - 1 AS mid FROM u)
              |SELECT a.name AS name_a, b.name AS name_b,
              |  CAST(bit_count(xor(a.afp, b.afp)) AS INTEGER) AS hamming
              |FROM h a JOIN h b ON a.mid < b.mid
              |WHERE bit_count(xor(a.afp, b.afp)) <= 3""".stripMargin)
    )),

    // MPEG-1 Layer I fingerprints — the first TRANSFORM-coded lossy
    // audio family on the real side: frame walk, uniform allocation,
    // closed-form Table B.1 scalefactors and the (2^nb−1)-level
    // midtread requantization all decode for real; the fingerprint
    // reads the critically-sampled subband stream (the Table B.3
    // synthesis window is tabulated spec DATA — the named boundary in
    // Mpeg.scala). Constants are the SAME hand derivation as the WAV
    // fixtures: the authored code offsets decode to exactly d, window
    // energy is exactly 12·d², and the bits compare the d values.
    "q_multimodal_mp1fp" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val mediaDir = graft.sources.MediaFixture.ensureMp1Fp()
        s.read.format("binaryFile").load(mediaDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("name"),
            col("content"))
          .as[(String, Array[Byte])]
          .map { case (name, content) =>
            (name, operators.Multimodal.audioFingerprint64(content).get)
          }
          .toDF("name", "afp")
      },
      Some(s"""SELECT name, afp
              |FROM read_csv('${graft.sources.MediaFixture.expectedMp1FpCsvPath}',
              |  header=true, columns={'name':'VARCHAR','afp':'BIGINT'})""".stripMargin)
    )),

    // CROSS-FORMAT audio near-dup with the MPEG-1 leg: wav ↔ flac ↔
    // mp1 carry the SAME envelopes through a PCM container, a lossless
    // compressor, and a lossy transform codec's bitstream — the
    // level-invariant energy-delta fingerprint pairs all three in one
    // banded join, which byte- or sample-level dedup can never do.
    "q_mp1_crossformat_pairs" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val d1 = graft.sources.MediaFixture.ensureAudioFp()
        val d2 = graft.sources.MediaFixture.ensureFlacFp()
        val d3 = graft.sources.MediaFixture.ensureMp1Fp()
        val files = s.read.format("binaryFile").load(d1, d2, d3)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("name"),
            col("content"))
        val names = files.select("name").collect().map(_.getString(0)).sorted
        val idx = names.zipWithIndex.toMap
        val nameDf = names.zipWithIndex
          .map { case (n, i) => (i.toLong, n) }.toSeq.toDF("mid", "name")
        val blobs = files.as[(String, Array[Byte])]
          .map { case (n, c) => operators.Multimodal.MediaBlob(idx(n).toLong,
            n.substring(n.lastIndexOf('.') + 1), c) }
        operators.Multimodal.audioNearDupPairs(blobs, maxHamming = 3)
          .join(broadcast(nameDf.toDF("id_a", "name_a")), "id_a")
          .join(broadcast(nameDf.toDF("id_b", "name_b")), "id_b")
          .select("name_a", "name_b", "hamming")
      },
      Some(s"""WITH u AS (
              |  SELECT name, afp
              |  FROM read_csv('${graft.sources.MediaFixture.expectedAudioFpCsvPath}',
              |    header=true, columns={'name':'VARCHAR','afp':'BIGINT'})
              |  UNION ALL
              |  SELECT name, afp
              |  FROM read_csv('${graft.sources.MediaFixture.expectedFlacFpCsvPath}',
              |    header=true, columns={'name':'VARCHAR','afp':'BIGINT'})
              |  UNION ALL
              |  SELECT name, afp
              |  FROM read_csv('${graft.sources.MediaFixture.expectedMp1FpCsvPath}',
              |    header=true, columns={'name':'VARCHAR','afp':'BIGINT'})),
              |h AS (SELECT name, afp,
              |    row_number() OVER (ORDER BY name) - 1 AS mid FROM u)
              |SELECT a.name AS name_a, b.name AS name_b,
              |  CAST(bit_count(xor(a.afp, b.afp)) AS INTEGER) AS hamming
              |FROM h a JOIN h b ON a.mid < b.mid
              |WHERE bit_count(xor(a.afp, b.afp)) <= 3""".stripMargin)
    )),

    // DTMF demodulation by Goertzel (ITU-T Q.23/Q.24): from raw PCM
    // to the dialed SYMBOL STRING — audio content extraction, not
    // envelope comparison. The oracle pins the hand-chosen dial
    // strings (encode digits → decode digits, end-to-end honest);
    // the 8x power-margin classifier makes the symbol output robust
    // to cos/sin last-ulp wobble (pure frames clear it by >30x).
    "q_audio_dtmf" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val mediaDir = graft.sources.MediaFixture.ensureDtmf()
        val files = s.read.format("binaryFile").load(mediaDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("name"),
            col("content"))
        val names = files.select("name").collect().map(_.getString(0)).sorted
        val idx = names.zipWithIndex.toMap
        val nameDf = names.zipWithIndex
          .map { case (n, i) => (i.toLong, n) }.toSeq.toDF("media_id", "name")
        val blobs = files.as[(String, Array[Byte])]
          .map { case (n, c) =>
            operators.Multimodal.MediaBlob(idx(n).toLong, "wav", c) }
        operators.Dtmf.audioDtmf(blobs)
          .join(broadcast(nameDf), "media_id")
          .select(col("name"), col("digits"))
      },
      Some(s"""SELECT name, digits
              |FROM read_csv('${graft.sources.MediaFixture.expectedDtmfCsvPath}',
              |  header=true, columns={'name':'VARCHAR','digits':'VARCHAR'})""".stripMargin)
    )),

    // IMA ADPCM fingerprints — the FOURTH real audio format and the
    // second lossy codec on the real side. The fixture is authored at
    // the BLOCK level (every block header carries the window's
    // amplitude, every nibble is 0), so by the IMA tables alone the
    // decode equals envSamples(amp) exactly and the pinned constants
    // are the SAME hand-derived envelope values as the PCM fixture —
    // flat 0, ramp -1, step 2^31, two_step bits 20|42 — with zero
    // tolerance and no encoder anywhere near the expectations.
    "q_multimodal_adpcmfp" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val mediaDir = graft.sources.MediaFixture.ensureAdpcmFp()
        s.read.format("binaryFile").load(mediaDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("name"),
            col("content"))
          .as[(String, Array[Byte])]
          .map { case (name, content) =>
            (name, operators.Multimodal.audioFingerprint64(content).get)
          }
          .toDF("name", "afp")
      },
      Some(s"""SELECT name, afp
              |FROM read_csv('${graft.sources.MediaFixture.expectedAdpcmFpCsvPath}',
              |  header=true, columns={'name':'VARCHAR','afp':'BIGINT'})""".stripMargin)
    )),

    // Image near-dup PAIRS under the oracle gate: the real decode →
    // dHash → banded-pigeonhole pipeline end-to-end, cross-checked
    // against DuckDB computing xor/bit_count pairs FROM THE PINNED
    // HASH CSV (pigeonhole equivalence: with 4 bands, any pair within
    // Hamming 3 shares a band, so the banded output EQUALS the plain
    // <=3 filter — the oracle needs no banding replay). The fixture
    // plants hand-derived 1-bit edits (hgrad_edit, half_split_edit)
    // AND an honest degenerate: flat and hgrad_inv are structurally
    // different images with the SAME all-zeros dHash (no strict
    // left<right rise anywhere) — they pair at Hamming 0, the
    // documented coarseness of any 64-bit perceptual hash.
    "q_multimodal_dhash_pairs" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val mediaDir = graft.sources.MediaFixture.ensureDHash()
        val files = s.read.format("binaryFile").load(mediaDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("name"),
            col("content"))
        val names = files.select("name").collect().map(_.getString(0)).sorted
        val idx = names.zipWithIndex.toMap
        val nameDf = names.zipWithIndex
          .map { case (n, i) => (i.toLong, n) }.toSeq.toDF("mid", "name")
        val blobs = files.as[(String, Array[Byte])]
          .map { case (n, c) =>
            operators.Multimodal.MediaBlob(idx(n).toLong, "png", c) }
        operators.Multimodal.imageNearDupPairs(blobs, maxHamming = 3)
          .join(broadcast(nameDf.toDF("id_a", "name_a")), "id_a")
          .join(broadcast(nameDf.toDF("id_b", "name_b")), "id_b")
          .select("name_a", "name_b", "hamming")
      },
      Some(s"""WITH h AS (SELECT name, dhash,
              |    row_number() OVER (ORDER BY name) - 1 AS mid
              |  FROM read_csv('${graft.sources.MediaFixture.expectedDHashCsvPath}',
              |    header=true, columns={'name':'VARCHAR','dhash':'BIGINT'}))
              |SELECT a.name AS name_a, b.name AS name_b,
              |  CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
              |FROM h a JOIN h b ON a.mid < b.mid
              |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3""".stripMargin)
    )),

    // Audio near-dup PAIRS — the third modality through the same
    // pinned-CSV pairs oracle. The planted variants pin the
    // fingerprint's invariances by hand: step_louder has the SAME
    // envelope SHAPE as step (level-invariance → Hamming 0), two_step
    // sits at exactly the Hamming-3 banding radius from step, and the
    // coarse envelope hash honestly pairs flat_tone with the single-
    // transition signals (1-2 bits) — a 64-bit envelope cannot
    // distinguish quiet-vs-loud constant levels.
    "q_multimodal_audiofp_pairs" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val mediaDir = graft.sources.MediaFixture.ensureAudioFp()
        val files = s.read.format("binaryFile").load(mediaDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("name"),
            col("content"))
        val names = files.select("name").collect().map(_.getString(0)).sorted
        val idx = names.zipWithIndex.toMap
        val nameDf = names.zipWithIndex
          .map { case (n, i) => (i.toLong, n) }.toSeq.toDF("mid", "name")
        val blobs = files.as[(String, Array[Byte])]
          .map { case (n, c) =>
            operators.Multimodal.MediaBlob(idx(n).toLong, "wav", c) }
        operators.Multimodal.audioNearDupPairs(blobs, maxHamming = 3)
          .join(broadcast(nameDf.toDF("id_a", "name_a")), "id_a")
          .join(broadcast(nameDf.toDF("id_b", "name_b")), "id_b")
          .select("name_a", "name_b", "hamming")
      },
      Some(s"""WITH h AS (SELECT name, afp,
              |    row_number() OVER (ORDER BY name) - 1 AS mid
              |  FROM read_csv('${graft.sources.MediaFixture.expectedAudioFpCsvPath}',
              |    header=true, columns={'name':'VARCHAR','afp':'BIGINT'}))
              |SELECT a.name AS name_a, b.name AS name_b,
              |  CAST(bit_count(xor(a.afp, b.afp)) AS INTEGER) AS hamming
              |FROM h a JOIN h b ON a.mid < b.mid
              |WHERE bit_count(xor(a.afp, b.afp)) <= 3""".stripMargin)
    )),

    // CROSS-FORMAT audio near-dup, now across THREE codecs: the PCM
    // WAV, FLAC and G.711 µ-law encodings of the same envelope pair at
    // Hamming 0 — the fingerprint is over DECODED PCM, FLAC decode is
    // lossless, and the µ-law fixture's envelopes survive quantization
    // by a full segment of margin. This is the point of content-
    // derived fingerprints: a byte-level dedup can never see that
    // flat_tone.wav, flat_tone.flac and flat_tone_mulaw.wav are the
    // same recording — across container, codec AND lossy re-encode.
    // Oracle: pairwise bit_count over the UNION of the three pinned
    // CSVs (pigeonhole ≡ plain-filter as in the other pairs rows).
    "q_audio_crossformat_pairs" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val d1 = graft.sources.MediaFixture.ensureAudioFp()
        val d2 = graft.sources.MediaFixture.ensureFlacFp()
        val d3 = graft.sources.MediaFixture.ensureMulawFp()
        val files = s.read.format("binaryFile").load(d1, d2, d3)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("name"),
            col("content"))
        val names = files.select("name").collect().map(_.getString(0)).sorted
        val idx = names.zipWithIndex.toMap
        val nameDf = names.zipWithIndex
          .map { case (n, i) => (i.toLong, n) }.toSeq.toDF("mid", "name")
        val blobs = files.as[(String, Array[Byte])]
          .map { case (n, c) => operators.Multimodal.MediaBlob(idx(n).toLong,
            n.substring(n.lastIndexOf('.') + 1), c) }
        operators.Multimodal.audioNearDupPairs(blobs, maxHamming = 3)
          .join(broadcast(nameDf.toDF("id_a", "name_a")), "id_a")
          .join(broadcast(nameDf.toDF("id_b", "name_b")), "id_b")
          .select("name_a", "name_b", "hamming")
      },
      Some(s"""WITH u AS (
              |  SELECT name, afp
              |  FROM read_csv('${graft.sources.MediaFixture.expectedAudioFpCsvPath}',
              |    header=true, columns={'name':'VARCHAR','afp':'BIGINT'})
              |  UNION ALL
              |  SELECT name, afp
              |  FROM read_csv('${graft.sources.MediaFixture.expectedFlacFpCsvPath}',
              |    header=true, columns={'name':'VARCHAR','afp':'BIGINT'})
              |  UNION ALL
              |  SELECT name, afp
              |  FROM read_csv('${graft.sources.MediaFixture.expectedMulawFpCsvPath}',
              |    header=true, columns={'name':'VARCHAR','afp':'BIGINT'})),
              |h AS (SELECT name, afp,
              |    row_number() OVER (ORDER BY name) - 1 AS mid FROM u)
              |SELECT a.name AS name_a, b.name AS name_b,
              |  CAST(bit_count(xor(a.afp, b.afp)) AS INTEGER) AS hamming
              |FROM h a JOIN h b ON a.mid < b.mid
              |WHERE bit_count(xor(a.afp, b.afp)) <= 3""".stripMargin)
    )),

    // FOUR-codec audio near-dup: PCM WAV, FLAC, G.711 µ-law and IMA
    // ADPCM encodings of the same envelopes pair at Hamming 0 through
    // four entirely different decode paths (raw samples, rice
    // residuals, closed-form expand, adaptive-delta state machine) —
    // the content-derived fingerprint collapses a recording's whole
    // codec family onto one dedup key; byte-level hashing sees four
    // unrelated blobs.
    "q_audio_crossformat_quad" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val d1 = graft.sources.MediaFixture.ensureAudioFp()
        val d2 = graft.sources.MediaFixture.ensureFlacFp()
        val d3 = graft.sources.MediaFixture.ensureMulawFp()
        val d4 = graft.sources.MediaFixture.ensureAdpcmFp()
        val files = s.read.format("binaryFile").load(d1, d2, d3, d4)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("name"),
            col("content"))
        val names = files.select("name").collect().map(_.getString(0)).sorted
        val idx = names.zipWithIndex.toMap
        val nameDf = names.zipWithIndex
          .map { case (n, i) => (i.toLong, n) }.toSeq.toDF("mid", "name")
        val blobs = files.as[(String, Array[Byte])]
          .map { case (n, c) => operators.Multimodal.MediaBlob(idx(n).toLong,
            n.substring(n.lastIndexOf('.') + 1), c) }
        operators.Multimodal.audioNearDupPairs(blobs, maxHamming = 3)
          .join(broadcast(nameDf.toDF("id_a", "name_a")), "id_a")
          .join(broadcast(nameDf.toDF("id_b", "name_b")), "id_b")
          .select("name_a", "name_b", "hamming")
      },
      Some(s"""WITH u AS (
              |  SELECT name, afp
              |  FROM read_csv('${graft.sources.MediaFixture.expectedAudioFpCsvPath}',
              |    header=true, columns={'name':'VARCHAR','afp':'BIGINT'})
              |  UNION ALL
              |  SELECT name, afp
              |  FROM read_csv('${graft.sources.MediaFixture.expectedFlacFpCsvPath}',
              |    header=true, columns={'name':'VARCHAR','afp':'BIGINT'})
              |  UNION ALL
              |  SELECT name, afp
              |  FROM read_csv('${graft.sources.MediaFixture.expectedMulawFpCsvPath}',
              |    header=true, columns={'name':'VARCHAR','afp':'BIGINT'})
              |  UNION ALL
              |  SELECT name, afp
              |  FROM read_csv('${graft.sources.MediaFixture.expectedAdpcmFpCsvPath}',
              |    header=true, columns={'name':'VARCHAR','afp':'BIGINT'})),
              |h AS (SELECT name, afp,
              |    row_number() OVER (ORDER BY name) - 1 AS mid FROM u)
              |SELECT a.name AS name_a, b.name AS name_b,
              |  CAST(bit_count(xor(a.afp, b.afp)) AS INTEGER) AS hamming
              |FROM h a JOIN h b ON a.mid < b.mid
              |WHERE bit_count(xor(a.afp, b.afp)) <= 3""".stripMargin)
    )),

    // CROSS-FORMAT audio near-dup with the Ogg container in the mix:
    // wav ↔ flac ↔ ogg-flac carry the SAME envelopes through THREE
    // container walks (RIFF, native FLAC, CRC-verified Ogg pages) —
    // byte-level dedup can never see that flat_tone.wav and
    // flat_tone.ogg are the same recording; the content fingerprint
    // makes it one banded join.
    "q_oggflac_crossformat_pairs" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val d1 = graft.sources.MediaFixture.ensureAudioFp()
        val d2 = graft.sources.MediaFixture.ensureFlacFp()
        val d3 = graft.sources.MediaFixture.ensureOggFlacFp()
        val files = s.read.format("binaryFile").load(d1, d2, d3)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("name"),
            col("content"))
        val names = files.select("name").collect().map(_.getString(0)).sorted
        val idx = names.zipWithIndex.toMap
        val nameDf = names.zipWithIndex
          .map { case (n, i) => (i.toLong, n) }.toSeq.toDF("mid", "name")
        val blobs = files.as[(String, Array[Byte])]
          .map { case (n, c) => operators.Multimodal.MediaBlob(idx(n).toLong,
            n.substring(n.lastIndexOf('.') + 1), c) }
        operators.Multimodal.audioNearDupPairs(blobs, maxHamming = 3)
          .join(broadcast(nameDf.toDF("id_a", "name_a")), "id_a")
          .join(broadcast(nameDf.toDF("id_b", "name_b")), "id_b")
          .select("name_a", "name_b", "hamming")
      },
      Some(s"""WITH u AS (
              |  SELECT name, afp
              |  FROM read_csv('${graft.sources.MediaFixture.expectedAudioFpCsvPath}',
              |    header=true, columns={'name':'VARCHAR','afp':'BIGINT'})
              |  UNION ALL
              |  SELECT name, afp
              |  FROM read_csv('${graft.sources.MediaFixture.expectedFlacFpCsvPath}',
              |    header=true, columns={'name':'VARCHAR','afp':'BIGINT'})
              |  UNION ALL
              |  SELECT name, afp
              |  FROM read_csv('${graft.sources.MediaFixture.expectedOggFlacFpCsvPath}',
              |    header=true, columns={'name':'VARCHAR','afp':'BIGINT'})),
              |h AS (SELECT name, afp,
              |    row_number() OVER (ORDER BY name) - 1 AS mid FROM u)
              |SELECT a.name AS name_a, b.name AS name_b,
              |  CAST(bit_count(xor(a.afp, b.afp)) AS INTEGER) AS hamming
              |FROM h a JOIN h b ON a.mid < b.mid
              |WHERE bit_count(xor(a.afp, b.afp)) <= 3""".stripMargin)
    )),

    // CROSS-FORMAT video near-dup: the raw-DIB reel (63×48) and the
    // MJPEG reel (144×64) carry the SAME four patterns, so their
    // per-frame hashes agree constant-for-constant ACROSS codec AND
    // resolution — video_a/video_a_edit pair with mjpeg_a at 4
    // matching frames through two entirely different decode paths
    // (raw pixels vs T.81 DC grids). mjpeg_b shares only its flat
    // frame (1 < minMatchingFrames) and stays out. Oracle replays
    // pairs from the UNION of the two pinned per-frame CSVs.
    "q_video_crossformat_pairs" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val d1 = graft.sources.MediaFixture.ensureVideoDHash()
        val d2 = graft.sources.MediaFixture.ensureMjpegDHash()
        val files = s.read.format("binaryFile").load(d1, d2)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("name"),
            col("content"))
        val names = files.select("name").collect().map(_.getString(0)).sorted
        val idx = names.zipWithIndex.toMap
        val nameDf = names.zipWithIndex
          .map { case (n, i) => (i.toLong, n) }.toSeq.toDF("mid", "name")
        val blobs = files.as[(String, Array[Byte])]
          .map { case (n, c) =>
            operators.Multimodal.MediaBlob(idx(n).toLong, "avi", c) }
        operators.Multimodal.videoNearDupPairs(blobs, maxHamming = 3,
            minMatchingFrames = 2)
          .join(broadcast(nameDf.toDF("id_a", "name_a")), "id_a")
          .join(broadcast(nameDf.toDF("id_b", "name_b")), "id_b")
          .select("name_a", "name_b", "n_matching_frames")
      },
      Some(s"""WITH u AS (
              |  SELECT name, frame_idx, vdhash
              |  FROM read_csv('${graft.sources.MediaFixture.expectedVideoDHashCsvPath}',
              |    header=true, columns={'name':'VARCHAR','frame_idx':'INTEGER',
              |                          'vdhash':'BIGINT'})
              |  UNION ALL
              |  SELECT name, frame_idx, vdhash
              |  FROM read_csv('${graft.sources.MediaFixture.expectedMjpegDHashCsvPath}',
              |    header=true, columns={'name':'VARCHAR','frame_idx':'INTEGER',
              |                          'vdhash':'BIGINT'})),
              |h AS (SELECT name, frame_idx, vdhash,
              |    dense_rank() OVER (ORDER BY name) - 1 AS mid FROM u)
              |SELECT a.name AS name_a, b.name AS name_b,
              |  count(*) AS n_matching_frames
              |FROM h a JOIN h b
              |  ON a.frame_idx = b.frame_idx AND a.mid < b.mid
              |WHERE bit_count(xor(a.vdhash, b.vdhash)) <= 3
              |GROUP BY 1, 2
              |HAVING count(*) >= 2""".stripMargin)
    )),

    // Animated GIF per-frame hashes — the THIRD video container, via
    // the spec-written LZW decoder ([[operators.Gif]]: variable-width
    // codes, CLEAR/EOI, sub-block reassembly, compositing — no
    // ImageIO). The 256-gray palette makes pixel index = gray level,
    // so every frame pins the SAME constants the PNG fixture derived
    // by hand; the stream is authored root-codes-only (a valid LZW
    // choice), keeping the expectations encoder-free.
    "q_multimodal_gif_dhash" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val mediaDir = graft.sources.MediaFixture.ensureGifDHash()
        val files = s.read.format("binaryFile").load(mediaDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("name"),
            col("content"))
        val names = files.select("name").collect().map(_.getString(0)).sorted
        val idx = names.zipWithIndex.toMap
        val nameDf = names.zipWithIndex
          .map { case (n, i) => (i.toLong, n) }.toSeq.toDF("media_id", "name")
        val blobs = files.as[(String, Array[Byte])]
          .map { case (n, c) =>
            operators.Multimodal.MediaBlob(idx(n).toLong, "gif", c) }
        operators.Multimodal.videoDHashes(blobs)
          .join(broadcast(nameDf), "media_id")
          .select(col("name"), col("frame_idx"), col("vdhash"))
      },
      Some(s"""SELECT name, frame_idx, vdhash
              |FROM read_csv('${graft.sources.MediaFixture.expectedGifDHashCsvPath}',
              |  header=true, columns={'name':'VARCHAR','frame_idx':'INTEGER',
              |                        'vdhash':'BIGINT'})""".stripMargin)
    )),

    // CROSS-FORMAT video near-dup across THREE containers and THREE
    // decode paths: the raw-DIB AVI reel, the MJPEG reel (T.81 DC
    // grids) and the animated GIF reel (LZW) all carry the same four
    // patterns, so frame hashes agree constant-for-constant and every
    // reel pairs with every other — byte-level dedup can never see
    // that gif_a and video_a are the same clip; the content-derived
    // fingerprint makes it one equi-join.
    "q_gif_crossformat_pairs" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val d1 = graft.sources.MediaFixture.ensureVideoDHash()
        val d2 = graft.sources.MediaFixture.ensureGifDHash()
        val files = s.read.format("binaryFile").load(d1, d2)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("name"),
            col("content"))
        val names = files.select("name").collect().map(_.getString(0)).sorted
        val idx = names.zipWithIndex.toMap
        val nameDf = names.zipWithIndex
          .map { case (n, i) => (i.toLong, n) }.toSeq.toDF("mid", "name")
        val blobs = files.as[(String, Array[Byte])]
          .map { case (n, c) => operators.Multimodal.MediaBlob(idx(n).toLong,
            n.substring(n.lastIndexOf('.') + 1), c) }
        operators.Multimodal.videoNearDupPairs(blobs, maxHamming = 3,
            minMatchingFrames = 2)
          .join(broadcast(nameDf.toDF("id_a", "name_a")), "id_a")
          .join(broadcast(nameDf.toDF("id_b", "name_b")), "id_b")
          .select("name_a", "name_b", "n_matching_frames")
      },
      Some(s"""WITH u AS (
              |  SELECT name, frame_idx, vdhash
              |  FROM read_csv('${graft.sources.MediaFixture.expectedVideoDHashCsvPath}',
              |    header=true, columns={'name':'VARCHAR','frame_idx':'INTEGER',
              |                          'vdhash':'BIGINT'})
              |  UNION ALL
              |  SELECT name, frame_idx, vdhash
              |  FROM read_csv('${graft.sources.MediaFixture.expectedGifDHashCsvPath}',
              |    header=true, columns={'name':'VARCHAR','frame_idx':'INTEGER',
              |                          'vdhash':'BIGINT'})),
              |h AS (SELECT name, frame_idx, vdhash,
              |    dense_rank() OVER (ORDER BY name) - 1 AS mid FROM u)
              |SELECT a.name AS name_a, b.name AS name_b,
              |  count(*) AS n_matching_frames
              |FROM h a JOIN h b
              |  ON a.frame_idx = b.frame_idx AND a.mid < b.mid
              |WHERE bit_count(xor(a.vdhash, b.vdhash)) <= 3
              |GROUP BY 1, 2
              |HAVING count(*) >= 2""".stripMargin)
    )),

    // REAL video under the oracle gate: uncompressed-DIB AVI is the
    // one video form the JVM decodes exactly with no codec (RIFF parse
    // + raw bottom-up BGR frames), and a gray DIB frame's luminance
    // equals its gray level exactly — so every frame hash is pinned to
    // the SAME hand-derived constants as the PNG dHash fixture, with
    // no codec trusted anywhere. This closes the video half of the
    // "pixel-level features for video are stubs" boundary: compressed
    // codecs remain header-only (the JDK has none), raw video is now a
    // first-class decoded modality.
    "q_multimodal_video_dhash" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val mediaDir = graft.sources.MediaFixture.ensureVideoDHash()
        val files = s.read.format("binaryFile").load(mediaDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("name"),
            col("content"))
        val names = files.select("name").collect().map(_.getString(0)).sorted
        val idx = names.zipWithIndex.toMap
        val nameDf = names.zipWithIndex
          .map { case (n, i) => (i.toLong, n) }.toSeq.toDF("media_id", "name")
        val blobs = files.as[(String, Array[Byte])]
          .map { case (n, c) =>
            operators.Multimodal.MediaBlob(idx(n).toLong, "avi", c) }
        operators.Multimodal.videoDHashes(blobs)
          .join(broadcast(nameDf), "media_id")
          .select(col("name"), col("frame_idx"), col("vdhash"))
      },
      Some(s"""SELECT name, frame_idx, vdhash
              |FROM read_csv('${graft.sources.MediaFixture.expectedVideoDHashCsvPath}',
              |  header=true, columns={'name':'VARCHAR','frame_idx':'INTEGER',
              |                        'vdhash':'BIGINT'})""".stripMargin)
    )),

    // Video near-dup PAIRS: the fourth modality through the pigeonhole
    // discipline — same-index frames banded on (frame_idx, band,
    // slice), exact Hamming verify, then a per-pair matching-frame
    // count. The oracle replays it from the pinned per-frame CSV
    // (banding is provably equivalent to the plain <=3 filter, as in
    // the image/audio pairs rows): video_a and video_a_edit share
    // frames 0/3 exactly and frames 1/2 at Hamming 1 -> 4 matching
    // frames.
    "q_multimodal_video_pairs" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val mediaDir = graft.sources.MediaFixture.ensureVideoDHash()
        val files = s.read.format("binaryFile").load(mediaDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("name"),
            col("content"))
        val names = files.select("name").collect().map(_.getString(0)).sorted
        val idx = names.zipWithIndex.toMap
        val nameDf = names.zipWithIndex
          .map { case (n, i) => (i.toLong, n) }.toSeq.toDF("mid", "name")
        val blobs = files.as[(String, Array[Byte])]
          .map { case (n, c) =>
            operators.Multimodal.MediaBlob(idx(n).toLong, "avi", c) }
        operators.Multimodal.videoNearDupPairs(blobs, maxHamming = 3,
            minMatchingFrames = 2)
          .join(broadcast(nameDf.toDF("id_a", "name_a")), "id_a")
          .join(broadcast(nameDf.toDF("id_b", "name_b")), "id_b")
          .select("name_a", "name_b", "n_matching_frames")
      },
      Some(s"""WITH h AS (SELECT name, frame_idx, vdhash,
              |    dense_rank() OVER (ORDER BY name) - 1 AS mid
              |  FROM read_csv('${graft.sources.MediaFixture.expectedVideoDHashCsvPath}',
              |    header=true, columns={'name':'VARCHAR','frame_idx':'INTEGER',
              |                          'vdhash':'BIGINT'}))
              |SELECT a.name AS name_a, b.name AS name_b,
              |  count(*) AS n_matching_frames
              |FROM h a JOIN h b
              |  ON a.frame_idx = b.frame_idx AND a.mid < b.mid
              |WHERE bit_count(xor(a.vdhash, b.vdhash)) <= 3
              |GROUP BY 1, 2
              |HAVING count(*) >= 2""".stripMargin)
    )),

    // MJPEG (COMPRESSED) video frame hashes — the first compressed
    // codec on the real side of the JDK-has-no-codec boundary: each
    // '00dc' stream chunk is a standalone baseline JPEG that
    // [[operators.Jpeg]] entropy-decodes from the public T.81 spec
    // (huffman + DC prediction, no codec dependency), and dHash runs
    // on the exact 1/8-scale DC luminance thumbnail. The oracle is
    // the pinned hand-derived CSV — the constants come from the
    // 18×8-DC-grid → 9×8-cell derivation in MediaFixture's
    // mjpegPatterns scaladoc, the same no-codec-trusted scheme the
    // PNG/DIB fixtures use.
    "q_multimodal_mjpeg_dhash" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val mediaDir = graft.sources.MediaFixture.ensureMjpegDHash()
        val files = s.read.format("binaryFile").load(mediaDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("name"),
            col("content"))
        val names = files.select("name").collect().map(_.getString(0)).sorted
        val idx = names.zipWithIndex.toMap
        val nameDf = names.zipWithIndex
          .map { case (n, i) => (i.toLong, n) }.toSeq.toDF("media_id", "name")
        val blobs = files.as[(String, Array[Byte])]
          .map { case (n, c) =>
            operators.Multimodal.MediaBlob(idx(n).toLong, "avi", c) }
        operators.Multimodal.videoDHashes(blobs)
          .join(broadcast(nameDf), "media_id")
          .select(col("name"), col("frame_idx"), col("vdhash"))
      },
      Some(s"""SELECT name, frame_idx, vdhash
              |FROM read_csv('${graft.sources.MediaFixture.expectedMjpegDHashCsvPath}',
              |  header=true, columns={'name':'VARCHAR','frame_idx':'INTEGER',
              |                        'vdhash':'BIGINT'})""".stripMargin)
    )),

    // MJPEG-in-MP4 per-frame hashes — the FOURTH video container, via
    // the REAL ISO 14496-12 sample-table walk (stsd 'jpeg' entry,
    // per-sample stsz, stsc run map over two-sample chunks, stco) and
    // the same T.81 DC decoder as the MJPEG-AVI reel — so the pinned
    // constants are IDENTICAL to that fixture's (same codec, different
    // container). Closes the former "mp4 is header-only" stub for a
    // real codec family.
    "q_multimodal_mp4_dhash" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val mediaDir = graft.sources.MediaFixture.ensureMp4DHash()
        val files = s.read.format("binaryFile").load(mediaDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("name"),
            col("content"))
        val names = files.select("name").collect().map(_.getString(0)).sorted
        val idx = names.zipWithIndex.toMap
        val nameDf = names.zipWithIndex
          .map { case (n, i) => (i.toLong, n) }.toSeq.toDF("media_id", "name")
        val blobs = files.as[(String, Array[Byte])]
          .map { case (n, c) =>
            operators.Multimodal.MediaBlob(idx(n).toLong, "mp4", c) }
        operators.Multimodal.videoDHashes(blobs)
          .join(broadcast(nameDf), "media_id")
          .select(col("name"), col("frame_idx"), col("vdhash"))
      },
      Some(s"""SELECT name, frame_idx, vdhash
              |FROM read_csv('${graft.sources.MediaFixture.expectedMp4DHashCsvPath}',
              |  header=true, columns={'name':'VARCHAR','frame_idx':'INTEGER',
              |                        'vdhash':'BIGINT'})""".stripMargin)
    )),

    // CROSS-FORMAT video near-dup across the mp4 ↔ avi boundary: the
    // MJPEG-AVI reel and the MJPEG-MP4 reel carry the same patterns
    // through two container walks (RIFF chunk scan vs ISO sample
    // table) into ONE codec path — mp4_a pairs with mjpeg_a and mp4_b
    // with mjpeg_b frame-for-frame; an _a never pairs with a _b (they
    // share only the flat frame, 1 < minMatchingFrames).
    "q_mp4_crossformat_pairs" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val d1 = graft.sources.MediaFixture.ensureMjpegDHash()
        val d2 = graft.sources.MediaFixture.ensureMp4DHash()
        val files = s.read.format("binaryFile").load(d1, d2)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("name"),
            col("content"))
        val names = files.select("name").collect().map(_.getString(0)).sorted
        val idx = names.zipWithIndex.toMap
        val nameDf = names.zipWithIndex
          .map { case (n, i) => (i.toLong, n) }.toSeq.toDF("mid", "name")
        val blobs = files.as[(String, Array[Byte])]
          .map { case (n, c) => operators.Multimodal.MediaBlob(idx(n).toLong,
            n.substring(n.lastIndexOf('.') + 1), c) }
        operators.Multimodal.videoNearDupPairs(blobs, maxHamming = 3,
            minMatchingFrames = 2)
          .join(broadcast(nameDf.toDF("id_a", "name_a")), "id_a")
          .join(broadcast(nameDf.toDF("id_b", "name_b")), "id_b")
          .select("name_a", "name_b", "n_matching_frames")
      },
      Some(s"""WITH u AS (
              |  SELECT name, frame_idx, vdhash
              |  FROM read_csv('${graft.sources.MediaFixture.expectedMjpegDHashCsvPath}',
              |    header=true, columns={'name':'VARCHAR','frame_idx':'INTEGER',
              |                          'vdhash':'BIGINT'})
              |  UNION ALL
              |  SELECT name, frame_idx, vdhash
              |  FROM read_csv('${graft.sources.MediaFixture.expectedMp4DHashCsvPath}',
              |    header=true, columns={'name':'VARCHAR','frame_idx':'INTEGER',
              |                          'vdhash':'BIGINT'})),
              |h AS (SELECT name, frame_idx, vdhash,
              |    dense_rank() OVER (ORDER BY name) - 1 AS mid FROM u)
              |SELECT a.name AS name_a, b.name AS name_b,
              |  count(*) AS n_matching_frames
              |FROM h a JOIN h b
              |  ON a.frame_idx = b.frame_idx AND a.mid < b.mid
              |WHERE bit_count(xor(a.vdhash, b.vdhash)) <= 3
              |GROUP BY 1, 2
              |HAVING count(*) >= 2""".stripMargin)
    )),

    // MJPEG-in-Matroska per-frame hashes — the FIFTH video container:
    // the EBML walk recovers each V_MJPEG SimpleBlock's standalone
    // JPEG (track-number vint, lacing rejected loudly) and the same
    // T.81 DC decoder runs, so the constants are inherited from the
    // AVI/MP4 reels once more. This closes the "mkv frame decode is
    // header-only" half of the former video stub for a real codec.
    "q_multimodal_mkv_dhash" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val mediaDir = graft.sources.MediaFixture.ensureMkvDHash()
        val files = s.read.format("binaryFile").load(mediaDir)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("name"),
            col("content"))
        val names = files.select("name").collect().map(_.getString(0)).sorted
        val idx = names.zipWithIndex.toMap
        val nameDf = names.zipWithIndex
          .map { case (n, i) => (i.toLong, n) }.toSeq.toDF("media_id", "name")
        val blobs = files.as[(String, Array[Byte])]
          .map { case (n, c) =>
            operators.Multimodal.MediaBlob(idx(n).toLong, "mkv", c) }
        operators.Multimodal.videoDHashes(blobs)
          .join(broadcast(nameDf), "media_id")
          .select(col("name"), col("frame_idx"), col("vdhash"))
      },
      Some(s"""SELECT name, frame_idx, vdhash
              |FROM read_csv('${graft.sources.MediaFixture.expectedMkvDHashCsvPath}',
              |  header=true, columns={'name':'VARCHAR','frame_idx':'INTEGER',
              |                        'vdhash':'BIGINT'})""".stripMargin)
    )),

    // TRI-CONTAINER MJPEG near-dup: avi ↔ mp4 ↔ mkv reels of the same
    // patterns through three container walks (RIFF chunk scan, ISO
    // sample table, EBML blocks) into one codec path — the three *_a
    // reels pair pairwise and the three *_b reels pair pairwise (6
    // rows); an _a never pairs with a _b (only the flat frame is
    // shared, 1 < minMatchingFrames).
    "q_mkv_crossformat_pairs" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val d1 = graft.sources.MediaFixture.ensureMjpegDHash()
        val d2 = graft.sources.MediaFixture.ensureMp4DHash()
        val d3 = graft.sources.MediaFixture.ensureMkvDHash()
        val files = s.read.format("binaryFile").load(d1, d2, d3)
          .select(regexp_extract(col("path"), "([^/]+)$", 1).as("name"),
            col("content"))
        val names = files.select("name").collect().map(_.getString(0)).sorted
        val idx = names.zipWithIndex.toMap
        val nameDf = names.zipWithIndex
          .map { case (n, i) => (i.toLong, n) }.toSeq.toDF("mid", "name")
        val blobs = files.as[(String, Array[Byte])]
          .map { case (n, c) => operators.Multimodal.MediaBlob(idx(n).toLong,
            n.substring(n.lastIndexOf('.') + 1), c) }
        operators.Multimodal.videoNearDupPairs(blobs, maxHamming = 3,
            minMatchingFrames = 2)
          .join(broadcast(nameDf.toDF("id_a", "name_a")), "id_a")
          .join(broadcast(nameDf.toDF("id_b", "name_b")), "id_b")
          .select("name_a", "name_b", "n_matching_frames")
      },
      Some(s"""WITH u AS (
              |  SELECT name, frame_idx, vdhash
              |  FROM read_csv('${graft.sources.MediaFixture.expectedMjpegDHashCsvPath}',
              |    header=true, columns={'name':'VARCHAR','frame_idx':'INTEGER',
              |                          'vdhash':'BIGINT'})
              |  UNION ALL
              |  SELECT name, frame_idx, vdhash
              |  FROM read_csv('${graft.sources.MediaFixture.expectedMp4DHashCsvPath}',
              |    header=true, columns={'name':'VARCHAR','frame_idx':'INTEGER',
              |                          'vdhash':'BIGINT'})
              |  UNION ALL
              |  SELECT name, frame_idx, vdhash
              |  FROM read_csv('${graft.sources.MediaFixture.expectedMkvDHashCsvPath}',
              |    header=true, columns={'name':'VARCHAR','frame_idx':'INTEGER',
              |                          'vdhash':'BIGINT'})),
              |h AS (SELECT name, frame_idx, vdhash,
              |    dense_rank() OVER (ORDER BY name) - 1 AS mid FROM u)
              |SELECT a.name AS name_a, b.name AS name_b,
              |  count(*) AS n_matching_frames
              |FROM h a JOIN h b
              |  ON a.frame_idx = b.frame_idx AND a.mid < b.mid
              |WHERE bit_count(xor(a.vdhash, b.vdhash)) <= 3
              |GROUP BY 1, 2
              |HAVING count(*) >= 2""".stripMargin)
    )),

    // The post-training composition end-to-end under ONE oracle —
    // the q_mixture_pipeline discipline applied to the SFT wing:
    // near-dup clusters → leakage-safe 80/10/10 split (cluster-
    // closed, so no near-dup family straddles train and eval) →
    // tokenizer trained on the FULL corpus (one tokenizer,
    // split-independent — the production shape) → word-structured
    // encode → loss mask → keep the train split. The oracle replays
    // clusters, split hash, three BPE training rounds, the per-word
    // encode, and the label mask in one statement.
    "q_sft_pipeline" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir)
        val clusters = Dedup.duplicateClusters(
          Dedup.jaccardPairs(d, "doc_id", "text", threshold = 0.8)
            .select("id_a", "id_b"))
        val split = operators.Sampling.leakageSafeSplit(d.select("doc_id"),
          "doc_id", clusters, valFraction = 0.1, testFraction = 0.1)
        // merges + vocab from ONE corpus word pass (round 17) —
        // byte-identical to the trainMerges-then-vocab sequence
        val (merges, vocab) = operators.Bpe.trainAndVocab(d, "text", rounds = 3)
        // NOT spread here (round 17): unlike q_sft_mask, the encode
        // output immediately joins the split table — the spread's
        // extra exchange measured +0.4 s on this query (A/B'd)
        val ew = operators.Bpe.encodeWords(d, "text", "doc_id", merges, vocab)
        operators.PostTraining.lossMask(ew, "doc_id", "bpe_word_ids",
            pmod(col("doc_id"), lit(7L)) + 1)
          .join(split.filter(col("split") === "train"), "doc_id")
          .select(col("doc_id"), col("cluster_key"),
            array_join(col("input_ids"), ",").as("input_ids_csv"),
            array_join(col("labels"), ",").as("labels_csv"),
            col("n_masked"))
      },
      Some {
        val splitCtes =
          JaccardClusterOracleCtes + ",\n" +
            """al AS (SELECT d.doc_id, COALESCE(cl.canonical_id, d.doc_id) AS cluster_key
              |  FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id),
              |spl AS (SELECT doc_id, cluster_key,
              |  CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'val'
              |       ELSE 'test' END AS split
              |  FROM (SELECT doc_id, cluster_key,
              |    CAST(('0x' || substr(md5('split_' || CAST(cluster_key AS VARCHAR)), 1, 8)) AS BIGINT)
              |      % 10000 AS b FROM al)),
              |""".stripMargin
        bpeEncodeOracleCtes(preCtes = splitCtes) + ",\n" +
          """mk AS (SELECT doc_id, bpe_words, doc_id % 7 + 1 AS k FROM encw),
            |lab AS (SELECT doc_id,
            |  flatten(bpe_words) AS input_ids,
            |  flatten([CASE WHEN i < k
            |      THEN list_transform(bpe_words[i+1], x -> CAST(-100 AS BIGINT))
            |      ELSE bpe_words[i+1] END
            |    for i in range(len(bpe_words))]) AS labels
            |  FROM mk)
            |SELECT lab.doc_id, spl.cluster_key,
            |  array_to_string(input_ids, ',') AS input_ids_csv,
            |  array_to_string(labels, ',') AS labels_csv,
            |  CAST(len([x for x in labels if x = -100]) AS BIGINT) AS n_masked
            |FROM lab JOIN spl ON spl.doc_id = lab.doc_id
            |WHERE spl.split = 'train'""".stripMargin
      }
    )),

    // Cross-source n-gram novelty: what fraction of each source's
    // distinct trigrams appears in NO other source — the inter-source
    // redundancy signal mixture design needs (a source whose grams all
    // exist elsewhere adds volume, not coverage). Exact set algebra:
    // distinct (source, gram) pairs → per-gram source count → per-
    // source exclusive fraction. One gram-keyed aggregation with
    // map-side distinct partials; grams never fan out per doc.
    "q_ngram_novelty" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir)
        // Spark's sequence(1, 0) DESCENDS (the Bpe guard) — short docs
        // must hit the empty-array branch, never the ramp. `ws` is
        // MATERIALIZED in its own projection before the lambda:
        // invariant subtrees are NOT hoisted out of HOF lambdas, so
        // an inline split(text) would re-tokenize the whole doc for
        // EVERY element_at — 3 full splits per gram, O(n²) per doc
        // (the mlm/chrF lesson; measured 4.15 → 1.18 s at sf0.1).
        val grams = d.select(col("source"), split(col("text"), " ").as("ws"))
          .select(col("source"),
            explode(expr(
              "case when size(ws) < 3 then array() " +
                "else transform(sequence(1, size(ws) - 2), " +
                "i -> concat_ws('_', element_at(ws, i), " +
                "element_at(ws, i + 1), " +
                "element_at(ws, i + 2))) end")).as("g"))
        // ONE g-keyed aggregation: collect_set dedups map-side and the
        // per-gram source set is bounded by source cardinality, so the
        // shuffle ships (gram, partial set) once — no corpus-wide
        // distinct exchange, no second window/join pass over the grams
        grams.groupBy("g").agg(collect_set(col("source")).as("srcs"))
          .select(explode(col("srcs")).as("source"),
            size(col("srcs")).as("nsrc"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("nsrc") === 1, 1L).otherwise(0L)).as("n_exclusive"))
          .select(col("source"), col("n_grams"), col("n_exclusive"),
            round(col("n_exclusive").cast("double") / col("n_grams").cast("double"), 6)
              .as("novelty"))
      },
      Some("""WITH t AS (SELECT source, string_split(text, ' ') ws FROM documents),
             |g AS (SELECT DISTINCT source,
             |  unnest([ws[i] || '_' || ws[i+1] || '_' || ws[i+2]
             |    for i in range(1, greatest(len(ws) - 2, 0) + 1)]) AS g
             |  FROM t),
             |ns AS (SELECT g, count(*) AS nsrc FROM g GROUP BY 1)
             |SELECT source, count(*) AS n_grams,
             |  CAST(sum(CASE WHEN nsrc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_exclusive,
             |  round(CAST(sum(CASE WHEN nsrc = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             |    / CAST(count(*) AS DOUBLE), 6) AS novelty
             |FROM g JOIN ns USING (g) GROUP BY source""".stripMargin)
    )),

    // Personalized PageRank from a trusted seed set — the crawl-seed
    // expansion signal (teleport mass lands only on seeds; high-rank
    // UNSEEN nodes are the next domains worth fetching). Same integer
    // fixed-point discipline as q_pagerank, so five iterations replay
    // exactly; the seed set is a plan literal.
    "q_personalized_pagerank" -> ((
      (s: SparkSession, dir: String) => {
        val e = Tables.lineitem(s, dir)
          .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
          .select(col("l_suppkey").as("src"), col("o_custkey").as("dst"))
        operators.Graph.personalizedPageRank(e, Seq(1L, 2L, 3L), iterations = 5)
      },
      Some {
        val s0 = 1000000000000L
        val steps = (1 to 5).map { i =>
          s"""r$i AS (SELECT nodes.id,
             |  (CASE WHEN nodes.id IN (1, 2, 3) THEN (15 * $s0) // (100 * 3) ELSE 0 END)
             |  + CAST((85 * CAST(COALESCE(s.s, 0) AS BIGINT)) // 100 AS BIGINT) AS r
             | FROM nodes LEFT JOIN (
             |   SELECT e.dst AS id, CAST(sum(r${i - 1}.r // deg.deg) AS BIGINT) AS s
             |   FROM e JOIN r${i - 1} ON r${i - 1}.id = e.src
             |   JOIN deg ON deg.src = e.src GROUP BY 1) s ON s.id = nodes.id)""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS (SELECT DISTINCT l_suppkey AS src, o_custkey AS dst
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
           |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
           |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
           |r0 AS (SELECT id,
           |  CASE WHEN id IN (1, 2, 3) THEN $s0 // 3 ELSE CAST(0 AS BIGINT) END AS r
           |  FROM nodes),
           |$steps
           |SELECT id, r AS rank_fp FROM r5""".stripMargin
      }
    )),

    // Code-switching detection: segment every doc into 10-token
    // windows, language-ID each segment by stopword vote (same
    // precedence as TextAnalysis.langId), and report per doc the
    // dominant language, the number of adjacent-segment language
    // switches, and the minority fraction — the multilingual-corpus
    // signal that catches documents which flip language mid-stream
    // (boilerplate wrappers, quoted translations, spam). Docs get
    // planted 20-token Spanish/German suffixes (es-only / de-only
    // stopwords, so at least one PURE foreign segment exists at any
    // window alignment) to make the switches non-trivial; the oracle
    // replays segmentation, votes, switch counts and tie-breaks.
    "q_code_switch" -> ((
      (s: SparkSession, dir: String) => {
        val esSuf = Seq.fill(5)("el y que los").mkString(" ")
        val deSuf = Seq.fill(4)("der das und ist von").mkString(" ")
        val d = Tables.documents(s, dir).withColumn("text",
          concat(col("text"),
            when(pmod(col("doc_id"), lit(5L)) === 0, lit(" " + esSuf))
              .when(pmod(col("doc_id"), lit(5L)) === 1, lit(" " + deSuf))
              .otherwise(lit(""))))
        // ws materialized BEFORE the lambda: an inline split(text)
        // inside the HOF body re-tokenizes the whole doc per segment
        // (invariant subtrees are not hoisted — the q_ngram_novelty
        // 4.15 → 1.18 s lesson)
        val segs = d.select(col("doc_id"), split(col("text"), " ").as("ws"))
          .select(col("doc_id"),
            posexplode(expr(
              "transform(sequence(0, cast((size(ws) + 9) div 10 as int) - 1), " +
                "i -> slice(ws, i * 10 + 1, 10))")))
          .toDF("doc_id", "pos", "seg")
        def hits(lang: String) =
          size(filter(col("seg"),
            w => w.isin(TextAnalysis.stopwords(lang).map(lit): _*))).cast("long")
        val (en, es, de, fr) = (hits("en"), hits("es"), hits("de"), hits("fr"))
        val langRows = segs.select(col("doc_id"), col("pos"),
          when(en > 0 && en >= es && en >= de && en >= fr, lit("en"))
            .when(es > 0 && es >= de && es >= fr, lit("es"))
            .when(de > 0 && de >= fr, lit("de"))
            .when(fr > 0, lit("fr")).otherwise(lit("und")).as("lang"))
        val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        val perDoc = langRows
          .withColumn("prev", lag(col("lang"), 1).over(w))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_segments"),
            sum(when(col("prev").isNotNull && col("lang") =!= col("prev"), 1L)
              .otherwise(0L)).as("n_switches"))
        val dom = langRows.groupBy("doc_id", "lang")
          .agg(count(lit(1)).as("c"))
          .withColumn("rn", row_number().over(Window.partitionBy("doc_id")
            .orderBy(col("c").desc, col("lang").asc)))
          .filter(col("rn") === 1)
          .select(col("doc_id"), col("lang").as("dominant_lang"), col("c"))
        perDoc.join(dom, "doc_id")
          .select(col("doc_id"), col("n_segments"), col("dominant_lang"),
            col("n_switches"),
            round(lit(1.0) - col("c").cast("double") /
              col("n_segments").cast("double"), 6).as("minority_frac"))
      },
      Some {
        def inList(lang: String) = TextAnalysis.stopwords(lang)
          .map(x => s"'$x'").mkString(", ")
        val esSuf = Seq.fill(5)("el y que los").mkString(" ")
        val deSuf = Seq.fill(4)("der das und ist von").mkString(" ")
        s"""WITH t AS (SELECT doc_id, text ||
           |  CASE CAST(doc_id % 5 AS INTEGER)
           |    WHEN 0 THEN ' $esSuf' WHEN 1 THEN ' $deSuf' ELSE '' END AS text
           |  FROM documents),
           |wt AS (SELECT doc_id, string_split(text, ' ') AS ws FROM t),
           |segl AS (SELECT doc_id, pos, list_slice(ws, pos * 10 + 1, pos * 10 + 10) AS seg
           |  FROM (SELECT doc_id, ws, unnest(range((len(ws) + 9) // 10)) AS pos FROM wt)),
           |lng AS (SELECT doc_id, pos,
           |  CASE WHEN en > 0 AND en >= es AND en >= de AND en >= fr THEN 'en'
           |       WHEN es > 0 AND es >= de AND es >= fr THEN 'es'
           |       WHEN de > 0 AND de >= fr THEN 'de'
           |       WHEN fr > 0 THEN 'fr' ELSE 'und' END AS lang
           |  FROM (SELECT doc_id, pos,
           |    len([w for w in seg if w IN (${inList("en")})]) AS en,
           |    len([w for w in seg if w IN (${inList("es")})]) AS es,
           |    len([w for w in seg if w IN (${inList("de")})]) AS de,
           |    len([w for w in seg if w IN (${inList("fr")})]) AS fr
           |  FROM segl)),
           |swp AS (SELECT doc_id, lang,
           |  lag(lang) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM lng),
           |pd AS (SELECT doc_id, count(*) AS n_segments,
           |  CAST(sum(CASE WHEN prev IS NOT NULL AND lang <> prev THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_switches
           |  FROM swp GROUP BY 1),
           |cnt AS (SELECT doc_id, lang, count(*) AS c FROM lng GROUP BY 1, 2),
           |dom AS (SELECT doc_id, lang AS dominant_lang, c FROM (
           |  SELECT *, row_number() OVER (PARTITION BY doc_id
           |    ORDER BY c DESC, lang ASC) AS rn FROM cnt) WHERE rn = 1)
           |SELECT pd.doc_id, pd.n_segments, dom.dominant_lang, pd.n_switches,
           |  round(1.0 - CAST(dom.c AS DOUBLE) / CAST(pd.n_segments AS DOUBLE), 6)
           |    AS minority_frac
           |FROM pd JOIN dom USING (doc_id)""".stripMargin
      }
    )),

    // PMI collocation mining (phrase detection): top-50 adjacent word
    // pairs by pointwise mutual information over corpus-wide
    // bigram/unigram counts (Church & Hanks; the word2vec phrase-pass
    // score). pmi is ONE double expression over exact integer counts
    // with left-assoc products mirrored in the oracle, rounded to 6
    // before the total (pmi desc, w1, w2) ranking; the minCount
    // filter lands before the unigram joins (prunes the hapax tail)
    // and the top-k is a TakeOrdered, never a global sort.
    "q_pmi_phrases" -> ((
      (s: SparkSession, dir: String) =>
        operators.NgramLM.pmiPhrases(Tables.documents(s, dir), "doc_id",
          "text", minCount = 5L, topK = 50),
      Some("""WITH ws AS (SELECT string_split(text, ' ') AS w FROM documents),
             |bg AS (SELECT unnest(
             |    [{'w1': w[i], 'w2': w[i + 1]} for i in range(1, len(w))]) AS p
             |  FROM ws),
             |uni AS (SELECT unnest(w) AS t FROM ws),
             |cb AS (SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS c12 FROM bg
             |  GROUP BY 1, 2 HAVING count(*) >= 5),
             |cu AS (SELECT t, count(*) AS c FROM uni GROUP BY 1),
             |tot AS (SELECT (SELECT count(*) FROM uni) AS n,
             |  (SELECT count(*) FROM bg) AS nb)
             |SELECT w1, w2, c12 AS n_ab,
             |  round(ln((CAST(c12 AS DOUBLE) * n * n) /
             |    (CAST(nb AS DOUBLE) * ua.c * ub.c)), 6) AS pmi
             |FROM cb JOIN cu ua ON ua.t = cb.w1 JOIN cu ub ON ub.t = cb.w2
             |CROSS JOIN tot
             |ORDER BY pmi DESC, w1, w2 LIMIT 50""".stripMargin)
    )),

    // Adamic–Adar link prediction over the order-graph fixture: for
    // every non-adjacent pair sharing neighbors, Σ_z 1/ln(deg(z)) —
    // common-neighbor evidence down-weighting hub intermediaries. The
    // wedge join is the z-keyed adjacency self-join with the NAMED
    // maxHubDeg cap (each z costs deg(z)² pairs — the quadratic hub
    // bomb; capped centers are the least-informative contributions by
    // construction); existing edges leave via one left-anti join on
    // the canonical pair key; each 1/ln(deg) term rounds to 9 AT
    // BIRTH and sums by a sorted fold (list_sum over list_sort), so
    // every (pair, n_common, aa) row hash-matches engine-exactly.
    "q_link_predict" -> ((
      (s: SparkSession, dir: String) => {
        val e = Tables.orders(s, dir)
          .filter(pmod(col("o_orderkey"), lit(37L)) < 2)
          .select(pmod(col("o_custkey"), lit(500L)).as("src"),
            pmod(col("o_orderkey"), lit(500L)).as("dst"))
        operators.Graph.adamicAdar(e)
      },
      Some("""WITH raw AS (SELECT o_custkey % 500 AS s, o_orderkey % 500 AS t
             |  FROM orders WHERE o_orderkey % 37 < 2),
             |e0 AS (SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
             |  FROM raw WHERE s <> t),
             |adj AS (SELECT a AS x, b AS z FROM e0
             |  UNION ALL SELECT b AS x, a AS z FROM e0),
             |deg AS (SELECT z, count(*) AS d FROM adj GROUP BY 1),
             |ctr AS (SELECT adj.x, adj.z, deg.d FROM adj JOIN deg USING (z)
             |  WHERE deg.d <= 1000),
             |wg AS (SELECT l.x AS u, r.x AS v, l.d AS dz FROM ctr l
             |  JOIN ctr r ON l.z = r.z AND l.x < r.x),
             |nw AS (SELECT u, v, dz FROM wg WHERE NOT EXISTS (
             |  SELECT 1 FROM e0 WHERE e0.a = wg.u AND e0.b = wg.v))
             |SELECT u, v, count(*) AS n_common,
             |  round(list_sum(list_sort(list(round(1.0 / ln(CAST(dz AS DOUBLE)), 9)))), 6) AS aa
             |FROM nw GROUP BY 1, 2""".stripMargin)
    )),

    // Cross-source quantile normalization of the quality score:
    // per-source classifier scales don't compare, so each doc's score
    // maps to the GLOBAL score at its within-source quantile — both
    // ranks come from the range-partitioned groupedPositions machinery
    // (never a one-task-per-source window), the target position is
    // exact integer arithmetic ((rn−1)·N div n_s + 1), and the score
    // itself is the suite's bit-exact integer-division quality signal,
    // so every calibrated double hash-matches.
    "q_quantile_normalize" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"),
            TextAnalysis.qualityScore(col("text")).as("score"))
        operators.Sampling.quantileNormalize(d, "source", "score", "doc_id")
      },
      Some {
        val allStop = TextAnalysis.stopwords.values.flatten.toSeq.distinct
          .map(w => s"'$w'").mkString(", ")
        s"""WITH q0 AS (SELECT doc_id, source,
           |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
           |  CAST(len([w for w in string_split(text, ' ') if w IN ($allStop)]) AS BIGINT) AS nstop,
           |  CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS nalpha,
           |  CAST(length(text) AS BIGINT) AS nchars
           |FROM documents),
           |c AS (SELECT doc_id, source,
           |  CAST(4 * least(ntok, 100) * ntok * nchars + 300 * nstop * nchars
           |       + 300 * nalpha * ntok AS DOUBLE)
           |  / CAST(1000 * ntok * nchars AS DOUBLE) AS score
           |FROM q0),
           |r AS (SELECT doc_id, source, score, row_number()
           |  OVER (PARTITION BY source ORDER BY score, doc_id) AS rn FROM c),
           |ns AS (SELECT source, count(*) AS ns FROM c GROUP BY 1),
           |tot AS (SELECT count(*) AS n FROM c),
           |g AS (SELECT score AS calibrated, row_number()
           |  OVER (ORDER BY score, doc_id) AS gr FROM c)
           |SELECT r.doc_id, r.source, r.score, g.calibrated
           |FROM r JOIN ns USING (source) CROSS JOIN tot
           |JOIN g ON g.gr = ((r.rn - 1) * n) // ns + 1""".stripMargin
      }
    )),

    // Retrieval-ranking metrics (MRR, precision/recall/nDCG@10): the
    // eval counterpart of the RRF / hard-negative retrieval stack.
    // The fixture builds runs WITHOUT a ranking window — rank is the
    // arithmetic bijection (doc_id·7) mod 50 + 1 within each
    // 50-doc query block (gcd(7,50)=1 keeps ranks unique), and qrels
    // plant graded rel 1..3 on a residue class, with every 10th query
    // qrel-free to exercise the zero paths. Precision/recall/MRR are
    // exact rationals; each DCG term is rounded to 9 AT BIRTH and
    // summed by a rank-ordered fold (DuckDB list_sum over an ORDER BY
    // rank list), the [[operators.Eval.retrievalMetrics]] discipline,
    // so every ndcg double hash-matches.
    "q_retrieval_metrics" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir)
        val runs = d.select(expr("doc_id div 50").as("query_id"),
            col("doc_id"), expr("(doc_id * 7) % 50 + 1").as("rank"))
          .filter(col("rank") <= 10)
        val qrels = d
          .filter(expr("doc_id % 11 < 4 AND (doc_id div 50) % 10 <> 3"))
          .select(expr("doc_id div 50").as("query_id"), col("doc_id"),
            expr("(doc_id % 3) + 1").as("rel"))
        operators.Eval.retrievalMetrics(runs, qrels,
          "query_id", "doc_id", "rank", "rel", k = 10)
      },
      Some("""WITH runs AS (SELECT doc_id // 50 AS query_id, doc_id,
             |    (doc_id * 7) % 50 + 1 AS rank FROM documents
             |  WHERE (doc_id * 7) % 50 + 1 <= 10),
             |qrels AS (SELECT doc_id // 50 AS query_id, doc_id,
             |    (doc_id % 3) + 1 AS rel FROM documents
             |  WHERE doc_id % 11 < 4 AND (doc_id // 50) % 10 <> 3),
             |j AS (SELECT r.query_id, r.rank, coalesce(q.rel, 0) AS rel
             |  FROM runs r LEFT JOIN qrels q USING (query_id, doc_id)),
             |obs AS (SELECT query_id,
             |  CAST(sum(CASE WHEN rel >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel_ret,
             |  min(CASE WHEN rel >= 1 THEN rank END) AS first_rel,
             |  list_sum([round((pow(2.0, x.rel) - 1.0) / log2(CAST(x.rank AS DOUBLE) + 1.0), 9)
             |    for x in list({'rank': rank, 'rel': rel} ORDER BY rank)]) AS dcg
             |  FROM j GROUP BY 1),
             |idl AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel,
             |  list_sum(list_transform(list_sort(list(rel), 'DESC')[1:10], (r, i) ->
             |    round((pow(2.0, r) - 1.0) / log2(CAST(i AS DOUBLE) + 1.0), 9))) AS idcg
             |  FROM qrels GROUP BY 1)
             |SELECT coalesce(o.query_id, i.query_id) AS query_id,
             |  coalesce(i.n_rel, 0) AS n_rel,
             |  coalesce(o.n_rel_ret, 0) AS n_rel_ret,
             |  round(CASE WHEN o.first_rel IS NOT NULL
             |    THEN 1.0 / o.first_rel ELSE 0.0 END, 6) AS mrr_at_10,
             |  round(CAST(coalesce(o.n_rel_ret, 0) AS DOUBLE) / 10.0, 6) AS precision_at_10,
             |  round(CASE WHEN coalesce(i.n_rel, 0) > 0
             |    THEN CAST(coalesce(o.n_rel_ret, 0) AS DOUBLE) / i.n_rel
             |    ELSE 0.0 END, 6) AS recall_at_10,
             |  round(CASE WHEN coalesce(i.idcg, 0) > 0
             |    THEN coalesce(o.dcg, 0) / i.idcg ELSE 0.0 END, 6) AS ndcg_at_10
             |FROM obs o FULL OUTER JOIN idl i ON o.query_id = i.query_id""".stripMargin)
    )),

    // Per-group ROC-AUC: the classifier-eval closer. The fixture
    // derives a 1000-value quantized score (doc_id·37 mod 1000 / 1000
    // — the integer-ratio double is bit-identical in both engines) and
    // a label correlated with it through additive deterministic noise
    // (label = score rung + noise rung ≥ 1000), so per-group AUC is
    // meaningfully above 0.5 and ~5 docs share each score value —
    // the tie half-credit path carries real weight. The oracle
    // computes the SAME exact integer numerator num2 =
    // Σ pos·(2·negBelow + neg) with one cumulative window (the oracle
    // replays the algebra, not the two-level prefix-sum plan), then
    // one division, round-6.
    // Average precision (AUPRC, step rule) on the q_auc_roc fixture —
    // the imbalance-robust companion metric: same (group, score)
    // aggregation discipline, blocks fold in score-descending order
    // with round-9 terms, the oracle replays the fold through bounded
    // windows + an ordered list_reduce. Tie-blocks evaluate precision
    // at block END (named; no per-order ambiguity).
    "q_avg_precision" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir)
        val scored = d.select(
          expr("doc_id % 4").as("grp"),
          expr("CAST((doc_id * 37) % 1000 AS DOUBLE) / 1000.0").as("score"),
          expr("CASE WHEN (doc_id * 37) % 1000 + (doc_id * 13) % 600 >= 1000 " +
            "THEN 1 ELSE 0 END").as("label"))
        operators.Eval.averagePrecision(scored, "grp", "score", "label")
      },
      Some("""WITH scored AS (SELECT doc_id % 4 AS grp,
             |    CAST((doc_id * 37) % 1000 AS DOUBLE) / 1000.0 AS score,
             |    CASE WHEN (doc_id * 37) % 1000 + (doc_id * 13) % 600 >= 1000
             |      THEN 1 ELSE 0 END AS label FROM documents),
             |b AS (SELECT grp, score, CAST(sum(label) AS BIGINT) AS pos,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM scored GROUP BY 1, 2),
             |t AS (SELECT grp, score, pos, n,
             |    CAST(sum(pos) OVER w AS BIGINT) AS cp,
             |    CAST(sum(n) OVER w AS BIGINT) AS ca,
             |    CAST(sum(pos) OVER (PARTITION BY grp) AS BIGINT) AS n_pos,
             |    CAST(sum(n) OVER (PARTITION BY grp) AS BIGINT) AS n_all
             |  FROM b
             |  WINDOW w AS (PARTITION BY grp ORDER BY score DESC
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             |tm AS (SELECT grp, score, n_pos, n_all,
             |    round((CAST(pos AS DOUBLE) / CAST(n_pos AS DOUBLE)) *
             |      (CAST(cp AS DOUBLE) / CAST(ca AS DOUBLE)), 9) AS term
             |  FROM t WHERE n_pos > 0)
             |SELECT grp, n_pos, n_all,
             |  round(list_reduce(list(term ORDER BY score DESC),
             |    (a, b) -> a + b), 6) AS ap
             |FROM tm GROUP BY 1, 2, 3
             |UNION ALL
             |SELECT DISTINCT grp, n_pos, n_all, CAST(NULL AS DOUBLE)
             |FROM t WHERE n_pos = 0""".stripMargin)
    )),

    "q_auc_roc" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir)
        val scored = d.select(
          expr("doc_id % 4").as("grp"),
          expr("CAST((doc_id * 37) % 1000 AS DOUBLE) / 1000.0").as("score"),
          expr("CASE WHEN (doc_id * 37) % 1000 + (doc_id * 13) % 600 >= 1000 " +
            "THEN 1 ELSE 0 END").as("label"))
        operators.Eval.rocAuc(scored, "grp", "score", "label")
      },
      Some("""WITH scored AS (SELECT doc_id % 4 AS grp,
             |    CAST((doc_id * 37) % 1000 AS DOUBLE) / 1000.0 AS score,
             |    CASE WHEN (doc_id * 37) % 1000 + (doc_id * 13) % 600 >= 1000
             |      THEN 1 ELSE 0 END AS label FROM documents),
             |s AS (SELECT grp, score, sum(label) AS pos, sum(1 - label) AS neg
             |  FROM scored GROUP BY 1, 2),
             |c AS (SELECT grp, pos, neg, coalesce(sum(neg) OVER (PARTITION BY grp
             |    ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |    0) AS neg_below FROM s)
             |SELECT grp, CAST(sum(pos) AS BIGINT) AS n_pos,
             |  CAST(sum(neg) AS BIGINT) AS n_neg,
             |  CASE WHEN sum(pos) > 0 AND sum(neg) > 0 THEN
             |    round(CAST(sum(pos * (2 * neg_below + neg)) AS DOUBLE) /
             |      CAST(2 * sum(pos) * sum(neg) AS DOUBLE), 6) END AS auc
             |FROM c GROUP BY 1""".stripMargin)
    )),

    // Group-conditional (Mondrian) split conformal prediction (Vovk;
    // the distribution-free coverage wrapper every LLM-eval stack is
    // adopting): the %7==0 calibration slice fits, PER SOURCE, a
    // constant predictor (the exact lower median of the fixed-point
    // quality score) and the conformal quantile q̂ = the
    // ⌈(n_g+1)·0.9⌉-th smallest |y − med| (exact order statistic —
    // integer ceil, never a float quantile); every held-out doc then
    // gets [med − q̂, med + q̂] and its coverage bit. EVERYTHING is
    // int64 micro-units — medians and quantiles are rank-selected
    // values, not interpolations — so both engines agree bit-for-bit.
    // Ranks ride groupedPositions (range exchange), never a
    // one-task-per-source window; the per-source (med, q̂) table is
    // source-cardinality-bounded and broadcasts back. A group too
    // small for the quantile index (k > n_g) yields NULL bounds — the
    // honest infinite interval, never a clamp (the pass_at_k rule).
    "q_conformal_interval" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"),
            round(TextAnalysis.qualityScore(col("text")) * 1e6, 0)
              .cast("long").as("y"))
        val cal = d.filter(pmod(col("doc_id"), lit(7L)) === 0)
        val sizes = cal.groupBy("lang").agg(count(lit(1)).as("n_g"))
        val med = operators.Sampling.groupedPositions(cal, Seq("lang"),
            Seq(col("y"), col("doc_id")), "rn")
          .join(broadcast(sizes), "lang")
          .filter(col("rn") === expr("(n_g + 1) div 2"))
          .select(col("lang"), col("y").as("med"))
        val scored = cal.join(broadcast(med), "lang")
          .select(col("lang"), col("doc_id"),
            abs(col("y") - col("med")).as("s"))
        val qhat = operators.Sampling.groupedPositions(scored, Seq("lang"),
            Seq(col("s"), col("doc_id")), "rs")
          .join(broadcast(sizes), "lang")
          .filter(col("rs") === expr("(9 * (n_g + 1) + 9) div 10"))
          .select(col("lang"), col("s").as("qhat"))
        d.filter(pmod(col("doc_id"), lit(7L)) =!= 0)
          .join(broadcast(med), "lang")
          .join(broadcast(qhat), Seq("lang"), "left")
          .select(col("doc_id"), col("lang"),
            (col("med") - col("qhat")).as("lo"),
            (col("med") + col("qhat")).as("hi"),
            (col("y") >= col("med") - col("qhat") &&
              col("y") <= col("med") + col("qhat")).as("covered"))
      },
      Some {
        val allStop = TextAnalysis.stopwords.values.flatten.toSeq.distinct
          .map(w => s"'$w'").mkString(", ")
        s"""WITH c AS (SELECT doc_id, lang,
           |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
           |  CAST(len([w for w in string_split(text, ' ') if w IN ($allStop)]) AS BIGINT) AS nstop,
           |  CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS nalpha,
           |  CAST(length(text) AS BIGINT) AS nchars
           |FROM documents),
           |sc AS (SELECT doc_id, lang, CAST(round(
           |  CAST(4 * least(ntok, 100) * ntok * nchars + 300 * nstop * nchars
           |       + 300 * nalpha * ntok AS DOUBLE)
           |  / CAST(1000 * ntok * nchars AS DOUBLE) * 1000000, 0) AS BIGINT) AS y
           |FROM c),
           |cal AS (SELECT * FROM sc WHERE doc_id % 7 = 0),
           |ng AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_g FROM cal GROUP BY 1),
           |rk AS (SELECT lang, y, CAST(row_number() OVER (PARTITION BY lang
           |    ORDER BY y, doc_id) AS BIGINT) AS rn FROM cal),
           |med AS (SELECT rk.lang, y AS med FROM rk JOIN ng USING (lang)
           |  WHERE rn = (n_g + 1) // 2),
           |scr AS (SELECT cal.lang, cal.doc_id, abs(cal.y - med.med) AS s
           |  FROM cal JOIN med USING (lang)),
           |rs AS (SELECT lang, s, CAST(row_number() OVER (PARTITION BY lang
           |    ORDER BY s, doc_id) AS BIGINT) AS rs FROM scr),
           |qh AS (SELECT rs.lang, s AS qhat FROM rs JOIN ng USING (lang)
           |  WHERE rs = (9 * (n_g + 1) + 9) // 10)
           |SELECT sc.doc_id, sc.lang,
           |  med.med - qh.qhat AS lo, med.med + qh.qhat AS hi,
           |  sc.y BETWEEN med.med - qh.qhat AND med.med + qh.qhat AS covered
           |FROM sc JOIN med ON sc.lang = med.lang
           |LEFT JOIN qh ON sc.lang = qh.lang
           |WHERE sc.doc_id % 7 <> 0""".stripMargin
      }
    )),

    // Calibration reliability table + ECE + Brier: the fixture plants
    // a deliberately miscalibrated classifier — the label threshold
    // (rung + noise >= 750) makes high-confidence bins overshoot their
    // empirical accuracy — so every gap column carries signal. Scores
    // are 3-decimal rationals: the DECIMAL(28,9) casts, the squared
    // Brier terms, and the bin assignment are all exact/bit-identical
    // cross-engine ([[operators.Eval.calibration]] scaladoc), and the
    // ECE fold replays in bin order on both sides.
    "q_calibration" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir)
        val scored = d.select(
          expr("CAST((doc_id * 41) % 1000 AS DOUBLE) / 1000.0").as("score"),
          expr("CASE WHEN (doc_id * 41) % 1000 + (doc_id * 17) % 500 >= 750 " +
            "THEN 1 ELSE 0 END").as("label"))
        operators.Eval.calibration(scored, "score", "label", bins = 10)
      },
      Some("""WITH scored AS (SELECT
             |    CAST((doc_id * 41) % 1000 AS DOUBLE) / 1000.0 AS score,
             |    CASE WHEN (doc_id * 41) % 1000 + (doc_id * 17) % 500 >= 750
             |      THEN 1 ELSE 0 END AS lbl FROM documents),
             |b AS (SELECT greatest(least(CAST(ceil(score * 10) AS BIGINT), 10), 1)
             |    AS bin, score, lbl FROM scored),
             |perbin AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(lbl) AS BIGINT) AS n_pos,
             |    sum(CAST(score AS DECIMAL(28,9))) AS conf_dec,
             |    sum(CAST(round((score - lbl) * (score - lbl), 9) AS DECIMAL(28,9)))
             |      AS sq_dec
             |  FROM b GROUP BY 1),
             |g AS (SELECT bin, n, n_pos,
             |    CAST(conf_dec AS DOUBLE) / CAST(n AS DOUBLE) AS avg_conf,
             |    CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS accuracy,
             |    sq_dec FROM perbin),
             |g2 AS (SELECT *, abs(avg_conf - accuracy) AS gap FROM g),
             |nt AS (SELECT sum(n) AS n_tot FROM perbin),
             |e AS (SELECT
             |    list_sum([round(x.n * x.gap / x.nt, 9)
             |      for x in list({'bin': bin, 'n': n, 'gap': gap, 'nt': n_tot}
             |        ORDER BY bin)]) AS ece_raw,
             |    CAST(sum(sq_dec) AS DOUBLE) / CAST(max(n_tot) AS DOUBLE) AS brier_raw
             |  FROM g2, nt)
             |SELECT bin, n, n_pos, round(avg_conf, 6) AS avg_conf,
             |  round(accuracy, 6) AS accuracy, round(gap, 6) AS gap,
             |  round(ece_raw, 6) AS ece, round(brier_raw, 6) AS brier
             |FROM g2, e""".stripMargin)
    )),

    // Murphy decomposition of the Brier score on the IDENTICAL
    // synthetic (score, label) pairing as q_calibration — the WHY
    // behind that row's brier: miscalibration (reliability),
    // discrimination (resolution), the base-rate floor (uncertainty),
    // and the within-bin moments (score variance MINUS 2x the
    // score/label covariance) that close the identity
    // brier = rel - res + unc + within EXACTLY for raw forecasts —
    // on this fixture labels depend on score inside bins, so the
    // covariance term is load-bearing (~0.02), not decorative. Exact
    // DECIMAL(28,9) bin sums, per-bin terms rounded to 9 at birth,
    // bin-ordered folds.
    "q_brier_decomposition" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir)
        val scored = d.select(
          expr("CAST((doc_id * 41) % 1000 AS DOUBLE) / 1000.0").as("score"),
          expr("CASE WHEN (doc_id * 41) % 1000 + (doc_id * 17) % 500 >= 750 " +
            "THEN 1 ELSE 0 END").as("label"))
        operators.Eval.brierDecomposition(scored, "score", "label", bins = 10)
      },
      Some("""WITH scored AS (SELECT
             |    CAST((doc_id * 41) % 1000 AS DOUBLE) / 1000.0 AS score,
             |    CASE WHEN (doc_id * 41) % 1000 + (doc_id * 17) % 500 >= 750
             |      THEN 1 ELSE 0 END AS lbl FROM documents),
             |b AS (SELECT greatest(least(CAST(ceil(score * 10) AS BIGINT), 10), 1)
             |    AS bin, score, lbl FROM scored),
             |perbin AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(lbl) AS BIGINT) AS n_pos,
             |    sum(CAST(score AS DECIMAL(28,9))) AS conf_sum,
             |    sum(CAST(round((score - lbl) * (score - lbl), 9) AS DECIMAL(28,9)))
             |      AS sq_sum,
             |    sum(CAST(round(score * score, 9) AS DECIMAL(28,9))) AS s2_sum,
             |    sum(CAST(round(score * lbl, 9) AS DECIMAL(28,9))) AS sy_sum
             |  FROM b GROUP BY 1),
             |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot,
             |    CAST(sum(n_pos) AS BIGINT) AS pos_tot, sum(sq_sum) AS sq_tot
             |  FROM perbin),
             |t2 AS (SELECT n_tot, sq_tot,
             |    CAST(pos_tot AS DOUBLE) / CAST(n_tot AS DOUBLE) AS base FROM t),
             |f AS (SELECT max(n_tot) AS n_tot, max(base) AS base,
             |    max(CAST(sq_tot AS DOUBLE)) AS sqt,
             |    list_sum([x.t FOR x IN list({'b': bin, 't': round(
             |      n * (CAST(conf_sum AS DOUBLE) / n - CAST(n_pos AS DOUBLE) / n)
             |        * (CAST(conf_sum AS DOUBLE) / n - CAST(n_pos AS DOUBLE) / n)
             |        / CAST(n_tot AS DOUBLE), 9)} ORDER BY bin)]) AS rel_raw,
             |    list_sum([x.t FOR x IN list({'b': bin, 't': round(
             |      n * (CAST(n_pos AS DOUBLE) / n - base)
             |        * (CAST(n_pos AS DOUBLE) / n - base)
             |        / CAST(n_tot AS DOUBLE), 9)} ORDER BY bin)]) AS res_raw,
             |    list_sum([x.t FOR x IN list({'b': bin, 't': round(
             |      ((CAST(s2_sum AS DOUBLE)
             |        - n * (CAST(conf_sum AS DOUBLE) / n)
             |            * (CAST(conf_sum AS DOUBLE) / n))
             |       - 2.0 * (CAST(sy_sum AS DOUBLE)
             |         - n * (CAST(conf_sum AS DOUBLE) / n)
             |             * (CAST(n_pos AS DOUBLE) / n)))
             |        / CAST(n_tot AS DOUBLE), 9)} ORDER BY bin)]) AS win_raw
             |  FROM perbin CROSS JOIN t2)
             |SELECT n_tot AS n, round(base, 6) AS base_rate,
             |  round(sqt / CAST(n_tot AS DOUBLE), 6) AS brier,
             |  round(rel_raw, 6) AS reliability,
             |  round(res_raw, 6) AS resolution,
             |  round(base * (1.0 - base), 6) AS uncertainty,
             |  round(win_raw, 6) AS within
             |FROM f""".stripMargin)
    )),

    // SQuAD-style QA scoring (exact match + token F1). The fixture
    // slices each document's word array into an overlapping
    // (prediction, gold) pair — pred = words 1..12, gold = words 4..15
    // — so F1 sits strictly between 0 and 1 for typical docs; every
    // 13th doc predicts the gold slice itself (em = 1) and every 997th
    // predicts the empty string (the zero path). Both engines split on
    // a literal single space BEFORE normalization, then normalize
    // identically inside [[operators.Eval.qaTokenF1]] / the mirrored
    // SQL.
    "q_qa_f1" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir)
        val pairs = d.select(col("doc_id"),
          expr("""CASE WHEN doc_id % 997 = 0 THEN ''
                 |  WHEN doc_id % 13 = 0 THEN concat_ws(' ', slice(split(text, ' '), 4, 12))
                 |  ELSE concat_ws(' ', slice(split(text, ' '), 1, 12)) END""".stripMargin)
            .as("pred"),
          expr("concat_ws(' ', slice(split(text, ' '), 4, 12))").as("gold"))
        operators.Eval.qaTokenF1(pairs, "doc_id", "pred", "gold")
      },
      Some("""WITH pairs AS (SELECT doc_id,
             |    CASE WHEN doc_id % 997 = 0 THEN ''
             |      WHEN doc_id % 13 = 0 THEN array_to_string((string_split(text, ' '))[4:15], ' ')
             |      ELSE array_to_string((string_split(text, ' '))[1:12], ' ') END AS pred,
             |    array_to_string((string_split(text, ' '))[4:15], ' ') AS gold
             |  FROM documents),
             |n AS (SELECT doc_id,
             |    list_filter(string_split(trim(regexp_replace(lower(pred),
             |      '[^a-z0-9]+', ' ', 'g')), ' '),
             |      t -> t <> '' AND t NOT IN ('a', 'an', 'the')) AS pt,
             |    list_filter(string_split(trim(regexp_replace(lower(gold),
             |      '[^a-z0-9]+', ' ', 'g')), ' '),
             |      t -> t <> '' AND t NOT IN ('a', 'an', 'the')) AS gt
             |  FROM pairs),
             |pc AS (SELECT doc_id, unnest(pt) AS t FROM n),
             |pcc AS (SELECT doc_id, t, count(*) AS cp FROM pc GROUP BY 1, 2),
             |gc AS (SELECT doc_id, unnest(gt) AS t FROM n),
             |gcc AS (SELECT doc_id, t, count(*) AS cg FROM gc GROUP BY 1, 2),
             |ov AS (SELECT coalesce(pcc.doc_id, gcc.doc_id) AS doc_id,
             |    sum(least(coalesce(cp, 0), coalesce(cg, 0))) AS overlap
             |  FROM pcc FULL OUTER JOIN gcc
             |    ON pcc.doc_id = gcc.doc_id AND pcc.t = gcc.t GROUP BY 1),
             |base AS (SELECT doc_id, CAST(pt = gt AS INT) AS em,
             |    CAST(len(pt) AS BIGINT) AS n_pred, CAST(len(gt) AS BIGINT) AS n_gold
             |  FROM n)
             |SELECT b.doc_id, em, n_pred, n_gold,
             |  CAST(coalesce(overlap, 0) AS BIGINT) AS overlap,
             |  round(CASE WHEN n_pred > 0
             |    THEN CAST(coalesce(overlap, 0) AS DOUBLE) / n_pred ELSE 0.0 END, 6)
             |    AS precision,
             |  round(CASE WHEN n_gold > 0
             |    THEN CAST(coalesce(overlap, 0) AS DOUBLE) / n_gold ELSE 0.0 END, 6)
             |    AS recall,
             |  round(CASE WHEN n_pred + n_gold = 0 THEN 1.0
             |    ELSE 2.0 * coalesce(overlap, 0) / (n_pred + n_gold) END, 6) AS f1
             |FROM base b LEFT JOIN ov USING (doc_id)""".stripMargin)
    )),

    // χ² feature selection: top-15 tokens per language class on the
    // real documents corpus — the "which tokens identify a language"
    // pass. All contingency cells are exact int64; χ² is a fixed IEEE
    // op sequence rounded to 6 BEFORE ranking; the oracle replays the
    // identical algebra with a plain window (the Spark side ranks
    // through the range-partitioned groupedPositions machinery
    // instead — same result, no #classes-task bottleneck).
    "q_chi2_features" -> ((
      (s: SparkSession, dir: String) => {
        val d = Tables.documents(s, dir)
        operators.Classifier.chi2Features(d, "doc_id", "text", "lang", topK = 15)
      },
      Some("""WITH pres AS (SELECT DISTINCT id, cls, t FROM (SELECT doc_id AS id,
             |    lang AS cls, unnest(string_split(text, ' ')) AS t FROM documents)),
             |nn AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM documents),
             |a AS (SELECT cls, t, CAST(count(*) AS BIGINT) AS a FROM pres GROUP BY 1, 2),
             |ta AS (SELECT t, CAST(sum(a) AS BIGINT) AS ta FROM a GROUP BY 1),
             |nc AS (SELECT cls, CAST(count(*) AS BIGINT) AS nc
             |  FROM (SELECT DISTINCT id, cls FROM pres) GROUP BY 1),
             |sc AS (SELECT a.cls, a.t AS token, a.a AS df_class, ta.ta AS df_total,
             |    a.a * (nn.n - ta.ta - nc.nc + a.a)
             |      - (ta.ta - a.a) * (nc.nc - a.a) AS delta,
             |    nn.n AS n, ta.ta AS tat, nc.nc AS ncc
             |  FROM a JOIN ta ON a.t = ta.t JOIN nc ON a.cls = nc.cls, nn),
             |sc2 AS (SELECT cls, token, df_class, df_total,
             |    CASE WHEN tat = n OR ncc = n THEN 0.0
             |      ELSE round(CAST(n AS DOUBLE) * delta * delta /
             |        CAST(tat * (n - tat) AS DOUBLE) /
             |        CAST(ncc * (n - ncc) AS DOUBLE), 6) END AS chi2
             |  FROM sc)
             |SELECT cls, token, df_class, df_total, chi2, rank FROM (
             |  SELECT *, CAST(row_number() OVER (PARTITION BY cls
             |    ORDER BY chi2 DESC, token) AS BIGINT) AS rank FROM sc2)
             |WHERE rank <= 15""".stripMargin)
    )),
  )





  val queries: Map[String, QueryFn] = all.map { case (n, (f, _)) => n -> f }.toMap
  val oracleSql: Map[String, String] =
    all.collect { case (n, (_, Some(sql))) => n -> sql }.toMap
}
