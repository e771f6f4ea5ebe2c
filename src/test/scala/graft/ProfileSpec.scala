package graft

import graft.operators.Profile

class ProfileSpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq(
    (Some(1L), Some("a")),
    (Some(1L), None),
    (Some(3L), Some("b")),
    (None, Some("a"))
  ).toDF("k", "v")

  test("profile: exact counts, nulls, distinct, min/max per column") {
    val out = Profile.profile(df, Seq("k", "v"), exact = true)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))))
      .toMap
    assert(out("k") == (3L, 1L, 2L, "1", "3"))
    assert(out("v") == (3L, 1L, 2L, "a", "b"))
  }

  test("schemaDrift: added, removed, retyped columns; empty when identical") {
    val before = Seq((1L, "a", 1.0)).toDF("id", "name", "score")
    val after = Seq((1L, 1, true)).toDF("id", "name", "active")
    val drift = Profile.schemaDrift(before, after)
      .collect().map(r => (r.getString(0), r.getString(1),
        Option(r.getString(2)), Option(r.getString(3)))).toSet
    assert(drift == Set(
      ("name", "retyped", Some("string"), Some("int")),
      ("score", "removed", Some("double"), None),
      ("active", "added", None, Some("boolean"))))
    assert(Profile.schemaDrift(before, before).isEmpty)
  }

  test("oovStats: rare tokens count as OOV, frequent vocabulary does not") {
    // "common" appears in 3 docs (df >= 2 → vocab); "rare1"/"rare2" df=1
    val docs = Seq(
      (1L, "common common rare1"),
      (2L, "common"),
      (3L, "common rare2")
    ).toDF("doc_id", "text")
    val out = Profile.oovStats(docs, "doc_id", "text", minDf = 2)
      .collect().map(r =>
        r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == (3L, 1L, 1.0 / 3.0))
    assert(out(2L) == (1L, 0L, 0.0))
    assert(out(3L) == (2L, 1L, 0.5))
  }

  test("distributionDrift: zero PSI on identical data, positive on a shift, one-sided groups dropped") {
    val ref = (1 to 1000).map(i => ("web", (i % 100) / 100.0)) ++
      (1 to 500).map(i => ("code", (i % 50) / 50.0)) ++
      (1 to 100).map(i => ("refonly", i / 100.0))
    val curSame = (1 to 800).map(i => ("web", (i % 100) / 100.0))
    val curShift = (1 to 500).map(i => ("code", math.min(0.999, (i % 50) / 50.0 + 0.4)))
    val out = Profile.distributionDrift(
      ref.toDF("source", "score"), (curSame ++ curShift).toDF("source", "score"),
      "source", "score").collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(!out.contains("refonly"), "groups in one snapshot only are dropped")
    // web: same 100-value cycle -> identical bucket shares -> psi 0
    assert(out("web")._3 == 0.0, s"identical distribution, got ${out("web")}")
    assert(out("web")._1 == 1000L && out("web")._2 == 800L)
    // code: +0.4 shift empties the low buckets -> conventional alarm range
    assert(out("code")._3 > 0.25, s"shifted distribution, got ${out("code")}")
    // deterministic across repartitionings (bin-ordered fold)
    val again = Profile.distributionDrift(
      ref.toDF("source", "score").repartition(7),
      (curSame ++ curShift).toDF("source", "score").repartition(5),
      "source", "score").collect()
      .map(r => (r.getString(0), r.getDouble(3))).toMap
    assert(again == out.map { case (k, v) => (k, v._3) })
  }

  test("profile: approx distinct lands within HLL bounds on a real column") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val byMode = Seq(false, true).map { exact =>
      Profile.profile(docs, Seq("doc_id"), exact = exact)
        .collect().head.getLong(3)
    }
    val (approx, ex) = (byMode(0), byMode(1))
    assert(math.abs(approx - ex).toDouble / ex <= 0.15)
  }

  test("zipfFit: exact power law recovers its slope; degenerate input NULLs") {
    // freq(w_r) = 2^(10-r) for r = 1..8: ln f = 10 ln2 - r ln2, and
    // ln r vs r is not linear, so the fit is approximate - but a
    // STEEP monotone slope must come out strongly negative, and the
    // same input must fit identically across partitionings
    val rows = (1 to 8).flatMap(r => Seq.fill(1 << (10 - r))(s"w$r"))
    val docs = rows.grouped(64).map(_.mkString(" ")).toSeq.toDF("text")
    val a = operators.Profile.zipfFit(docs, "text", topR = 8).collect().head
    assert(a.getLong(0) == 8 && a.getDouble(1) < -2.0,
      s"steep negative slope: $a")
    val b = operators.Profile.zipfFit(docs.repartition(5), "text", topR = 8)
      .collect().head
    assert(a == b, "rank-ordered folds are partitioning-independent")
    // single distinct word: den = 0 -> NULL slope, loudly not NaN
    val one = Seq("solo solo solo").toDF("text")
    val d = operators.Profile.zipfFit(one, "text", topR = 5).collect().head
    assert(d.getLong(0) == 1 && d.isNullAt(1) && d.isNullAt(2))
  }

  test("heapsFit: recovers the exponent of an exactly power-law vocabulary") {
    // 100 docs; doc d contributes 10 tokens and introduces new words
    // so that after prefix p the vocab is ~C*(10p)^0.5: new words per
    // doc chosen as the integer increment of 4*sqrt(10*(d+1))
    def vocabAt(d: Int) = (4 * math.sqrt(10.0 * (d + 1))).toInt
    val docs = (0 until 100).map { d =>
      val newWords = (vocabAt(d - 1) until vocabAt(d)).map(i => s"w$i")
      val filler = Seq.fill(10 - newWords.size)("w0")
      (d.toLong, (newWords ++ filler).mkString(" "))
    }.toDF("doc_id", "text")
    val r = operators.Profile.heapsFit(docs, "doc_id", "text", rungs = 10)
      .collect().head
    assert(r.getLong(0) == 10)
    assert(math.abs(r.getDouble(1) - 0.5) < 0.05,
      s"beta should recover ~0.5: $r")
    // partitioning-independent (integer buckets + ordered folds)
    val r2 = operators.Profile.heapsFit(docs.repartition(7), "doc_id",
      "text", rungs = 10).collect().head
    assert(r == r2)
    // degenerate: a single all-same-word corpus has 1 usable point per
    // rung but zero x-variance across rungs only if tokens equal too;
    // one doc -> one point -> den = 0 -> NULL beta, loudly not NaN
    val one = Seq((0L, "a a a")).toDF("doc_id", "text")
    val d0 = operators.Profile.heapsFit(one, "doc_id", "text", rungs = 10)
      .collect().head
    assert(d0.isNullAt(1) && d0.isNullAt(2))
  }

  test("lexicalDiversity: hand-computed panel on a tiny corpus") {
    // tokens: a a a b b c  -> N=6, V=3, f1={c}=1, f2={b}=1,
    // rep = 3·2 + 2·1 + 0 = 8 -> simpson 8/30 = 0.266667,
    // ttr 0.5, chao1 = 3 + 1·0/(2·2) = 3, gt = 1/6 = 0.166667
    val docs = Seq("a a a", "b b c").toDF("text")
    val r = operators.Profile.lexicalDiversity(docs, "text").collect().head
    assert(r.getLong(0) == 6 && r.getLong(1) == 3)
    assert(r.getDouble(2) == 0.5 && r.getDouble(3) == 0.266667)
    assert(r.getDouble(4) == 3.0 && r.getDouble(5) == 0.166667)
    // two singletons, zero doubletons: chao1 adds f1(f1-1)/2 = 1
    val d2 = Seq("x y z z z").toDF("text")
    val r2 = operators.Profile.lexicalDiversity(d2, "text").collect().head
    assert(r2.getDouble(4) == 4.0, s"chao1 = 3 + 2*1/2 = 4: $r2")
  }

  test("wordDispersion: hand-computed DP; one-source burst scores high") {
    // A: "x x y y", B: "y y y y" — T=8, t_A=t_B=4.
    // x: num = |2·8−4·2| + |0·8−4·2| = 16, den = 2·2·8 → DP 0.5
    // y: num = |2·8−4·6| + |4·8−4·6| = 16, den = 2·6·8 → DP 1/6
    val docs = Seq(("A", "x x y y"), ("B", "y y y y")).toDF("src", "text")
    val out = operators.Profile.wordDispersion(docs, "text", "src", topK = 5)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(out("x") == (2L, 0.5) && out("y") == (6L, 0.166667), s"$out")
    // a word spread exactly like the corpus mass disperses to 0
    val even = Seq(("A", "z z q"), ("B", "z z q")).toDF("src", "text")
    val o2 = operators.Profile.wordDispersion(even, "text", "src", topK = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(o2("z") == 0.0 && o2("q") == 0.0)
  }

  test("giniIndex: perfect equality 0, max concentration (n-1)/n, NULL guards") {
    val eq = (1L to 4L).map(i => (i, 7L)).toDF("id", "x")
    val a = operators.Profile.giniIndex(eq, "x", "id").collect().head
    assert(a.getLong(0) == 4 && a.getLong(1) == 28 && a.getDouble(2) == 0.0)
    // {0,0,0,4}: G = (2*16 - 5*4)/(4*4) = 0.75 = (n-1)/n, hand-derived
    val conc = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 4L)).toDF("id", "x")
    val b = operators.Profile.giniIndex(conc, "x", "id").collect().head
    assert(b.getDouble(2) == 0.75)
    // all-zero total and any negative value both report NULL, never 0/0
    val z = Seq((1L, 0L), (2L, 0L)).toDF("id", "x")
    assert(operators.Profile.giniIndex(z, "x", "id").collect().head.isNullAt(2))
    val neg = Seq((1L, 5L), (2L, -1L)).toDF("id", "x")
    assert(operators.Profile.giniIndex(neg, "x", "id")
      .collect().head.isNullAt(2))
    // partitioning-independent (range-exchange ranks)
    val big = (1L to 300L).map(i => (i, i * 31 % 17)).toDF("id", "x")
    val p1 = operators.Profile.giniIndex(big, "x", "id").collect().head
    val p2 = operators.Profile.giniIndex(big.repartition(7), "x", "id")
      .collect().head
    assert(p1 == p2)
  }

  test("rankCorrelation: +1 monotone, -1 reversed, hand-computed middle") {
    val up = (1L to 4L).map(i => (i, i * 10, i * 3)).toDF("id", "x", "y")
    assert(operators.Profile.rankCorrelation(up, "x", "y", "id")
      .collect().head.getDouble(2) == 1.0)
    val down = (1L to 4L).map(i => (i, i * 10, 50 - i * 10)).toDF("id", "x", "y")
    val d = operators.Profile.rankCorrelation(down, "x", "y", "id")
      .collect().head
    assert(d.getLong(1) == 20 && d.getDouble(2) == -1.0,
      s"d=(-3,-1,1,3) gives sum_d2 20, rho -1: $d")
    // one swap: x ranks 1,2,3,4 vs y ranks 1,2,4,3 -> sum_d2 = 2,
    // rho = 1 - 12/60 = 0.8
    val mid = Seq((1L, 10L, 1L), (2L, 20L, 2L), (3L, 30L, 4L),
      (4L, 40L, 3L)).toDF("id", "x", "y")
    assert(operators.Profile.rankCorrelation(mid, "x", "y", "id")
      .collect().head.getDouble(2) == 0.8)
  }

  test("mannWhitney: hand-computed U/z with and without ties; shift rejects") {
    import org.apache.spark.sql.functions._
    // A={1,2}, B={3,4}: R_a=3, U_a=0 (u2=0); mu = na*nb/2 = 2,
    // sigma2 = (4/12)*5 = 5/3, z = -2/sqrt(5/3) = -1.549193
    val a = (Seq(1L, 2L).map((_, true)) ++ Seq(3L, 4L).map((_, false)))
      .toDF("v", "ina")
    val r = operators.Profile.mannWhitney(a, "v", col("ina")).collect().head
    assert(r.getLong(0) == 2 && r.getLong(1) == 2 && r.getLong(2) == 0)
    assert(r.getDouble(3) == -1.549193 && !r.getBoolean(4))
    // ties: A={1,1}, B={1,2}: midrank(1)=2 -> 2R_a=8, u2=2;
    // tsum=24, sigma2=(4/12)*(5-24/12)=1, z=(1-2)/1 = -1
    val t = (Seq(1L, 1L).map((_, true)) ++ Seq(1L, 2L).map((_, false)))
      .toDF("v", "ina")
    val rt = operators.Profile.mannWhitney(t, "v", col("ina")).collect().head
    assert(rt.getLong(2) == 2 && rt.getDouble(3) == -1.0)
    // a clean location shift rejects
    val s = ((1L to 20L).map((_, true)) ++ (101L to 120L).map((_, false)))
      .toDF("v", "ina")
    val rs = operators.Profile.mannWhitney(s, "v", col("ina")).collect().head
    assert(rs.getLong(2) == 0 && rs.getBoolean(4), s"strong shift: $rs")
    // all values tied: sigma2 = 0 -> NULL z, loudly not NaN
    val z0 = (1L to 8L).map(i => (5L, i % 2 == 0)).toDF("v", "ina")
    assert(operators.Profile.mannWhitney(z0, "v", col("ina"))
      .collect().head.isNullAt(3))
  }

  test("kruskalWallis: hand-computed H with and without ties") {
    import org.apache.spark.sql.functions.col
    // A={1,2}, B={3,4}: ranks 1..4, R_A=3, R_B=7;
    // H = 12/(4*5)*(9/2 + 49/2) - 3*5 = 0.6*29 - 15 = 2.4 (no ties)
    val a = (Seq(1L, 2L).map((_, "a")) ++ Seq(3L, 4L).map((_, "b")))
      .toDF("v", "g")
    val r = operators.Profile.kruskalWallis(a, "v", "g").collect().head
    assert(r.getLong(0) == 2 && r.getLong(1) == 4)
    assert(r.getDouble(2) == 2.4)
    // ties: A={1,1}, B={1,2}: midrank(1)=2, midrank(2)=4 ->
    // R_A=4, R_B=6; H_raw = 12/20*(16/2+36/2) - 15 = 0.6;
    // tsum = 3^3-3 = 24, corr = 1 - 24/60 = 0.6 -> H = 1.0
    val t = (Seq(1L, 1L).map((_, "a")) ++ Seq(1L, 2L).map((_, "b")))
      .toDF("v", "g")
    val rt = operators.Profile.kruskalWallis(t, "v", "g").collect().head
    assert(rt.getDouble(2) == 1.0)
    // all values identical: corr = 0 -> NULL h, loudly not NaN
    val z = (1L to 6L).map(i => (7L, if (i % 2 == 0) "a" else "b"))
      .toDF("v", "g")
    assert(operators.Profile.kruskalWallis(z, "v", "g")
      .collect().head.isNullAt(2))
    // one group only: NULL (location shift needs k >= 2)
    val one = Seq((1L, "a"), (2L, "a")).toDF("v", "g")
    assert(operators.Profile.kruskalWallis(one, "v", "g")
      .collect().head.isNullAt(2))
    // two-group KW must agree with mannWhitney's z: H = z^2 for k=2
    // (the classic identity, a strong cross-operator check) — compare
    // at 4 decimals to absorb the two round-6 surfaces
    val big = ((1L to 20L).map((_, "a")) ++ (8L to 27L).map((_, "b")))
      .toDF("v", "g")
    val h = operators.Profile.kruskalWallis(big, "v", "g")
      .collect().head.getDouble(2)
    val zv = operators.Profile.mannWhitney(
      big.withColumn("ina", col("g") === "a"), "v", col("ina"))
      .collect().head.getDouble(3)
    assert(math.abs(h - zv * zv) < 5e-4, s"H=$h z^2=${zv * zv}")
  }

  test("ksTest: disjoint samples reject, identical samples do not") {
    import org.apache.spark.sql.functions._
    // A={1,2,3,4}, B={11..14}: D=1; 16^2*1e6 = 2.56e8 > 1844164*8*16
    // = 2.36e8 -> reject (hand-derived exact-integer threshold)
    val disj = (Seq(1L, 2L, 3L, 4L).map((_, true)) ++
      Seq(11L, 12L, 13L, 14L).map((_, false))).toDF("v", "ina")
    val a = operators.Profile.ksTest(disj, "v", col("ina")).collect().head
    assert(a.getLong(0) == 4 && a.getLong(1) == 4)
    assert(a.getDouble(2) == 1.0 && a.getBoolean(3))
    // identical samples: D = 0, no rejection
    val same = (1L to 40L).flatMap(i => Seq((i, true), (i, false)))
      .toDF("v", "ina")
    val b = operators.Profile.ksTest(same, "v", col("ina")).collect().head
    assert(b.getDouble(2) == 0.0 && !b.getBoolean(3))
  }

  test("benfordTest: hand-computed chi2; a perfect-ish Benford sample passes, " +
      "a uniform one rejects") {
    // all-ones sample: c_1 = 90, others 0; chi2 = Σ (c−N·p)²/(N·p)
    // with N = 90 — dominated by the d=1 term (90 − 27.09)²/27.09
    val ones = (1L to 90L).map(_ => Tuple1(10L)).toDF("v")
    val r1 = operators.Profile.benfordTest(ones, "v").collect().head
    assert(r1.getLong(0) == 90 && r1.getBoolean(2), s"all-ones: $r1")
    // a sample laid out AT the Benford masses (counts 301, 176, 125,
    // 97, 79, 67, 58, 51, 46 of 1000) sits near chi2 ~ 0: accept
    val benfordish = Seq(301, 176, 125, 97, 79, 67, 58, 51, 46)
      .zipWithIndex.flatMap { case (c, i) =>
        Seq.fill(c)(Tuple1((i + 1) * 100L))
      }.toDF("v")
    val r2 = operators.Profile.benfordTest(benfordish, "v").collect().head
    assert(r2.getLong(0) == 1000 && !r2.getBoolean(2), s"benford-ish: $r2")
    assert(r2.getDouble(1) < 1.0, s"chi2 should be tiny: ${r2.getDouble(1)}")
    // values < 1 are dropped, empty input reports NULLs not NaN
    val none = Seq(Tuple1(0L), Tuple1(-5L)).toDF("v")
    val r3 = operators.Profile.benfordTest(none, "v").collect().head
    assert(r3.getLong(0) == 0 && r3.isNullAt(1) && r3.isNullAt(2))
  }

  test("madOutliers: hand-computed medians; exact integer cut; MAD=0 degenerate") {
    // {1,2,3,4,100}: lower median 3, |x-3| = {2,1,0,1,97}, MAD = 1;
    // cut: dd*10000 > 44478 -> only 97 (and 2*10000=20000 < 44478)
    val a = Seq(1L, 2L, 3L, 4L, 100L).map(Tuple1(_)).toDF("v")
    val r = operators.Profile.madOutliers(a, "v").collect().head
    assert(r.getLong(0) == 5 && r.getLong(1) == 3 && r.getLong(2) == 1 &&
      r.getLong(3) == 1, s"got $r")
    // even n uses the LOWER median: {1,2,3,4} -> med 2, devs {1,0,1,2},
    // MAD = lower median of {0,1,1,2} = 1; no dev exceeds 4.4478
    val b = Seq(1L, 2L, 3L, 4L).map(Tuple1(_)).toDF("v")
    val rb = operators.Profile.madOutliers(b, "v").collect().head
    assert(rb.getLong(1) == 2 && rb.getLong(2) == 1 && rb.getLong(3) == 0)
    // MAD = 0 (majority identical): every x != med flags — named case
    val c = Seq(5L, 5L, 5L, 9L).map(Tuple1(_)).toDF("v")
    val rc = operators.Profile.madOutliers(c, "v").collect().head
    assert(rc.getLong(2) == 0 && rc.getLong(3) == 1)
  }

  test("assertPackBound: forged overflow raises loudly, below-bound and " +
      "empty inputs pass through") {
    import org.apache.spark.sql.functions._
    // below the bound: identity on the total
    val ok = Seq(5L).toDF("t")
      .select(operators.Profile.assertPackBound(col("t"), 10L, "spec"))
      .collect().head.getLong(0)
    assert(ok == 5L)
    // NULL total (empty-input aggregate shape): passes through as NULL,
    // never raises — the downstream statistic already reports NULLs
    val nul = Seq(Tuple1(Option.empty[Long])).toDF("t")
      .select(operators.Profile.assertPackBound(col("t"), 10L, "spec"))
      .collect().head
    assert(nul.isNullAt(0))
    // at/past the bound: the wrap that WOULD have been silent is a loud
    // error carrying the context name and the offending total
    val e = intercept[Exception] {
      Seq(10L).toDF("t")
        .select(operators.Profile.assertPackBound(col("t"), 10L, "spec"))
        .collect()
    }
    assert(e.getMessage.contains("spec") || e.getCause != null &&
      e.getCause.getMessage.contains("spec"), s"got: ${e.getMessage}")
  }

  test("cliffsDelta: hand-computed effect sizes and magnitude labels") {
    import org.apache.spark.sql.functions.col
    // A={1,2}, B={3,4}: every a below every b -> delta = -1, large
    val a = (Seq(1L, 2L).map((_, true)) ++ Seq(3L, 4L).map((_, false)))
      .toDF("v", "ina")
    val r = operators.Profile.cliffsDelta(a, "v", col("ina")).collect().head
    assert(r.getLong(0) == 2 && r.getLong(1) == 2)
    assert(r.getDouble(2) == -1.0 && r.getString(3) == "large")
    // ties cancel in the difference: A={1,1}, B={1,2} -> u2=2, nanb=4,
    // delta = (2-4)/4 = -0.5 (check directly: #{a>b}=0, #{a<b}=2,
    // two a=b pairs contribute nothing -> -2/4)
    val t = (Seq(1L, 1L).map((_, true)) ++ Seq(1L, 2L).map((_, false)))
      .toDF("v", "ina")
    assert(operators.Profile.cliffsDelta(t, "v", col("ina"))
      .collect().head.getDouble(2) == -0.5)
    // identical samples: delta 0, negligible
    val z = (Seq(1L, 2L).map((_, true)) ++ Seq(1L, 2L).map((_, false)))
      .toDF("v", "ina")
    val rz = operators.Profile.cliffsDelta(z, "v", col("ina")).collect().head
    assert(rz.getDouble(2) == 0.0 && rz.getString(3) == "negligible")
    // one sample empty: NULL delta and magnitude, not 0/0
    val e1 = Seq((1L, true), (2L, true)).toDF("v", "ina")
    val re = operators.Profile.cliffsDelta(e1, "v", col("ina")).collect().head
    assert(re.isNullAt(2) && re.isNullAt(3))
  }

  test("kendallTau: hand-computed tau-b with ties and multiplicities") {
    // perfect concordance: tau = 1
    val p = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("x", "y")
    val rp = operators.Profile.kendallTau(p, "x", "y").collect().head
    assert(rp.getLong(0) == 3 && rp.getLong(1) == 3)
    assert(rp.getLong(2) == 3 && rp.getLong(3) == 0)
    assert(rp.getDouble(4) == 1.0)
    // one swap: P=2, Q=1, no ties -> tau = (2-1)/3 = 0.333333
    val s = Seq((1L, 1L), (2L, 3L), (3L, 2L)).toDF("x", "y")
    assert(operators.Profile.kendallTau(s, "x", "y")
      .collect().head.getDouble(4) == 0.333333)
    // balanced ties: P=Q=1 -> tau-b = 0
    val t = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L)).toDF("x", "y")
    assert(operators.Profile.kendallTau(t, "x", "y")
      .collect().head.getDouble(4) == 0.0)
    // multiplicities ride the grid: (1,1)x2 + (2,2) -> P = 2*1,
    // d1 = d2 = 9-5 = 4, tau-b = 2*2/sqrt(16) = 1
    val m = Seq((1L, 1L), (1L, 1L), (2L, 2L)).toDF("x", "y")
    val rm = operators.Profile.kendallTau(m, "x", "y").collect().head
    assert(rm.getLong(0) == 3 && rm.getLong(1) == 2)
    assert(rm.getLong(2) == 2 && rm.getDouble(4) == 1.0)
    // all x tied: denominator degenerate -> NULL tau, loudly not NaN
    val d = Seq((1L, 1L), (1L, 2L), (1L, 3L)).toDF("x", "y")
    assert(operators.Profile.kendallTau(d, "x", "y")
      .collect().head.isNullAt(4))
  }

  test("kendallTau: an unbucketed high-cardinality measure is refused " +
      "loudly BEFORE the |G|^2 grid join, with the bucketing hint") {
    import org.apache.spark.sql.functions.col
    // forge a grid one past the ceiling: ids as both measures
    val wide = spark.range(operators.Profile.kendallTauMaxCells + 1)
      .select(col("id").as("x"), col("id").as("y"))
    val e = intercept[IllegalArgumentException] {
      operators.Profile.kendallTau(wide, "x", "y").collect()
    }
    assert(e.getMessage.contains("bucket") &&
      e.getMessage.contains("truncated"),
      s"got: ${e.getMessage}")
  }

  test("cohensD: hand-computed d and Hedges g; degenerate cases NULL") {
    import org.apache.spark.sql.functions.col
    // A={2,4}, B={1,3}: means 3/2, pooled s2 = 2, d = 1/sqrt(2),
    // g = d * (1 - 3/(4*4-9)) = d * 4/7
    val a = (Seq(2L, 4L).map((_, true)) ++ Seq(1L, 3L).map((_, false)))
      .toDF("v", "ina")
    val r = operators.Profile.cohensD(a, "v", col("ina")).collect().head
    assert(r.getLong(0) == 2 && r.getLong(1) == 2)
    assert(r.getDouble(2) == 3.0 && r.getDouble(3) == 2.0)
    assert(r.getDouble(4) == 0.707107 && r.getDouble(5) == 0.404061)
    // zero pooled variance: NULL d/g, means still report
    val z = (Seq(5L, 5L).map((_, true)) ++ Seq(5L, 5L).map((_, false)))
      .toDF("v", "ina")
    val rz = operators.Profile.cohensD(z, "v", col("ina")).collect().head
    assert(rz.getDouble(2) == 5.0 && rz.isNullAt(4) && rz.isNullAt(5))
    // one side empty: its mean and d NULL
    val e = Seq((1L, true), (3L, true)).toDF("v", "ina")
    val re = operators.Profile.cohensD(e, "v", col("ina")).collect().head
    assert(re.isNullAt(3) && re.isNullAt(4))
  }

  test("mutualInformation: perfect dependence, independence, constant " +
      "marginal, and a hand-computed asymmetric case") {
    // x determines y exactly: mi = h = nmi = 1 bit
    val p = Seq(("a", "1"), ("b", "2")).toDF("x", "y")
    val rp = operators.Profile.mutualInformation(p, "x", "y").collect().head
    assert(rp.getLong(0) == 2 && rp.getLong(1) == 2)
    assert(rp.getDouble(2) == 1.0 && rp.getDouble(3) == 1.0)
    assert(rp.getDouble(4) == 1.0 && rp.getDouble(5) == 1.0)
    // full independence: mi = 0, nmi = 0
    val ind = Seq(("a", "1"), ("a", "2"), ("b", "1"), ("b", "2"))
      .toDF("x", "y")
    val ri = operators.Profile.mutualInformation(ind, "x", "y")
      .collect().head
    assert(ri.getDouble(2) == 0.0 && ri.getDouble(5) == 0.0)
    // constant y: h_y = 0 -> NULL nmi (nothing to normalize by)
    val c = Seq(("a", "1"), ("b", "1")).toDF("x", "y")
    val rc = operators.Profile.mutualInformation(c, "x", "y").collect().head
    assert(rc.getDouble(2) == 0.0 && rc.getDouble(4) == 0.0 && rc.isNullAt(5))
    // (a,1)x2 + (b,2): mi = 2/3*log2(3/2) + 1/3*log2(3) = 0.918296,
    // equal to both marginal entropies -> nmi = 1
    val m = Seq(("a", "1"), ("a", "1"), ("b", "2")).toDF("x", "y")
    val rm = operators.Profile.mutualInformation(m, "x", "y").collect().head
    assert(rm.getDouble(2) == 0.918296 && rm.getDouble(3) == 0.918296)
    assert(rm.getDouble(5) == 1.0)
  }

  test("theilIndex: hand-computed T with exact between/within " +
      "decomposition; identity holds") {
    // A={1,1}, B={2}: all inequality is BETWEEN groups -> within = 0
    val d = Seq(("A", 1L), ("A", 1L), ("B", 2L)).toDF("g", "v")
    val r = operators.Profile.theilIndex(d, "v", "g").collect().head
    assert(r.getLong(0) == 3 && r.getLong(1) == 2)
    assert(r.getDouble(2) == 0.058892)   // theil
    assert(r.getDouble(3) == 0.058892)   // between
    assert(r.getDouble(4) == 0.0)        // within
    // perfectly equal corpus: T = 0 everywhere
    val eq = Seq(("A", 5L), ("A", 5L), ("B", 5L)).toDF("g", "v")
    val re = operators.Profile.theilIndex(eq, "v", "g").collect().head
    assert(re.getDouble(2) == 0.0 && re.getDouble(3) == 0.0 &&
      re.getDouble(4) == 0.0)
    // zero/negative values are dropped by the named convention
    val z = Seq(("A", 0L), ("A", 2L), ("B", 2L)).toDF("g", "v")
    assert(operators.Profile.theilIndex(z, "v", "g")
      .collect().head.getLong(0) == 2)
    // identity theil = between + within on a mixed case
    val m = Seq(("A", 1L), ("A", 3L), ("B", 2L), ("B", 6L)).toDF("g", "v")
    val rm = operators.Profile.theilIndex(m, "v", "g").collect().head
    assert(math.abs(rm.getDouble(2) - (rm.getDouble(3) + rm.getDouble(4)))
      < 1e-5, s"identity: $rm")
  }

  test("trimmedMean: exact rank clipping with ties at the boundary; " +
      "winsorized clamps; trim 0 is the plain mean") {
    // 1..10 trim 10%: drop {1} and {10} -> 5.5; winsorize -> also 5.5
    val d = (1L to 10L).toDF("v")
    val r = operators.Profile.trimmedMean(d, "v", 10L, 100L).collect().head
    assert(r.getLong(0) == 10 && r.getLong(1) == 8)
    assert(r.getDouble(2) == 5.5 && r.getDouble(3) == 5.5)
    // heavy tail {0,0,10,100} trim 25%: trimmed (0+10)/2, winsorized
    // (0+0+10+10)/4 — both 5; the 100 never leaks in
    val h = Seq(0L, 0L, 10L, 100L).toDF("v")
    val rh = operators.Profile.trimmedMean(h, "v", 25L, 100L).collect().head
    assert(rh.getDouble(2) == 5.0 && rh.getDouble(3) == 5.0)
    // boundary tie: {1,1,1,9} trim 25% -> both means 1.0 (the tied
    // value straddles the cut; interval clipping keeps exactly 2)
    val t = Seq(1L, 1L, 1L, 9L).toDF("v")
    val rt = operators.Profile.trimmedMean(t, "v", 25L, 100L).collect().head
    assert(rt.getLong(1) == 2 && rt.getDouble(2) == 1.0 &&
      rt.getDouble(3) == 1.0)
    // trim 0: degenerates to the exact mean
    val z = (1L to 4L).toDF("v")
    val rz = operators.Profile.trimmedMean(z, "v", 0L, 100L).collect().head
    assert(rz.getDouble(2) == 2.5 && rz.getDouble(3) == 2.5)
  }

  test("autocorrelation: hand-computed lags; missing hours are zeros; " +
      "constant series NULL") {
    import org.apache.spark.sql.functions.expr
    def ts(secs: Seq[Long]) = secs.toDF("s")
      .select(expr("timestamp_seconds(s)").as("ts"))
    // hourly counts [1,2,1,2]: dev = [-2,2,-2,2], den 16 ->
    // r1 = -12/16, r2 = 8/16
    val d = ts(Seq(0L, 3600L, 3601L, 7200L, 10800L, 10801L))
    val r = operators.Profile.autocorrelation(d, "ts", maxLag = 2)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getLong(1) == 4 && r(1L).getDouble(2) == -0.75)
    assert(r(2L).getDouble(2) == 0.5)
    // a missing middle hour is a TRUE ZERO count: [1,0,1] ->
    // r1 = -4/6, r2 = 1/6
    val g = ts(Seq(0L, 7200L))
    val rg = operators.Profile.autocorrelation(g, "ts", maxLag = 2)
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(rg(1L) == -0.666667 && rg(2L) == 0.166667)
    // constant series: zero variance -> NULL r, loudly not NaN
    val c = ts(Seq(0L, 3600L, 7200L))
    assert(operators.Profile.autocorrelation(c, "ts", maxLag = 1)
      .collect().head.isNullAt(2))
  }

  test("mannKendall: hand-computed S/z; strong trend rejects; " +
      "all-tied NULL") {
    import org.apache.spark.sql.functions.expr
    def ts(xs: Seq[Long]) = xs.zipWithIndex.flatMap { case (c, h) =>
      Seq.fill(c.toInt)(h * 3600L) }.toDF("s")
      .select(expr("timestamp_seconds(s)").as("ts"))
    // counts [1,2,3]: S = 3, Var = 66/18, z = 2/sqrt(66/18) = 1.044466
    val r = operators.Profile.mannKendall(ts(Seq(1L, 2L, 3L)), "ts")
      .collect().head
    assert(r.getLong(0) == 3 && r.getLong(1) == 3)
    assert(r.getDouble(2) == 1.044466 && r.getString(3) == "none")
    // counts 1..10: S = 45, Var = 125, z = 44/sqrt(125) -> increasing
    val rs = operators.Profile.mannKendall(ts((1L to 10L)), "ts")
      .collect().head
    assert(rs.getDouble(2) == 3.93548 && rs.getString(3) == "increasing")
    // decreasing mirror
    assert(operators.Profile.mannKendall(ts((1L to 10L).reverse), "ts")
      .collect().head.getString(3) == "decreasing")
    // constant series: Var(S) = 0 -> NULL z and trend
    val rc = operators.Profile.mannKendall(ts(Seq(2L, 2L, 2L)), "ts")
      .collect().head
    assert(rc.isNullAt(2) && rc.isNullAt(3))
  }

  test("theilSen: hand-computed lower-median slopes incl. negative " +
      "and fractional") {
    import org.apache.spark.sql.functions.expr
    def ts(xs: Seq[Long]) = xs.zipWithIndex.flatMap { case (c, h) =>
      Seq.fill(c.toInt)(h * 3600L) }.toDF("s")
      .select(expr("timestamp_seconds(s)").as("ts"))
    // [1,2,5]: slopes {1, 2, 3} -> median 2.0
    assert(operators.Profile.theilSen(ts(Seq(1L, 2L, 5L)), "ts")
      .collect().head.getDouble(2) == 2.0)
    // [5,2,1]: slopes {-3,-2,-1} -> -2.0 (sign-split integer division)
    assert(operators.Profile.theilSen(ts(Seq(5L, 2L, 1L)), "ts")
      .collect().head.getDouble(2) == -2.0)
    // [1,2,2]: slopes {1, 0.5, 0} -> lower median 0.5
    val r = operators.Profile.theilSen(ts(Seq(1L, 2L, 2L)), "ts")
      .collect().head
    assert(r.getLong(0) == 3 && r.getLong(1) == 3 && r.getDouble(2) == 0.5)
  }

  test("seasonalityStrength: eta2 is 1 when hour-of-day determines the " +
      "count, 0 when the pattern flips day-over-day") {
    import org.apache.spark.sql.functions.expr
    def ts(xs: Seq[Long]) = xs.zipWithIndex.flatMap { case (c, h) =>
      Seq.fill(c.toInt)(h * 3600L) }.toDF("s")
      .select(expr("timestamp_seconds(s)").as("ts"))
    // 4 distinct hours, one obs per how bucket: SSB = SST -> eta2 = 1
    val one = operators.Profile.seasonalityStrength(
      ts(Seq(1L, 3L, 1L, 3L)), "ts").collect()
    assert(one.length == 4 && one.forall(_.getDouble(4) == 1.0))
    // two days, pattern inverted on day 2: every how-mean equals the
    // grand mean -> eta2 = 0 exactly
    val flip = (0 until 48).map(h =>
      if (h < 24) (if (h % 2 == 0) 2L else 0L) + 1L
      else (if (h % 2 == 0) 0L else 2L) + 1L)
    val rf = operators.Profile.seasonalityStrength(ts(flip), "ts").collect()
    assert(rf.length == 24 && rf.forall(_.getDouble(4) == 0.0))
    // constant series: no variance -> NULL eta2
    val rc = operators.Profile.seasonalityStrength(ts(Seq(2L, 2L)), "ts")
      .collect()
    assert(rc.forall(_.isNullAt(4)))
  }

  test("cusumChangepoint: the level shift lands at the pre-jump hour; " +
      "constant series peaks at 0") {
    import org.apache.spark.sql.functions.expr
    def ts(xs: Seq[Long]) = xs.zipWithIndex.flatMap { case (c, h) =>
      Seq.fill(c.toInt)(h * 3600L) }.toDF("s")
      .select(expr("timestamp_seconds(s)").as("ts"))
    // [1,1,5,5]: dev = 4x-12 = [-8,-8,8,8], C = [-8,-16,-8,0] ->
    // peak 16/4 = 4 at offset 1 (the last pre-jump hour)
    val r = operators.Profile.cusumChangepoint(ts(Seq(1L, 1L, 5L, 5L)), "ts")
      .collect().head
    assert(r.getLong(0) == 4 && r.getLong(1) == 1 && r.getDouble(2) == 4.0)
    // constant: peak 0, earliest offset 0
    val rc = operators.Profile.cusumChangepoint(ts(Seq(3L, 3L, 3L)), "ts")
      .collect().head
    assert(rc.getLong(1) == 0 && rc.getDouble(2) == 0.0)
  }

  test("jsDivergenceDrift: zero on identical, 1 bit on disjoint, " +
      "hand value between") {
    val ref = Seq(("g", 0.05), ("g", 0.05)).toDF("g", "s")
    // identical distributions -> jsd = 0
    val same = operators.Profile.jsDivergenceDrift(ref, ref, "g", "s")
      .collect().head
    assert(same.getDouble(3) == 0.0)
    // disjoint buckets -> jsd = 1 (the log2 upper bound)
    val far = Seq(("g", 0.95), ("g", 0.95)).toDF("g", "s")
    assert(operators.Profile.jsDivergenceDrift(ref, far, "g", "s")
      .collect().head.getDouble(3) == 1.0)
    // p=(1,0) vs q=(1/2,1/2): jsd = 0.5*log2(4/3) + 0.25*log2(2/3)
    //   + 0.25*log2(2) = 0.311278 (terms rounded to 9 at birth)
    val half = Seq(("g", 0.05), ("g", 0.15)).toDF("g", "s")
    assert(operators.Profile.jsDivergenceDrift(ref, half, "g", "s")
      .collect().head.getDouble(3) == 0.311278)
    // a group present in only one snapshot is dropped
    val other = Seq(("h", 0.5)).toDF("g", "s")
    assert(operators.Profile.jsDivergenceDrift(ref, other, "g", "s")
      .count() == 0)
  }
}
