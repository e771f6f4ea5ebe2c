package graft

import graft.operators.{Delta, Privacy}

class DeltaPrivacySpec extends SparkSpec {
  import spark.implicits._

  test("snapshotDelta: one row per key with the right status") {
    val old = Seq((1L, "a", "x"), (2L, "b", "x"), (3L, "c", "x"))
      .toDF("k", "t", "s")
    val neu = Seq((2L, "b", "x"), (3L, "C", "x"), (4L, "d", "x"))
      .toDF("k", "t", "s")
    val got = Delta.snapshotDelta(old, neu, "k", Seq("t", "s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
  }

  test("snapshotDelta: content hash spans all columns, separator-safe") {
    // ("ab", "c") vs ("a", "bc") concatenate identically without a
    // separator — the U+0001 join must keep them distinct
    val old = Seq((1L, "ab", "c")).toDF("k", "t", "s")
    val neu = Seq((1L, "a", "bc")).toDF("k", "t", "s")
    val got = Delta.snapshotDelta(old, neu, "k", Seq("t", "s"))
      .select("status").collect().map(_.getString(0))
    assert(got.toSeq == Seq("changed"))
  }

  test("churn: drops unchanged rows only") {
    val old = Seq((1L, "a"), (2L, "b")).toDF("k", "t")
    val neu = Seq((1L, "a"), (2L, "B")).toDF("k", "t")
    val got = Delta.churn(old, neu, "k", Seq("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(2L -> "changed"))
  }

  test("kAnonymize: small QI groups suppressed to null, large kept, types preserved") {
    val df = (1 to 10).map(i => (i.toLong, if (i <= 8) 7 else 9, "seg"))
      .toDF("id", "nation", "seg")
    val out = Privacy.kAnonymize(df, Seq("nation", "seg"), k = 3)
    assert(out.schema("nation").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val rows = out.collect().map(r =>
      (r.getLong(0), Option(r.get(1)), Option(r.get(2)), r.getLong(3)))
    // group (7, seg) has 8 members -> kept; (9, seg) has 2 -> suppressed
    assert(rows.filter(_._1 <= 8).forall(r =>
      r._2.contains(7) && r._3.contains("seg") && r._4 == 8L))
    assert(rows.filter(_._1 > 8).forall(r =>
      r._2.isEmpty && r._3.isEmpty && r._4 == 2L))
  }

  test("kAnonymize: row count unchanged; audit flags exactly the sub-k groups") {
    val df = (1 to 20).map(i => (i.toLong, i % 6)).toDF("id", "qi")
    val out = Privacy.kAnonymize(df, Seq("qi"), k = 4)
    assert(out.count() == 20)
    val audit = Privacy.anonymityAudit(df, Seq("qi"), k = 4)
      .collect().map(r => r.getInt(0) -> r.getBoolean(2)).toMap
    // residues of 1..20 mod 6: qi 1,2 have 4 rows; qi 0,3,4,5 have 3
    assert(audit(1) && audit(2) && !audit(0) && !audit(5))
  }

  test("tClosenessAudit: hand-computed ordered EMD over exact integers") {
    // global over values {1,2,3}: counts (3,2,3) of n=8 -> q=(3/8,1/4,3/8)
    // A (6 rows: 1,1,1,2,2,3): p=(1/2,1/3,1/6); p-q cums 1/8, 5/24
    //   -> EMD = (3/24+5/24)/2 = 1/6; integer path: |6|+|10| over 96
    // B (2 rows: 3,3): p=(0,0,1); cums -3/8, -5/8 -> EMD = 1/2
    val df = Seq(
      ("A", 1), ("A", 1), ("A", 1), ("A", 2), ("A", 2), ("A", 3),
      ("B", 3), ("B", 3)).toDF("qi", "v")
    val out = Privacy.tClosenessAudit(df, Seq("qi"), "v", t = 0.2)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("A").getLong(1) == 6 && out("A").getDouble(2) == 0.166667)
    assert(out("A").getBoolean(3), "1/6 <= t = 0.2")
    assert(out("B").getLong(1) == 2 && out("B").getDouble(2) == 0.5)
    assert(!out("B").getBoolean(3), "all mass on one tail value")
  }

  test("tClosenessAudit: single global sensitive value reports every group") {
    // m_vals = 1: every group's distribution IS the global one, so the
    // audit must report emd = 0 / meets_t = true for each group — not
    // silently return zero rows (the release-audit hole).
    val df = Seq(("A", 7), ("A", 7), ("B", 7)).toDF("qi", "v")
    val out = Privacy.tClosenessAudit(df, Seq("qi"), "v", t = 0.1)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("A", "B"))
    assert(out("A").getLong(1) == 2 && out("A").getDouble(2) == 0.0 &&
      out("A").getBoolean(3))
    assert(out("B").getLong(1) == 1 && out("B").getDouble(2) == 0.0 &&
      out("B").getBoolean(3))
  }

  test("tClosenessAudit: null sensitive rows excluded; EMD bounded by 1") {
    val df = Seq(("A", java.lang.Integer.valueOf(1)), ("A", null),
      ("B", java.lang.Integer.valueOf(5)), ("B", java.lang.Integer.valueOf(5)))
      .toDF("qi", "v")
    val out = Privacy.tClosenessAudit(df, Seq("qi"), "v", t = 0.5)
      .collect().map(r => r.getString(0) -> r).toMap
    // globals over non-null: {1:1, 5:2} of 3; A=(1,0)/1, B=(0,2)/2
    // A: p=(1,0), q=(1/3,2/3): cum diff 2/3 -> EMD=(2/3)/1 = 0.666667
    assert(out("A").getLong(1) == 1)
    assert(math.abs(out("A").getDouble(2) - 0.666667) < 1e-6)
    assert(!out("A").getBoolean(3))
    assert(math.abs(out("B").getDouble(2) - 0.333333) < 1e-6)
    assert(out("B").getBoolean(3))
  }

  test("laplaceCounts: replayable inverse-CDF Laplace release at " +
      "python-derived constants; deterministic across runs") {
    val df = Seq("a", "a", "a", "b").toDF("g")
    def run() = Privacy.laplaceCounts(df, "g", epsilon = 1.0, salt = "dp_")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val out = run()
    // md5("dp_a")[0:8] -> u -> noise: 3 + (-0.365731...) = 2.634269;
    // md5("dp_b") draws the negative branch: 1 - 1.088454
    assert(out("a") == 2.634269, s"got ${out("a")}")
    assert(out("b") == -0.088454, s"got ${out("b")}")
    assert(run() == out) // the seed is the point: replayable release
    // scale: eps=0.5 doubles the noise magnitude exactly
    val wide = Privacy.laplaceCounts(df, "g", epsilon = 0.5, salt = "dp_")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(math.abs((wide("a") - 3.0) - 2.0 * (out("a") - 3.0)) < 2e-6)
  }
}
