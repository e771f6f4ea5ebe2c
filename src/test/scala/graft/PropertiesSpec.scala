package graft

import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{Components, Dedup}
import graft.sources.TextRepair

/** Property-based invariants (SURVEY.md §5.3): dedup idempotence,
  * union-dedup order-insensitivity, header-normalization idempotence,
  * quote-repair stability, shingle laws. Uses raw ScalaCheck generators
  * with fixed seeds (no scalatest bridge in the offline cache). */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  private val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta")
  private val text = Gen.listOfN(8, word).map(_.mkString(" "))
  private val rows = Gen.listOfN(12, text)

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g(Gen.Parameters.default, Seed(i.toLong)))

  test("distinct is idempotent: distinct(distinct(x)) == distinct(x)") {
    samples(rows, 5).foreach { xs =>
      val once = xs.toDF("t").distinct()
      assert(once.distinct().collect().toSet == once.collect().toSet)
    }
  }

  test("merge is order-insensitive for full-row keys and equals scala distinct") {
    samples(Gen.zip(rows, rows), 5).foreach { case (a, b) =>
      val (da, db) = (a.toDF("t"), b.toDF("t"))
      val m1 = Components.merge(Seq(da, db)).collect().map(_.getString(0)).sorted
      val m2 = Components.merge(Seq(db, da)).collect().map(_.getString(0)).sorted
      assert(m1.toSeq == m2.toSeq)
      assert(m1.toSeq == (a ++ b).distinct.sorted)
    }
  }

  test("header normalization is idempotent, lowercase, space-free") {
    samples(Gen.zip(Gen.alphaStr, Gen.alphaStr), 30).foreach { case (a, b) =>
      val name = s"$a $b"
      val n1 = TextRepair.normalizeName(name)
      assert(TextRepair.normalizeName(n1) == n1)
      assert(!n1.contains(' '))
      assert(n1 == n1.toLowerCase)
    }
  }

  test("shingles: distinct, size-bounded, 3 tokens each") {
    samples(rows, 4).foreach { xs =>
      val sh = xs.toDF("t")
        .select(Dedup.shingles(col("t")).as("s"))
        .collect().map(_.getSeq[String](0))
      sh.zip(xs).foreach { case (arr, t) =>
        val nTok = t.split(" ", -1).length
        assert(arr.distinct.length == arr.length)
        assert(arr.length <= math.max(0, nTok - 2))
        arr.foreach(g => assert(g.split("_", -1).length == 3))
      }
    }
  }

  test("jaccardPairs: ids ordered, jaccard in [0,1], exact dups score 1.0") {
    samples(rows, 3).foreach { xs =>
      val df = xs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val pairs = Dedup.jaccardPairs(df, "doc_id", "text", threshold = 0.0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      pairs.foreach { case (a, b, j) =>
        assert(a < b)
        assert(j >= 0.0 && j <= 1.0)
      }
      val dups = xs.zipWithIndex.groupBy(_._1).values.filter(_.size > 1)
      dups.foreach { g =>
        val ids = g.map(_._2.toLong).sorted
        assert(pairs.exists(p => p._1 == ids.head && p._2 == ids(1) && p._3 == 1.0))
      }
    }
  }

  test("native kernels == composable formulations (ngrams, stats, jaccard, simhash)") {
    import org.apache.spark.sql.functions._
    // richer generator: repeats, empty tokens (double spaces), unicode
    val tok = Gen.oneOf("a", "b", "ab", "ñ", "", "loooongword")
    val anyText = Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, tok)).map(_.mkString(" "))
    samples(anyText, 40).foreach { t =>
      val df = Seq(t).toDF("t")
      // WordNgrams == split→sequence→transform→array_distinct
      val native = df.select(graft.plans.TextExpressions.word_ngrams(col("t"), 3))
        .collect().head.getSeq[String](0)
      val composed = df.select(
        when(size(split(col("t"), " ", -1)) >= 3,
          array_distinct(transform(
            sequence(lit(1), size(split(col("t"), " ", -1)) - 2),
            i => concat_ws("_", slice(split(col("t"), " ", -1), i, lit(3))))))
          .otherwise(array().cast("array<string>")))
        .collect().head.getSeq[String](0)
      assert(native == composed, s"word_ngrams mismatch on '$t'")
      // NgramStats counts == explode+groupBy counts
      val st = df.select(graft.plans.TextExpressions.ngram_stats(col("t"), 2).as("s"))
        .select("s.*").collect().head
      val toks = t.split(" ", -1)
      val grams = if (toks.length >= 2) toks.sliding(2).map(_.mkString("_")).toSeq else Seq.empty
      assert(st.getAs[Long]("n_tokens") == toks.length.toLong)
      assert(st.getAs[Long]("n_distinct") == toks.distinct.length.toLong)
      assert(st.getAs[Long]("n_ngrams") == grams.length.toLong)
      val expectedTop = if (grams.isEmpty) 0L
        else grams.groupBy(identity).values.map(_.size).max.toLong
      assert(st.getAs[Long]("top_ngram_count") == expectedTop, s"top mismatch on '$t'")
    }
    // SortedArrayJaccard == |intersect| / |union| on sorted distinct arrays
    val arr = Gen.chooseNum(0, 8).flatMap(n => Gen.listOfN(n, Gen.oneOf("x", "y", "z", "w", "v")))
    samples(Gen.zip(arr, arr), 25).foreach { case (a0, b0) =>
      val (a, b) = (a0.distinct.sorted, b0.distinct.sorted)
      if (a.nonEmpty || b.nonEmpty) {
        val got = Seq((a, b)).toDF("a", "b")
          .select(graft.plans.SetExpressions.jaccard_sorted(col("a"), col("b")))
          .collect().head.getDouble(0)
        val inter = a.toSet.intersect(b.toSet).size
        val expect = inter.toDouble / (a.length + b.length - inter)
        assert(got == expect, s"jaccard mismatch on $a vs $b")
      }
    }
    // SimHash64: permutation-invariant over token multiset, order-free
    samples(anyText, 15).foreach { t =>
      val shuffled = t.split(" ", -1).reverse.mkString(" ")
      val Seq(h1, h2) = Seq(t, shuffled).map { s =>
        Seq(s).toDF("t")
          .select(graft.plans.SketchExpressions.simhash64(col("t")))
          .collect().head.getLong(0)
      }
      assert(h1 == h2, s"simhash not order-free on '$t'")
    }
  }

  test("passageDedup invariants: every distinct passage survives exactly once; dedup is idempotent") {
    val k = 3
    samples(rows, 5).foreach { xs =>
      val docs = xs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val out = Dedup.passageDedup(docs, "doc_id", "text", k)
      val survivors = out.collect().map(r => r.getLong(0) -> r.getString(1))
      // union of surviving passages == distinct passages of the input
      def passagesOf(t: String) =
        t.split(" ", -1).grouped(k).map(_.mkString(" ")).toSeq
      val inputPassages = xs.flatMap(passagesOf).distinct.sorted
      val outputPassages = survivors.flatMap(p => passagesOf(p._2)).sorted
      assert(outputPassages.toSeq == inputPassages,
        "surviving passages must be exactly the distinct input passages")
      // idempotence: re-deduping the output changes nothing
      val again = Dedup.passageDedup(
        survivors.toSeq.toDF("doc_id", "text"), "doc_id", "text", k)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(again == survivors.toMap)
    }
  }

  test("containment laws: self-containment is 1; containment(a in b) = 1 when a's shingles ⊆ b's") {
    samples(text, 8).foreach { t =>
      val doc = Seq((1L, t)).toDF("doc_id", "text")
      val ext = Seq((2L, t + " omega psi chi")).toDF("doc_id", "text")
      val c = Dedup.containmentJoin(doc, ext, "doc_id", "text", threshold = 0.99)
        .collect()
      assert(c.length == 1 && c.head.getDouble(2) == 1.0,
        s"prefix-of-superset containment must be 1.0 for '$t'")
    }
  }

  test("globalShuffle is a permutation and agrees with the window formulation") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    samples(Gen.listOfN(30, Gen.choose(0L, 1000L)).map(_.distinct), 5).foreach { ks =>
      val df = ks.toDF("k")
      val got = graft.operators.Sampling.globalShuffle(df, col("k"), 5)
        .select("k", "shuffle_pos").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = df.withColumn("p", row_number().over(
          Window.orderBy(md5(concat(lit("shuf_"), col("k").cast("string"))),
            col("k").cast("string")))
          .cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want)
    }
  }

  test("quote repair leaves clean CSV lines unchanged") {
    val cleanCsv = Gen.listOfN(3, Gen.oneOf("aa", "bb", "cc")).map(_.mkString(","))
    samples(cleanCsv, 10).foreach { line =>
      val out = Seq(line).toDF("value")
        .select(TextRepair.repairLine(col("value")).as("v"))
        .collect().head.getString(0)
      assert(out == line)
    }
  }

  test("domainCap laws: subset of input, count per group == min(cap, n), cap-monotone") {
    import org.apache.spark.sql.functions._
    val grouped = Gen.listOfN(40, Gen.zip(Gen.oneOf("a", "b", "c"),
      Gen.choose(0L, 500L))).map(_.distinct)
    samples(grouped, 4).foreach { xs =>
      val df = xs.toDF("g", "k")
      val sizes = xs.groupBy(_._1).view.mapValues(_.size).toMap
      val c5 = graft.operators.Sampling.domainCap(df, "g", col("k"), 5)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(c5.toSet.subsetOf(xs.toSet), "output must be a subset of input")
      c5.groupBy(_._1).foreach { case (g, rows) =>
        assert(rows.length == math.min(5, sizes(g)),
          s"group $g: got ${rows.length}, want min(5, ${sizes(g)})")
      }
      // raising the cap only ADDS survivors (prefix property of the
      // md5 order) — a recipe can be tightened without reshuffling
      val c8 = graft.operators.Sampling.domainCap(df, "g", col("k"), 8)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(c5.toSet.subsetOf(c8.toSet), "cap must be monotone")
    }
  }

  test("tokenBudget laws: subset, budget-monotone, every group fills or exhausts") {
    import org.apache.spark.sql.functions._
    val grouped = Gen.listOfN(30, Gen.zip(Gen.oneOf("a", "b"),
      Gen.choose(0L, 500L), Gen.choose(1L, 20L))).map(_.distinctBy(t => (t._1, t._2)))
    samples(grouped, 4).foreach { xs =>
      val df = xs.toDF("g", "k", "toks")
      def run(b: Long) = graft.operators.Sampling
        .tokenBudget(df, "g", col("k"), col("toks"), b)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val b30 = run(30L)
      assert(b30.map(t => (t._1, t._2)).toSet
        .subsetOf(xs.map(t => (t._1, t._2)).toSet))
      assert(b30.map(t => (t._1, t._2)).toSet
        .subsetOf(run(60L).map(t => (t._1, t._2)).toSet), "budget-monotone")
      // each group either reaches the budget or took everything it had
      val totals = xs.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      b30.groupBy(_._1).foreach { case (g, rows) =>
        val kept = rows.map(_._3).sum
        assert(kept >= math.min(30L, totals(g)),
          s"group $g kept $kept of ${totals(g)} against budget 30")
      }
    }
  }
}
