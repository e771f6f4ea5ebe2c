package graft

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/** JVM-level microbenchmark of the SortedArrayJaccard merge walk, no
  * Spark plumbing: 250k evaluations over two 98-element sorted string
  * arrays. `runMain graft.KernelBench`. */
object KernelBench {
  def main(args: Array[String]): Unit = {
    val n = 98
    val mk = (off: Int) => new GenericArrayData(
      (0 until n).map(i => UTF8String.fromString(f"shingle_${i * 2 + off}%06d word pair"))
        .sortBy(_.toString).toArray[Any])
    val a = mk(0); val b = mk(1)
    val expr = plans.SetExpressions.SortedArrayJaccard(
      org.apache.spark.sql.catalyst.expressions.Literal(a,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)),
      org.apache.spark.sql.catalyst.expressions.Literal(b,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)))
    // warmup
    var s = 0.0
    for (_ <- 1 to 10000) s += expr.eval(null).asInstanceOf[Double]
    val t0 = System.nanoTime()
    val reps = 250000
    for (_ <- 1 to reps) s += expr.eval(null).asInstanceOf[Double]
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"[kbench] $reps%d evals in $sec%.2f s = ${sec / reps * 1e6}%.2f us/eval (sink=$s%.1f)")

    // DataFrame-path repro at the soak's exact shape: 250k rows of two
    // 98-element sorted string arrays, kernel filter + count
    val spark = core.Session.local("graft-kernel-bench")
    import org.apache.spark.sql.functions._
    val words = (0 until 120).map(i => f"w$i%04d")
    val df = spark.range(250000).select(col("id"),
      array_sort(transform(sequence(lit(0), lit(97)),
        i => concat_ws("_",
          element_at(lit(words.toArray), pmod(col("id") + i, lit(120)).cast("int") + 1),
          element_at(lit(words.toArray), pmod(col("id") + i + 1, lit(120)).cast("int") + 1),
          element_at(lit(words.toArray), pmod(col("id") + i + 2, lit(120)).cast("int") + 1)))).as("sh_a"))
      .withColumn("sh_b", col("sh_a"))
      .localCheckpoint()
    println(s"[kbench] df rows = ${df.count()}")
    for (r <- 1 to 3) {
      val t1 = System.nanoTime()
      val c = df.filter(
        plans.SetExpressions.jaccard_sorted(col("sh_a"), col("sh_b")) >= 0.8).count()
      val s1 = (System.nanoTime() - t1) / 1e9
      println(f"[kbench] DF kernel filter run $r: $s1%.2f s ($c rows) = ${s1 / 250000 * 1e6}%.2f us/row wall")
    }
    val one = df.coalesce(1).localCheckpoint()
    println(s"[kbench] single-partition rows = ${one.count()}")
    for (r <- 1 to 3) {
      val t1 = System.nanoTime()
      val c = one.filter(
        plans.SetExpressions.jaccard_sorted(col("sh_a"), col("sh_b")) >= 0.8).count()
      val s1 = (System.nanoTime() - t1) / 1e9
      println(f"[kbench] 1-task kernel run $r: $s1%.2f s ($c rows) = ${s1 / 250000 * 1e6}%.2f us/row")
    }

    // Blocklist gate: Aho-Corasick ONE pass vs a contains() chain that
    // scans the text once PER PHRASE — the dictionary-size multiplier
    // the automaton exists to delete. 200-phrase dictionary, 100k
    // ~150-word docs, ~1% planted hits.
    val dict = (0 until 200).map(i => f"badphrase$i%03d x")
    val docs = spark.range(100000).select(col("id"),
      concat_ws(" ", transform(sequence(lit(0), lit(149)),
        i => element_at(lit(words.toArray),
          pmod(col("id") * 7 + i * 3, lit(120)).cast("int") + 1))).as("t"))
      .withColumn("t",
        when(pmod(col("id"), lit(97)) === 0,
          concat(col("t"), lit(" badphrase042 x"))).otherwise(col("t")))
      .localCheckpoint()
    println(s"[kbench] blocklist rows = ${docs.count()}")
    for (r <- 1 to 3) {
      val t1 = System.nanoTime()
      val c = docs.filter(
        plans.BlocklistExpressions.blocklist_hits(col("t"), dict) > 0).count()
      val s1 = (System.nanoTime() - t1) / 1e9
      println(f"[kbench] aho-corasick run $r: $s1%.2f s ($c hits)")
    }
    for (r <- 1 to 3) {
      val t1 = System.nanoTime()
      val c = docs.filter(
        dict.map(p => col("t").contains(p)).reduce(_ || _)).count()
      val s1 = (System.nanoTime() - t1) / 1e9
      println(f"[kbench] contains-chain run $r: $s1%.2f s ($c hits)")
    }

    // Numeric-entity decode kernel: entity-free fast path (returns the
    // input UTF8String, zero allocation) vs entity-rich text.
    val plainTxt = UTF8String.fromString(("lorem ipsum dolor sit amet " * 40))
    val entTxt = UTF8String.fromString(
      ("90&#176; caf&#233; &#x41; &#8217; text " * 40))
    for ((nm, txt) <- Seq(("entity-free", plainTxt), ("entity-rich", entTxt))) {
      var sink = 0L
      for (_ <- 1 to 10000) // warmup
        sink += plans.UnicodeExpressions.computeDecodeEntities(txt).numChars()
      val t1 = System.nanoTime()
      val reps2 = 200000
      for (_ <- 1 to reps2)
        sink += plans.UnicodeExpressions.computeDecodeEntities(txt).numChars()
      val s1 = (System.nanoTime() - t1) / 1e9
      println(f"[kbench] decode_html_entities $nm%-12s: ${s1 / reps2 * 1e6}%.2f us/eval (sink=$sink)")
    }
    spark.stop()
  }
}
