package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

import graft.core.SnapshotTable

/** Writes beside reads on one keyed snapshot table. A lineitem-shaped
  * table is committed range-clustered on its key with min/max, category
  * and Bloom sections; then one client runs a seeded mix in a closed
  * loop: targeted upserts of 1-2k keys (most of them recent), merge-on-read
  * deletes by part key, pruned point and range lookups on the key, Bloom
  * lookups on the part key, and a compaction every eighth operation. The
  * eight operations between compactions are the workload's unit of work.
  * Without the compaction cadence, files pile up and upsert latency grows
  * within a few operations.
  *
  * A driver-side model of the table (a sorted map, sharing no code with
  * the engine) replays every operation; each lookup and delete is checked
  * against it, and at the end the whole table and its tagged first version
  * must read back the model's checksums. */
final class SnapshotMutate(spark: SparkSession, work: String, seed: Long) extends Workload {
  private val Rows = 32000
  private val InitialFiles = 8
  private val BloomBits = 32768
  private val PartKeys = 50000
  private val TargetFileBytes = 96L * 1024

  private val root = s"$work/table"
  private val cols = Seq("k", "partkey", "suppkey", "qty", "price", "ship", "flag")
  private final case class Rec(partkey: Long, suppkey: Long, qty: Long, price: Long,
      ship: Long, flag: String)
  private val model = new java.util.TreeMap[java.lang.Long, Rec]()
  private val rnd = new Random(seed)
  private var nextKey = 0L
  private var version = 0L
  private var bytesPerRow = 0.0
  private var tagged = (0L, 0L)

  // traced-phase counters
  private val rewritten = mutable.ArrayBuffer[Double]()
  private val added = mutable.ArrayBuffer[(Long, Long)]() // (bytes added, batch rows)
  private val skipped = mutable.ArrayBuffer[Double]()
  private var spaceAmp = 0.0

  private def record(): Rec = Rec(1L + rnd.nextInt(PartKeys), 1L + rnd.nextInt(1000),
    1L + rnd.nextInt(50), 100L + rnd.nextInt(1000000), 8000L + rnd.nextInt(2500),
    Flags(rnd.nextInt(Flags.size)))

  private def frame(rows: Seq[(Long, Rec)]): DataFrame = {
    import spark.implicits._
    rows.map { case (k, r) => (k, r.partkey, r.suppkey, r.qty, r.price, r.ship, r.flag) }
      .toDF(cols: _*)
  }

  private def rowOf(k: Long, r: Rec): Seq[Any] =
    Seq(k, r.partkey, r.suppkey, r.qty, r.price, r.ship, r.flag)

  private def modelSum(entries: Iterable[(Long, Rec)]): (Long, Long) =
    Checksum.of(entries.map { case (k, r) => rowOf(k, r) })

  private def entries: Iterable[(Long, Rec)] =
    model.asScala.view.map { case (k, r) => (k.longValue, r) }

  /** An existing key from the most recent fifth of the key space. */
  private def recentKey(): Long = {
    val span = math.max(1L, nextKey / 5)
    val k = nextKey - 1 - (rnd.nextDouble() * span).toLong
    Option(model.floorKey(k)).orElse(Option(model.ceilingKey(k))).get.longValue
  }

  /** Column `c` of initial row `k`: a salted xxhash64 of the key, the
    * same value in Spark (`pmod(xxhash64(k, salt), mod) + offset`) and in
    * the Spark driver's model, so the table is generated in parallel and
    * the model without collecting it. */
  private def initial(k: Long, c: Int, mod: Long, offset: Long): Long =
    Math.floorMod(XXH64.hashLong(seed * 16 + c, XXH64.hashLong(k, 42L)), mod) + offset
  private def initialCol(c: Int, mod: Long, offset: Long): Column =
    pmod(xxhash64(col("k"), lit(seed * 16 + c)), lit(mod)) + lit(offset)
  private val Initial = Seq((1, PartKeys.toLong, 1L), (2, 1000L, 1L), (3, 50L, 1L),
    (4, 1000000L, 100L), (5, 2500L, 8000L), (6, 3L, 0L))
  private val Flags = Seq("A", "N", "R")

  def prepare(): Seq[(String, Any)] = {
    (0L until Rows).foreach { k =>
      val v = Initial.map { case (c, mod, off) => initial(k, c, mod, off) }
      model.put(k, Rec(v(0), v(1), v(2), v(3), v(4), Flags(v(5).toInt)))
    }
    nextKey = Rows
    val cs = Initial.map { case (c, mod, off) => initialCol(c, mod, off) }
    val table = spark.range(0, Rows, 1, 4).select(col("id").as("k"))
      .select(col("k") +: cs.init.zip(cols.tail).map { case (c, n) => c.as(n) } :+
        element_at(array(Flags.map(lit): _*), (cs.last + 1).cast("int")).as("flag"): _*)
    version = SnapshotTable.commit(spark, root,
      table.repartitionByRange(InitialFiles, col("k")),
      statsCols = Seq("k"), categoryCols = Seq("flag"),
      bloomCols = Seq("partkey"), bloomBits = BloomBits)
    // the final check reads this first version back through its tag
    SnapshotTable.tag(spark, root, "initial", version)
    tagged = modelSum(entries)
    val dataBytes = Host.du(s"$root/data")
    bytesPerRow = dataBytes.toDouble / Rows
    Seq("rows" -> Rows, "files" -> SnapshotTable.dataFiles(spark, root).size,
      "data_bytes" -> dataBytes, "bloom_bits" -> BloomBits,
      "block_ops" -> Cadence.size, "target_file_bytes" -> TargetFileBytes)
  }

  private def timed[T](tr: Tracer, i: Int, name: String)(body: => T): (T, Double, Double) = {
    tr.cycle = i
    Clock.measure(tr.span("op", "harness", i) { tr.span(name, "core")(body) })
  }

  private def upsert(tr: Tracer, i: Int): OpRes = {
    val n = 1000 + rnd.nextInt(1001)
    val keys = mutable.LinkedHashSet[Long]()
    while (keys.size < n)
      keys += (if (rnd.nextInt(10) < 7) recentKey() else { nextKey += 1; nextKey - 1 })
    val batch = keys.toSeq.map(_ -> record())
    val df = frame(batch)
    val before = if (tr.enabled) Host.du(root) else 0L
    val ((v, rew, _), secs, cpu) = timed(tr, i, "core.SnapshotTable.upsertTargeted") {
      SnapshotTable.upsertTargeted(df, root, Seq("k"), statsCols = Seq("k"),
        categoryCols = Seq("flag"), bloomCols = Seq("partkey"), bloomBits = BloomBits)
    }
    if (tr.enabled) {
      rewritten += rew
      added += ((Host.du(root) - before, n.toLong))
    }
    batch.foreach { case (k, r) => model.put(k, r) }
    val ok = v == version + 1
    val note = s"published version $v after $version"
    version = v
    OpRes("upsert", secs, cpu, ok, note)
  }

  private def deleteDv(tr: Tracer, i: Int): OpRes = {
    val pks = Seq.fill(3)(model.get(recentKey()).partkey).toSet
    val ((v, n, _), secs, cpu) = timed(tr, i, "core.SnapshotTable.deleteWhereDV") {
      SnapshotTable.deleteWhereDV(spark, root, col("partkey").isin(pks.toSeq: _*))
    }
    val gone = entries.filter { case (_, r) => pks.contains(r.partkey) }.map(_._1).toSeq
    gone.foreach(k => model.remove(k))
    val ok = n == gone.size && v == (if (gone.isEmpty) version else version + 1)
    version = v
    OpRes("delete_dv", secs, cpu, ok, s"tombstoned $n rows, expected ${gone.size}")
  }

  private def lookup(tr: Tracer, i: Int, bloom: Boolean): OpRes = {
    val (got, secs, cpu, want, counts) =
      if (!bloom) {
        val lo = recentKey()
        val hi = lo + (if (rnd.nextBoolean()) 0 else 200)
        val (got, secs, cpu) = timed(tr, i, "core.SnapshotTable.scanPruned") {
          Checksum.of(SnapshotTable.scanPruned(spark, root, "k", lo, hi)
            .filter(col("k").between(lo, hi)), cols)
        }
        val want = modelSum(model.subMap(lo, true, hi, true).asScala.view
          .map { case (k, r) => (k.longValue, r) })
        (got, secs, cpu, want,
          if (tr.enabled) Some(SnapshotTable.pruneCounts(spark, root, "k", lo, hi)) else None)
      } else {
        val pk = if (rnd.nextBoolean()) model.get(recentKey()).partkey
          else 1L + rnd.nextInt(PartKeys)
        val (got, secs, cpu) = timed(tr, i, "core.SnapshotTable.scanPrunedBloom") {
          Checksum.of(SnapshotTable.scanPrunedBloom(spark, root, "partkey", pk.toString)
            .filter(col("partkey") === pk), cols)
        }
        val want = modelSum(entries.filter(_._2.partkey == pk))
        (got, secs, cpu, want,
          if (tr.enabled) Some(SnapshotTable.pruneCountsBloom(spark, root, "partkey",
            pk.toString)) else None)
      }
    counts.foreach { case (total, kept) => skipped += (total - kept).toDouble / total }
    OpRes(if (bloom) "lookup_bloom" else "lookup_range", secs, cpu, got == want,
      s"(rows, checksum) $got != $want")
  }

  private def compact(tr: Tracer, i: Int): OpRes = {
    val (res, secs, cpu) = timed(tr, i, "core.SnapshotTable.compactSnapshot") {
      SnapshotTable.compactSnapshot(spark, root, TargetFileBytes, statsCols = Seq("k"))
    }
    val ok = res.forall(_._1 == version + 1)
    val note = s"compaction published ${res.map(_._1)} after version $version"
    res.foreach(r => version = r._1)
    OpRes("compact", secs, cpu, ok, note)
  }

  /** The op kinds repeat in this order; keys, sizes and values are seeded.
    * A fixed cadence keeps every block's mix, and so its time, comparable
    * across seeds. The compaction closes each block. */
  private val Cadence = Seq("upsert", "lookup_range", "delete_dv", "lookup_bloom",
    "upsert", "lookup_range", "lookup_bloom", "compact")
  override def block: Seq[String] = Cadence

  def step(tr: Tracer, i: Int): OpRes = {
    Cadence(i % Cadence.size) match {
      case "upsert" => upsert(tr, i)
      case "delete_dv" => deleteDv(tr, i)
      case "lookup_range" => lookup(tr, i, bloom = false)
      case "lookup_bloom" => lookup(tr, i, bloom = true)
      case "compact" => compact(tr, i)
    }
  }

  /** One untimed block, while the JIT compiles the commit and scan paths. */
  def warmupOps: Int = Cadence.size

  override def finish(tr: Tracer): Seq[OpRes] = {
    val table = Checksum.of(SnapshotTable.read(spark, root), cols)
    val want = modelSum(entries)
    val tag = Checksum.of(SnapshotTable.readTag(spark, root, "initial"), cols)
    if (tr.enabled) {
      val fresh = s"$work/fresh"
      SnapshotTable.read(spark, root).write.mode("overwrite").parquet(fresh)
      spaceAmp = Host.du(root).toDouble / Host.du(fresh)
    }
    Seq(OpRes("final_table", 0.0, 0.0, table == want, s"table (rows, checksum) $table != $want"),
      OpRes("tagged_version", 0.0, 0.0, tag == tagged, s"tag (rows, checksum) $tag != $tagged"))
  }

  def report(ops: Seq[OpRes]): Seq[(String, Double, String, String)] = {
    def tail(xs: Seq[Double], name: String) = Stats.tail(xs) match {
      case Some((p, v, n)) => Seq((name, v, "s", s"p$p of n=$n"))
      case None => Seq((name, Double.NaN, "s", s"n=${xs.size} is too few for a tail"))
    }
    val mut = ops.filter(o => Set("upsert", "delete_dv", "compact")(o.kind)).map(_.seconds)
    val look = ops.filter(_.kind.startsWith("lookup")).map(_.seconds)
    Seq(("mutate_p50_s", Stats.median(mut), "s", s"n=${mut.size}")) ++
      tail(mut, "mutate_tail_s") ++
      Seq(("lookup_p50_s", Stats.median(look), "s", s"n=${look.size}")) ++
      tail(look, "lookup_tail_s") ++
      Seq(("snapshot_ops_per_s", ops.size / ops.map(_.seconds).sum, "1/s", "closed loop, 1 client"))
  }

  def layers(tr: Tracer, ops: Seq[OpRes]): Map[String, Double] = {
    def p50(kinds: String*) = Stats.median(ops.filter(o => kinds.contains(o.kind)).map(_.seconds))
    val commits = Seq("core.SnapshotTable.upsertTargeted", "core.SnapshotTable.deleteWhereDV",
      "core.SnapshotTable.compactSnapshot").flatMap(tr.named)
    val nc = math.max(1, commits.size).toDouble
    Map(
      "core.snapshot.upsert_s" -> p50("upsert"),
      "core.snapshot.delete_dv_s" -> p50("delete_dv"),
      "core.snapshot.compact_s" -> p50("compact"),
      "core.snapshot.lookup_s" -> p50("lookup_range", "lookup_bloom"),
      "core.snapshot.jobs_per_commit" -> commits.map(tr.jobsUnder(_).size).sum / nc,
      "core.snapshot.fs_ops_per_commit" -> commits.map(_.fs.ops).sum / nc,
      "core.snapshot.files_rewritten_per_upsert" -> Stats.mean(rewritten.toSeq),
      "core.snapshot.write_amp" ->
        added.map(_._1).sum / math.max(1.0, added.map(_._2).sum * bytesPerRow),
      "core.snapshot.space_amp" -> spaceAmp,
      "core.snapshot.files_skipped_frac" -> Stats.mean(skipped.toSeq))
  }
}
