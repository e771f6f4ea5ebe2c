package perfbench

import java.io.FileOutputStream
import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.{Files, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.core.Config
import graft.operators.Pipeline
import graft.sources.{Listing, RawTable}

/** The reference's own path: a mini-bucket of voter-registration files is
  * fetched (include-filtered), decoded, repaired and parsed, then
  * compressed into deduplicated component tables written as parquet.
  *
  * The bucket holds four UTF-16 `VR_Snapshot` archives (one four times
  * the others, so one task straggles: zip is not splittable), a LATIN1
  * `ncvoter_Statewide.zip`, a quoted LATIN1 `Candidate_Listing` CSV that
  * gains a null `email` column, and decoys the include filter must drop.
  * The snapshots carry both dirty-quote kinds the repair fixes: U1 (an
  * interior quoted word, whose quotes come out doubled) and U2 (a quote
  * between capitals, which becomes an apostrophe). Every source row comes
  * from a seeded person pool, so the expected component rows are known
  * from the generator alone. */
final class IngestVoter(spark: SparkSession, work: String, seed: Long) extends Workload {
  private val SmallRows = 3000
  private val PoolSize = 9000
  private val NcvRows = 4000
  private val CandRows = 600

  private val out = s"$work/out"

  private val spec = Config.parse(
    """fetch:
      |  cycle:
      |    bucket:
      |      include:
      |        - 'VR_Snapshot_.*\.zip$'
      |        - 'ncvoter_Statewide\.zip$'
      |        - 'Candidate_Listing_.*\.csv$'
      |compress:
      |  pack_vr:
      |    include:
      |      - '^vr_snapshot'
      |    components:
      |      c_person:
      |        subst:
      |          middle_name: midl_name
      |      c_contact:
      |        subst:
      |          full_phone: area_cd||phone_num
      |          email: "'NA'"
      |      c_address:
      |        subst:
      |          cancellation_dt: "'NA'"
      |  pack_ncv:
      |    include:
      |      - '^ncvoter_statewide$'
      |    components:
      |      c_person: 1
      |      c_contact:
      |        subst:
      |          full_phone: full_phone_number
      |          email: "'NA'"
      |      c_address: 1
      |  pack_cand:
      |    include:
      |      - '^candidate_listing'
      |    components:
      |      c_person: 1
      |      c_contact:
      |        subst:
      |          full_phone: phone
      |      c_address:
      |        subst:
      |          res_street_address: street_address
      |          status_cd: "'A'"
      |          cancellation_dt: "'NA'"
      |components:
      |  c_person:
      |    - last_name
      |    - first_name
      |    - middle_name
      |  c_contact:
      |    - last_name
      |    - full_phone
      |    - email
      |  c_address:
      |    - voter_reg_num
      |    - res_street_address
      |    - status_cd
      |    - cancellation_dt
      |""".stripMargin)

  private val components = spec.components
  private var bucket: Bucket = _

  private final case class Person(reg: String, last: String, vrLast: String, first: String,
      middle: String, area: String, phone: String, street: String,
      vrStreetRepaired: String, plainStreet: String)

  private def person(rnd: Random, i: Int): Person = {
    val syl = Seq("AN", "BER", "CA", "DO", "EL", "FI", "GAR", "HO", "IN", "JO", "KA",
      "LE", "MA", "NO", "OR", "PE", "RI", "SA", "TO", "VA", "WIL", "ZE")
    def word(k: Int) = Seq.fill(k)(syl(rnd.nextInt(syl.size))).mkString
    // non-ASCII survivors: only a correct UTF-16/LATIN1 decode keeps them
    // (never the first letter: U2 needs a capital after the quote)
    def accent(s: String) =
      if (rnd.nextInt(25) == 0) s.head +: s.tail.replaceFirst("E", "É") else s
    val base = accent(word(2 + rnd.nextInt(2)))
    // U2: the snapshots spell O'NAME as O"NAME
    val u2 = rnd.nextInt(20) == 0
    val last = if (u2) s"O'$base" else base
    val num = 100 + rnd.nextInt(9000)
    val w = word(2)
    val suffix = Seq("ST", "RD", "AVE", "LN")(rnd.nextInt(4))
    // U1: an interior quoted word, left as-is by the clean sources
    val u1 = rnd.nextInt(20) == 0
    val street = if (u1) s"""$num "$w" $suffix""" else s"$num $w $suffix"
    Person(reg = f"${1000000 + i}%d", last = last,
      vrLast = if (u2) s"""O"$base""" else base,
      first = accent(word(2)), middle = word(1).take(1 + rnd.nextInt(2)),
      area = f"${200 + rnd.nextInt(800)}%d", phone = f"${rnd.nextInt(10000000)}%07d",
      street = street,
      vrStreetRepaired = if (u1) s"""$num ""$w"" $suffix""" else street,
      plainStreet = s"$num $w $suffix")
  }

  /** A bucket on disk and the (rows, checksum) each component must have. */
  private final case class Bucket(dir: String, planned: Seq[String], archiveBytes: Long,
      decodedBytes: Long, expected: Map[String, (Long, Long)])

  private def generate(rnd: Random, pool: IndexedSeq[Person], dir: String): Bucket = {
    Files.createDirectories(Paths.get(dir))
    val statuses = Seq("A", "I", "R", "D")
    val rows = mutable.Map[String, mutable.Set[Seq[String]]]()
    components.keys.foreach(c => rows(c) = mutable.Set())
    var decoded = 0L
    def add(c: String, values: String*): Unit = rows(c) += values
    def writeZip(name: String, text: String, cs: Charset): Unit = {
      val zos = new ZipOutputStream(new FileOutputStream(s"$dir/$name"))
      try {
        zos.putNextEntry(new ZipEntry(name.stripSuffix(".zip") + ".txt"))
        zos.write(text.getBytes(cs))
        zos.closeEntry()
      } finally zos.close()
    }

    // VR snapshots: UTF-16, tab-separated, spaced upper-case headers, dirty
    val vrHeader = Seq("VOTER REG NUM", "LAST NAME", "FIRST NAME", "MIDL NAME", "AREA CD",
      "PHONE NUM", "RES STREET ADDRESS", "STATUS CD").mkString("\t")
    Seq(1, 1, 1, 4).map(_ * SmallRows).zipWithIndex.foreach { case (n, j) =>
      val b = new StringBuilder(vrHeader).append('\n')
      (0 until n).foreach { _ =>
        val p = pool(rnd.nextInt(pool.size))
        val st = statuses(rnd.nextInt(statuses.size))
        b.append(Seq(p.reg, p.vrLast, p.first, p.middle, p.area, p.phone, p.street, st)
          .mkString("\t")).append('\n')
        add("c_person", p.last, p.first, p.middle)
        add("c_contact", p.last, p.area + p.phone, "NA")
        add("c_address", p.reg, p.vrStreetRepaired, st, "NA")
      }
      val text = b.toString
      decoded += text.getBytes(StandardCharsets.UTF_16).length
      writeZip(f"VR_Snapshot_202406${j + 1}%02d.zip", text, StandardCharsets.UTF_16)
    }

    // statewide file: LATIN1, clean (no repair), tab-separated
    val ncv = new StringBuilder(Seq("Voter Reg Num", "Last Name", "First Name", "Middle Name",
      "Full Phone Number", "Res Street Address", "Status Cd", "Cancellation Dt")
      .mkString("\t")).append('\n')
    (0 until NcvRows).foreach { _ =>
      val p = pool(rnd.nextInt(pool.size))
      val st = statuses(rnd.nextInt(statuses.size))
      val dt = f"2023-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d"
      ncv.append(Seq(p.reg, p.last, p.first, p.middle, p.area + p.phone, p.street, st, dt)
        .mkString("\t")).append('\n')
      add("c_person", p.last, p.first, p.middle)
      add("c_contact", p.last, p.area + p.phone, "NA")
      add("c_address", p.reg, p.street, st, dt)
    }
    decoded += ncv.length // one byte per char in LATIN1
    writeZip("ncvoter_Statewide.zip", ncv.toString, StandardCharsets.ISO_8859_1)

    // candidate listing: LATIN1 CSV, every field quoted, gains `email`
    def q(s: String) = "\"" + s + "\""
    val cand = new StringBuilder(Seq("Voter Reg Num", "Last Name", "First Name", "Middle Name",
      "Phone", "Street Address").map(q).mkString(",")).append('\n')
    (0 until CandRows).foreach { _ =>
      val p = pool(rnd.nextInt(pool.size))
      cand.append(Seq(p.reg, p.last, p.first, p.middle, p.area + p.phone, p.plainStreet)
        .map(q).mkString(",")).append('\n')
      add("c_person", p.last, p.first, p.middle)
      add("c_contact", p.last, p.area + p.phone, null)
      add("c_address", p.reg, p.plainStreet, "A", "NA")
    }
    decoded += cand.length
    val candBytes = cand.toString.getBytes(StandardCharsets.ISO_8859_1)
    Files.write(Paths.get(s"$dir/Candidate_Listing_2024.csv"), candBytes)

    // decoys the include filter must drop
    Files.write(Paths.get(s"$dir/README.txt"), "bucket notes\n".getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(s"$dir/VR_Snapshot_20240601.zip.sha256"),
      "00\n".getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(s"$dir/Candidate_Listing_2024.csv.bak"), candBytes)
    writeZip("ncvhis_Statewide.zip", "a\tb\n1\t2\n", StandardCharsets.ISO_8859_1)

    val planned = Listing.planFiles(spark, dir, spec.fetch("cycle")("bucket").include.map(_.r))
    require(planned.size == 6, s"include filter planned ${planned.size} files, expected 6")
    Bucket(dir, planned, planned.map(p => Files.size(Paths.get(new java.net.URI(p)))).sum,
      decoded, rows.map { case (c, set) => c -> Checksum.of(set) }.toMap)
  }

  def prepare(): Seq[(String, Any)] = {
    val rnd = new Random(seed)
    val pool = (0 until PoolSize).map(person(rnd, _))
    bucket = generate(rnd, pool, s"$work/bucket")
    Seq("files" -> bucket.planned.size, "input_bytes" -> bucket.archiveBytes,
      "decoded_bytes" -> bucket.decodedBytes, "vr_rows" -> 7 * SmallRows,
      "ncv_rows" -> NcvRows, "cand_rows" -> CandRows) ++
      bucket.expected.toSeq.sortBy(_._1).map { case (c, (n, _)) => s"${c}_rows" -> n }
  }

  private def check(): OpRes = {
    val bad = bucket.expected.toSeq.sortBy(_._1).flatMap { case (c, want) =>
      val got = Checksum.of(spark.read.parquet(s"$out/$c"), components(c))
      if (got == want) None else Some(s"$c (rows, checksum) $got != $want")
    }
    OpRes("cycle", 0.0, 0.0, bad.isEmpty, bad.mkString("; "))
  }

  def step(tr: Tracer, i: Int): OpRes = {
    tr.cycle = i
    val (_, secs, cpu) = Clock.measure(tr.span("cycle", "harness", i) {
      val r = tr.span("operators.Pipeline.run", "operators") {
        Pipeline.run(spark, spec, "cycle", Map("bucket" -> bucket.dir))
      }
      require(r.components.keySet == components.keySet,
        s"pipeline built ${r.components.keySet}")
      r.components.toSeq.sortBy(_._1).foreach { case (c, df) =>
        tr.span("operators.components.write", "operators") {
          df.write.mode("overwrite").parquet(s"$out/$c")
        }
      }
    })
    if (tr.enabled) probeSources(tr)
    check().copy(seconds = secs, cpuSeconds = cpu)
  }

  /** Calls the sources layer directly, outside the timed cycle: each
    * planned file's load (header inference) and a full decode of it. */
  private def probeSources(tr: Tracer): Unit =
    bucket.planned.foreach { p =>
      val (_, df) = tr.span("sources.RawTable.load", "sources") { RawTable.load(spark, p) }
      tr.span("sources.decode", "sources") {
        df.write.format("noop").mode("overwrite").save()
      }
    }

  /** Cycle times halve over the first cycles as the JIT compiles the
    * decode and parse paths; six are untimed. */
  def warmupOps: Int = 6

  def report(ops: Seq[OpRes]): Seq[(String, Double, String, String)] = {
    val t = ops.map(_.seconds)
    Seq(
      ("ingest_mb_per_s", bucket.decodedBytes / Main.MB * t.size / t.sum, "MB/s",
        "decoded input"),
      ("ingest_cycle_p50_s", Stats.median(t), "s", s"n=${t.size}"))
  }

  def layers(tr: Tracer, ops: Seq[OpRes]): Map[String, Double] = {
    val cycles = tr.opRoots.map(_.cycle).toSet
    def perCycle(name: String, f: Seq[Span] => Double): Double =
      Stats.median(cycles.toSeq.map(c => f(tr.named(name).filter(_.cycle == c))))
    Map(
      "sources.load_construct_s" -> perCycle("sources.RawTable.load", _.map(_.seconds).sum),
      "sources.decode_s" -> perCycle("sources.decode", _.map(_.seconds).sum),
      "sources.max_task_s" -> perCycle("sources.decode",
        ss => (ss.flatMap(tr.tasksUnder).map(_.durMs) :+ 0L).max / 1e3),
      "sources.read_amp" ->
        Stats.median(tr.opRoots.map(_.fs.bytesRead.toDouble / bucket.archiveBytes)),
      "operators.components_s" -> perCycle("operators.components.write", _.map(_.seconds).sum))
  }
}
