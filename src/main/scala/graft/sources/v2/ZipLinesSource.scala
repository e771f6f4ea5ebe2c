package graft.sources.v2

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.Charset
import java.util
import java.util.zip.ZipInputStream

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 for zip archives of text: `spark.read.format("ziplines")
  * .option("charset", "UTF-16").load(pathOrGlob)` yields one row per
  * text line with provenance columns (archive path + entry name) for
  * downstream per-file dispatch.
  *
  * Why a V2 source and not just [[graft.sources.ZipSource]] (which stays
  * as the programmatic path): the V2 surface gives the planner real
  * metadata — one InputPartition per ENTRY (planned from the archive's
  * central directory, read without touching the body; whole-archive
  * streaming is the fallback for zip64/odd archives), column pruning
  * pushed into the reader (a `value`-only projection never materializes
  * path/entry strings per line), and a proper `BatchScan` node in
  * explain plans. A 1 000-entry archive scans on 1 000 cores instead
  * of one.
  * Decode is streaming (`FSDataInputStream → ZipInputStream →
  * BufferedReader`): constant memory, no `binaryFile` 2 GB limit —
  * the reference's `unzip -p | iconv` pipe as a planned scan.
  *
  * Reference: S4/S5 (`bin/fetcher.bash:96,120`).
  */
class ZipLinesSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "ziplines"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ZipLines.fullSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new ZipLinesTable(properties.asScala.toMap)
}

object ZipLines {
  val fullSchema: StructType = StructType(Seq(
    StructField("value", StringType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("entry", StringType, nullable = false)))

  /** Paths arrive from DataFrameReader as `path` (single load arg) or
    * `paths` (a JSON-encoded string array for multi-arg load — written
    * by Spark with an ObjectMapper, so it must be parsed as real JSON:
    * a naive bracket-strip + split(',') would shred any path containing
    * a comma or an escaped quote into fragments that silently glob to
    * nothing). */
  private[v2] def requestedPaths(props: Map[String, String]): Seq[String] = {
    val multi = props.get("paths").toSeq.flatMap { json =>
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(json, classOf[Array[String]]).toSeq
    }
    val single = props.get("path").toSeq
    (multi ++ single).distinct
  }

  /** Driver-side path resolution: globs expand, directories list their
    * .zip members, literal files pass through. */
  private[v2] def resolve(paths: Seq[String], conf: Configuration): Seq[String] =
    paths.flatMap { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      val matched = Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Seq.empty)
      matched.flatMap { st =>
        if (st.isDirectory)
          fs.listStatus(st.getPath).toSeq.filterNot(_.isDirectory)
            .map(_.getPath.toString).filter(_.toLowerCase.endsWith(".zip"))
        else Seq(st.getPath.toString)
      }
    }.distinct.sorted
}

class ZipLinesTable(props: Map[String, String]) extends Table with SupportsRead {
  override def name(): String =
    s"ziplines(${ZipLines.requestedPaths(props).mkString(",")})"
  override def schema(): StructType = ZipLines.fullSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ZipLinesScanBuilder(props ++ options.asScala)
}

class ZipLinesScanBuilder(props: Map[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = ZipLines.fullSchema
  override def pruneColumns(requiredSchema: StructType): Unit =
    // keep only requested top-level fields (order preserved)
    required = requiredSchema
  override def build(): Scan = {
    val spark = SparkSession.active
    val hadoopConf = spark.sessionState.newHadoopConf()
    val confMap = hadoopConf.iterator().asScala
      .map(e => e.getKey -> e.getValue).toMap
    val files = ZipLines.resolve(ZipLines.requestedPaths(props), hadoopConf)
    ZipLinesScan(files, props.getOrElse("charset", "UTF-8"), required, confMap)
  }
}

/** Whole-archive partition (fallback when the central directory cannot
  * be parsed: zip64, malformed EOCD, unseekable stream). */
final case class ZipFilePartition(path: String) extends InputPartition

/** Single-entry partition: the archive's central directory gave us the
  * local-header offset and compressed extent, so this entry inflates
  * independently of its siblings — entry-level parallelism for
  * multi-entry archives, which is the true scale unit of a
  * non-splittable container format. */
final case class ZipEntryPartition(path: String, entry: String,
                                   localHeaderOffset: Long, method: Int,
                                   compressedSize: Long) extends InputPartition

object CentralDirectory {
  private val EOCD_SIG = 0x06054b50
  private val CEN_SIG = 0x02014b50

  /** Parse (entryName, localHeaderOffset, method, compressedSize) for
    * every non-directory entry, or None when the directory cannot be
    * trusted (zip64 sentinel values, missing EOCD, >64K-comment edge,
    * a directory extent that overruns the EOCD).
    * Only the final ~64 KB and the central directory are read — not the
    * archive body. */
  def entries(path: Path, conf: Configuration): Option[Seq[(String, Long, Int, Long)]] = {
    val fs = path.getFileSystem(conf)
    val len = fs.getFileStatus(path).getLen
    val in = fs.open(path)
    try {
      val tailLen = math.min(len, 65557L).toInt // EOCD(22) + max comment
      val tail = new Array[Byte](tailLen)
      in.readFully(len - tailLen, tail, 0, tailLen)
      def u16(a: Array[Byte], o: Int): Int =
        (a(o) & 0xFF) | ((a(o + 1) & 0xFF) << 8)
      def u32(a: Array[Byte], o: Int): Long =
        (a(o) & 0xFFL) | ((a(o + 1) & 0xFFL) << 8) |
          ((a(o + 2) & 0xFFL) << 16) | ((a(o + 3) & 0xFFL) << 24)
      // scan backwards for the EOCD signature
      var i = tailLen - 22
      while (i >= 0 && u32(tail, i) != (EOCD_SIG & 0xFFFFFFFFL)) i -= 1
      if (i < 0) return None
      val nEntries = u16(tail, i + 10)
      val cdSize = u32(tail, i + 12)
      val cdOffset = u32(tail, i + 16)
      if (nEntries == 0xFFFF || cdOffset == 0xFFFFFFFFL || cdSize == 0xFFFFFFFFL)
        return None // zip64 — fall back to streaming
      // the directory must end at or before the EOCD record itself: a
      // corrupt tail would otherwise size the buffer below (up to 4 GB,
      // or negative past Int.MaxValue) from an untrusted u32
      if (cdOffset + cdSize > len - tailLen + i) return None
      val cd = new Array[Byte](cdSize.toInt)
      in.readFully(cdOffset, cd, 0, cdSize.toInt)
      val out = Seq.newBuilder[(String, Long, Int, Long)]
      var o = 0
      var k = 0
      while (k < nEntries) {
        if (o + 46 > cd.length || u32(cd, o) != (CEN_SIG & 0xFFFFFFFFL)) return None
        val flags = u16(cd, o + 8)
        if ((flags & 0x1) != 0) return None // encrypted entry: the raw
        // seek-and-inflate reader would emit garbage — fall back to
        // ZipInputStream, which raises a clear unsupported-entry error.
        val method = u16(cd, o + 10)
        val csize = u32(cd, o + 20)
        val nameLen = u16(cd, o + 28)
        val extraLen = u16(cd, o + 30)
        val commentLen = u16(cd, o + 32)
        val lho = u32(cd, o + 42)
        if (csize == 0xFFFFFFFFL || lho == 0xFFFFFFFFL) return None // zip64
        if (method != 0 && method != 8) return None // stored/deflate only
        val name = new String(cd, o + 46, nameLen, java.nio.charset.StandardCharsets.UTF_8)
        if (!name.endsWith("/")) out += ((name, lho, method, csize))
        o += 46 + nameLen + extraLen + commentLen
        k += 1
      }
      Some(out.result())
    } catch {
      case _: Exception => None
    } finally in.close()
  }
}

final case class ZipLinesScan(files: Seq[String], charsetName: String,
                              required: StructType,
                              confMap: Map[String, String])
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"ziplines ${files.size} archives, charset=$charsetName"
  override def planInputPartitions(): Array[InputPartition] = {
    val conf = new Configuration(false)
    confMap.foreach { case (k, v) => conf.set(k, v) }
    files.flatMap { f =>
      CentralDirectory.entries(new Path(f), conf) match {
        case Some(es) if es.nonEmpty =>
          es.map { case (name, lho, method, csize) =>
            ZipEntryPartition(f, name, lho, method, csize): InputPartition
          }
        case Some(_) => Seq.empty // archive holds only directories
        case None => Seq(ZipFilePartition(f): InputPartition)
      }
    }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    ZipLinesReaderFactory(charsetName, required.fieldNames, confMap)
}

final case class ZipLinesReaderFactory(charsetName: String,
                                       fields: Array[String],
                                       confMap: Map[String, String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case ZipFilePartition(path) =>
        new ZipLinesPartitionReader(path, charsetName, fields, confMap)
      case e: ZipEntryPartition =>
        new ZipEntryPartitionReader(e, charsetName, fields, confMap)
    }
}

/** Streams the lines of ONE entry, located via its central-directory
  * record: seek to the local header, skip it (the LOCAL name/extra
  * lengths, which may differ from the central ones), then read exactly
  * `compressedSize` bytes through an Inflater (raw deflate) or plain
  * (stored). Sizes come from the central directory, so archives written
  * with streaming data descriptors (local sizes zeroed) work. */
final class ZipEntryPartitionReader(part: ZipEntryPartition, charsetName: String,
                                    fields: Array[String],
                                    confMap: Map[String, String])
    extends PartitionReader[InternalRow] {
  private val conf = {
    val c = new Configuration(false)
    confMap.foreach { case (k, v) => c.set(k, v) }
    c
  }
  private val pathUtf8 = UTF8String.fromString(part.path)
  private val entryUtf8 = UTF8String.fromString(part.entry)
  private val in = {
    val hp = new Path(part.path)
    val s = hp.getFileSystem(conf).open(hp)
    s.seek(part.localHeaderOffset)
    val lh = new Array[Byte](30)
    s.readFully(part.localHeaderOffset, lh, 0, 30)
    def u16(o: Int): Int = (lh(o) & 0xFF) | ((lh(o + 1) & 0xFF) << 8)
    val skip = 30 + u16(26) + u16(28) // header + local name + local extra
    s.seek(part.localHeaderOffset + skip)
    s
  }
  private val bounded = new java.io.InputStream {
    private var remaining = part.compressedSize
    override def read(): Int =
      if (remaining <= 0) -1
      else { val b = in.read(); if (b >= 0) remaining -= 1; b }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (remaining <= 0) -1
      else {
        val n = in.read(b, off, math.min(len.toLong, remaining).toInt)
        if (n > 0) remaining -= n
        n
      }
  }
  private val reader = new BufferedReader(new InputStreamReader(
    if (part.method == 8)
      new java.util.zip.InflaterInputStream(bounded, new java.util.zip.Inflater(true))
    else bounded,
    Charset.forName(charsetName)))
  private var line: String = _

  override def next(): Boolean = { line = reader.readLine(); line != null }

  override def get(): InternalRow = {
    val values = fields.map {
      case "value" => UTF8String.fromString(line)
      case "path"  => pathUtf8
      case "entry" => entryUtf8
      case other   => throw new IllegalArgumentException(s"unknown column $other")
    }
    new GenericInternalRow(values.asInstanceOf[Array[Any]])
  }

  override def close(): Unit = { reader.close(); in.close() }
}

/** Streams all lines of all entries of ONE archive; emits only the
  * pruned columns. Constant memory: one entry reader open at a time. */
final class ZipLinesPartitionReader(path: String, charsetName: String,
                                    fields: Array[String],
                                    confMap: Map[String, String])
    extends PartitionReader[InternalRow] {
  private val conf = {
    val c = new Configuration(false)
    confMap.foreach { case (k, v) => c.set(k, v) }
    c
  }
  private val cs = Charset.forName(charsetName)
  private val pathUtf8 = UTF8String.fromString(path)
  private val zin = new ZipInputStream(new Path(path).getFileSystem(conf).open(new Path(path)))
  private var reader: BufferedReader = _
  private var entryName: UTF8String = _
  private var line: String = _

  override def next(): Boolean = {
    while (true) {
      if (reader != null) {
        line = reader.readLine()
        if (line != null) return true
        reader = null
      }
      val entry = zin.getNextEntry
      if (entry == null) return false
      if (!entry.isDirectory) {
        entryName = UTF8String.fromString(entry.getName)
        reader = new BufferedReader(new InputStreamReader(zin, cs))
      }
    }
    false
  }

  override def get(): InternalRow = {
    val values = fields.map {
      case "value" => UTF8String.fromString(line)
      case "path"  => pathUtf8
      case "entry" => entryName
      case other   => throw new IllegalArgumentException(s"unknown column $other")
    }
    new GenericInternalRow(values.asInstanceOf[Array[Any]])
  }

  override def close(): Unit = zin.close()
}
