package graft.sources

import java.io.{BufferedReader, InputStream, InputStreamReader}
import java.nio.charset.Charset
import java.util.zip.GZIPInputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}

/** POSIX ustar (tar) ingestion — the archive format crawl dumps and
  * dataset distributions actually ship in (WebDataset shards, raw
  * *.tar.gz drops), beside [[ZipSource]]'s reference-mandated zip
  * path. Same design points: tar is not splittable, so one task owns
  * one archive and streams
  * `FSDataInputStream → (GZIPInputStream) → header walk → lines` at
  * constant memory, each archive its own partition with no shuffle
  * ([[PathTasks]]); callers repartition after parse.
  *
  * The header walk is hand-written from the ustar layout (IEEE 1003.1:
  * 512-byte blocks; name at 0..99 NUL-terminated, size as octal at
  * 124..135, typeflag at 156, magic "ustar" at 257; member data
  * NUL-padded to the block boundary; two zero blocks terminate) with
  * the house total-parser discipline: the per-header CHECKSUM (byte
  * sum with the checksum field read as spaces, offset 148..155) is
  * VERIFIED and any mismatch, truncated member, or non-octal size
  * fails LOUDLY with the archive path — a silently mis-framed member
  * would otherwise shear every following line. Member names honor the
  * ustar PREFIX field (offset 345, 155 bytes, joined with '/') when
  * the magic says ustar, so paths up to 255 bytes key correctly; a
  * GNU 'L'/'K' long-name extension member fails LOUDLY instead of
  * being skipped — skipping it would hand the NEXT member a silently
  * truncated name, mis-keying WebDataset rows with no error (the same
  * shear-class bug the checksum guard exists for). Other non-regular
  * members (directories, links, PAX metadata blocks) are skipped
  * whole, so archives with metadata blocks still stream their files.
  * Gzip wrapping is detected by extension (.tar.gz/.tgz) and handled
  * by the JDK inflater.
  *
  * Stream lifetime: the archive input stream closes at EOF on the
  * happy path, and a task-completion listener
  * ([[PathTasks.closeOnTaskEnd]]) closes it regardless —
  * a downstream `limit`/take that abandons the iterator mid-archive
  * must not leak the FSDataInputStream for the executor's lifetime
  * (the Deflater-cleanup precedent in TextAnalysis.compressionRatios;
  * close() is idempotent, so the double-close at EOF is harmless).
  *
  * Line semantics mirror [[ZipSource.lines]]: members concatenate in
  * archive order, each member decoded with a fresh reader (so a
  * per-member UTF-16 BOM is honored), the first member's header line
  * is the table header and later members' lines are all data. */
object TarSource {

  private val Block = 512

  def lines(spark: SparkSession, paths: Seq[String], charset: Charset)
      : Dataset[String] = {
    val charsetName = charset.name() // Charset itself is not serializable
    spark.createDataset(PathTasks.flatMap(spark, paths) { (p, conf) =>
      val raw = open(p, conf)
      PathTasks.closeOnTaskEnd(raw)
      memberLines(raw, Charset.forName(charsetName), p)
    })(Encoders.STRING)
  }

  /** The first non-blank line [[lines]] yields for these archives, read
    * on the driver from the same member walk: the header of the table
    * they hold. */
  def header(spark: SparkSession, paths: Seq[String], charset: Charset)
      : Option[String] =
    PathTasks.firstLine(spark, paths) { (p, conf) =>
      val raw = open(p, conf)
      try memberLines(raw, charset, p) -> raw
      catch { case e: Throwable => raw.close(); throw e }
    }

  /** Binary members of each archive as (archive, name, content) rows —
    * the WebDataset shape (image/audio/text files tar'd into shards)
    * feeding the [[graft.operators.Multimodal]] decoders. Unlike the
    * line path this MATERIALIZES each member (a decoder needs the
    * whole byte string), so `maxMemberBytes` bounds the per-row
    * allocation LOUDLY — a multi-GB member is a sharding bug upstream,
    * not something to buffer quietly. Same framing rigor as
    * [[lines]]: verified checksums, non-regular members skipped. */
  def members(spark: SparkSession, paths: Seq[String],
              maxMemberBytes: Long = 64L << 20)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    // a cap above Int.MaxValue would let size.toInt wrap on a >2 GiB
    // member and mis-frame instead of raising the designed message —
    // JVM byte arrays are int-indexed, so the cap cannot exceed it
    require(maxMemberBytes <= Int.MaxValue,
      s"maxMemberBytes $maxMemberBytes exceeds Int.MaxValue — a tar " +
        "member materializes as one JVM byte array, which is int-indexed")
    spark.createDataset(PathTasks.flatMap(spark, paths) { (p, conf) =>
      val raw = open(p, conf)
      PathTasks.closeOnTaskEnd(raw)
      memberBytes(raw, p, maxMemberBytes).map { case (n, b) => (p, n, b) }
    }).toDF("archive", "name", "content")
  }

  /** An archive's byte stream, gunzipped when the extension says so. */
  private def open(p: String, conf: Configuration): InputStream = {
    val hPath = new Path(p)
    val fs = hPath.getFileSystem(conf)
    ArchiveStreamAudit.wrap(
      if (p.endsWith(".gz") || p.endsWith(".tgz"))
        new GZIPInputStream(fs.open(hPath))
      else fs.open(hPath))
  }

  /** Iterator over (name, content) of all regular members. The framing
    * walk mirrors [[memberLines]]; kept separate because this path
    * materializes while that one streams. */
  private[sources] def memberBytes(in: InputStream, ctx: String,
                                   maxBytes: Long)
      : Iterator[(String, Array[Byte])] =
    new Iterator[(String, Array[Byte])] {
      private val header = new Array[Byte](Block)
      private var done = false
      private var nextM: (String, Array[Byte]) = advance()

      private def readFully(buf: Array[Byte], len: Int): Boolean = {
        var off = 0
        while (off < len) {
          val n = in.read(buf, off, len - off)
          if (n < 0) return false
          off += n
        }
        true
      }

      private def octal(from: Int, len: Int): Long = {
        var i = from; val end = from + len; var v = 0L; var seen = false
        while (i < end) {
          val b = header(i) & 0xFF
          if (b >= '0' && b <= '7') { v = v * 8 + (b - '0'); seen = true }
          else if (b != ' ' && b != 0)
            throw new IllegalArgumentException(
              s"$ctx: non-octal byte 0x${b.toHexString} in tar numeric " +
                s"field at header offset $i")
          i += 1
        }
        if (!seen) throw new IllegalArgumentException(
          s"$ctx: empty tar numeric field at header offset $from")
        v
      }

      private def skipFully(n: Long): Unit = {
        var left = n
        while (left > 0) {
          val s = in.skip(left)
          if (s <= 0) {
            if (in.read() < 0) throw new IllegalArgumentException(
              s"$ctx: truncated tar member data")
            left -= 1
          } else left -= s
        }
      }

      private def advance(): (String, Array[Byte]) = {
        while (!done) {
          if (!readFully(header, Block)) { done = true; in.close(); return null }
          if (header.forall(_ == 0)) { done = true; in.close(); return null }
          var sum = 0L; var i = 0
          while (i < Block) {
            sum += (if (i >= 148 && i < 156) ' '.toInt else header(i) & 0xFF)
            i += 1
          }
          val stored = octal(148, 8)
          if (sum != stored) throw new IllegalArgumentException(
            s"$ctx: tar header checksum mismatch (computed $sum, " +
              s"stored $stored) — refusing to guess at member framing")
          val size = octal(124, 12)
          val typeflag = header(156)
          val pad = (Block - (size % Block)) % Block
          // GNU long-name/long-link extension: skipping it would hand
          // the NEXT member a silently truncated name — mis-keyed rows
          // with no error. Refuse loudly (the checksum discipline).
          if (typeflag == 'L' || typeflag == 'K')
            throw new IllegalArgumentException(
              s"$ctx: GNU long-name tar extension (typeflag " +
                s"'${typeflag.toChar}') is not supported — repack with " +
                "POSIX ustar paths (name 100 + prefix 155 bytes)")
          if (typeflag == '0' || typeflag == 0) {
            if (size > maxBytes) throw new IllegalArgumentException(
              s"$ctx: tar member of $size bytes exceeds maxMemberBytes " +
                s"$maxBytes — shard the archive upstream")
            var end = 0
            while (end < 100 && header(end) != 0) end += 1
            val base = new String(header, 0, end,
              java.nio.charset.StandardCharsets.US_ASCII)
            // ustar prefix field (offset 345, 155 bytes): the POSIX
            // home of path bytes beyond the 100-char name field —
            // ignoring it would truncate long member paths silently.
            // STRICT POSIX magic only ("ustar\0" + version "00"):
            // old-GNU archives share the 'ustar' prefix ("ustar  \0")
            // but put atime/ctime at offset 345, so honoring the
            // prefix there would prepend garbage bytes to the name —
            // the silent mis-keying this field exists to prevent
            val ustar = header(257) == 'u' && header(258) == 's' &&
              header(259) == 't' && header(260) == 'a' && header(261) == 'r' &&
              header(262) == 0 && header(263) == '0' && header(264) == '0'
            var pEnd = 345
            while (pEnd < 500 && header(pEnd) != 0) pEnd += 1
            val name =
              if (ustar && pEnd > 345)
                new String(header, 345, pEnd - 345,
                  java.nio.charset.StandardCharsets.US_ASCII) + "/" + base
              else base
            val data = new Array[Byte](size.toInt)
            if (!readFully(data, data.length))
              throw new IllegalArgumentException(
                s"$ctx: truncated tar member data")
            skipFully(pad)
            return (name, data)
          } else {
            skipFully(size); skipFully(pad)
          }
        }
        null
      }

      def hasNext: Boolean = nextM != null
      def next(): (String, Array[Byte]) = {
        val m = nextM; nextM = advance(); m
      }
    }

  /** Iterator over the text lines of all regular members, streaming. */
  private[sources] def memberLines(in: InputStream, cs: Charset,
                                   ctx: String): Iterator[String] =
    new Iterator[String] {
      private val header = new Array[Byte](Block)
      private var reader: BufferedReader = _
      private var bounded: BoundedIn = _
      private var done = false
      private var nextLine: String = advance()

      private def readFully(buf: Array[Byte]): Boolean = {
        var off = 0
        while (off < buf.length) {
          val n = in.read(buf, off, buf.length - off)
          if (n < 0) return false
          off += n
        }
        true
      }

      private def octal(from: Int, len: Int): Long = {
        var i = from
        val end = from + len
        var v = 0L
        var seen = false
        while (i < end) {
          val b = header(i) & 0xFF
          if (b >= '0' && b <= '7') { v = v * 8 + (b - '0'); seen = true }
          else if (b != ' ' && b != 0)
            throw new IllegalArgumentException(
              s"$ctx: non-octal byte 0x${b.toHexString} in tar numeric " +
                s"field at header offset $i")
          i += 1
        }
        if (!seen) throw new IllegalArgumentException(
          s"$ctx: empty tar numeric field at header offset $from")
        v
      }

      private def skipFully(n: Long): Unit = {
        var left = n
        while (left > 0) {
          val s = in.skip(left)
          if (s <= 0) {
            if (in.read() < 0) throw new IllegalArgumentException(
              s"$ctx: truncated tar member data")
            left -= 1
          } else left -= s
        }
      }

      private def advance(): String = {
        while (true) {
          if (reader != null) {
            val l = reader.readLine()
            if (l != null) return l
            // member exhausted: consume padding to the block boundary
            val size = bounded.total
            skipFully(bounded.remaining)
            val pad = (Block - (size % Block)) % Block
            skipFully(pad)
            reader = null; bounded = null
          }
          if (done) return null
          if (!readFully(header)) {
            // EOF without the zero terminator: accept (gzip streams
            // from some writers truncate the final padding)
            done = true; in.close(); return null
          }
          if (header.forall(_ == 0)) { done = true; in.close(); return null }
          // checksum: byte sum with the checksum field as spaces
          var sum = 0L
          var i = 0
          while (i < Block) {
            sum += (if (i >= 148 && i < 156) ' '.toInt
                    else header(i) & 0xFF)
            i += 1
          }
          val stored = octal(148, 8)
          if (sum != stored) throw new IllegalArgumentException(
            s"$ctx: tar header checksum mismatch (computed $sum, " +
              s"stored $stored) — refusing to guess at member framing")
          val size = octal(124, 12)
          val typeflag = header(156)
          // same loud GNU long-name refusal as memberBytes — the lines
          // path ignores names, but one walk silently tolerating what
          // the other refuses would make the object doc a lie
          if (typeflag == 'L' || typeflag == 'K')
            throw new IllegalArgumentException(
              s"$ctx: GNU long-name tar extension (typeflag " +
                s"'${typeflag.toChar}') is not supported — repack with " +
                "POSIX ustar paths (name 100 + prefix 155 bytes)")
          if (typeflag == '0' || typeflag == 0) {
            bounded = new BoundedIn(in, size)
            reader = new BufferedReader(new InputStreamReader(bounded, cs))
          } else {
            // non-regular member (dir/link/PAX/GNU block): skip whole
            skipFully(size)
            skipFully((Block - (size % Block)) % Block)
          }
        }
        null
      }

      def hasNext: Boolean = nextLine != null
      def next(): String = { val l = nextLine; nextLine = advance(); l }
    }

  /** An InputStream window of exactly `total` bytes — lets a member's
    * reader see EOF at the member boundary while the underlying stream
    * stays positioned for the next header. */
  private[sources] final class BoundedIn(in: InputStream, val total: Long)
      extends InputStream {
    private var read0 = 0L
    def remaining: Long = total - read0
    override def read(): Int =
      if (read0 >= total) -1
      else {
        val b = in.read()
        if (b < 0) throw new IllegalArgumentException(
          "truncated tar member data")
        read0 += 1; b
      }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (read0 >= total) return -1
      val want = math.min(len.toLong, total - read0).toInt
      val n = in.read(b, off, want)
      if (n < 0) throw new IllegalArgumentException(
        "truncated tar member data")
      read0 += n
      n
    }
  }
}
