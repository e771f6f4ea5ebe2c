package graft.sources

import java.io.{BufferedReader, Closeable, InputStreamReader}
import java.nio.charset.Charset
import java.util.zip.ZipInputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}

/** Zip ingestion (reference S4: `unzip -p $file` piped into `.import`,
  * `bin/fetcher.bash:96,120`).
  *
  * Spark has no native zip source, and zip is not splittable — one task
  * must own one archive. Two design points for 100 TB posture:
  *
  *  - **Streaming decode, constant memory**: we do NOT use the
  *    `binaryFile` format (it materializes the whole archive in one
  *    row, 2 GB hard limit). Instead the archive paths are parallelized
  *    one-per-partition and each task streams
  *    `FSDataInputStream → ZipInputStream → BufferedReader` line by
  *    line — the Spark analog of the reference's
  *    `unzip -p | iconv | …` Unix pipe, with the charset decode fused
  *    into the reader.
  *  - **No job to plan**: `parallelize(paths, paths.size)` gives each
  *    archive its own partition without a shuffle, and the header the
  *    parse needs is read on the driver ([[header]], [[textHeader]])
  *    from the same line iterator the tasks stream, so building a
  *    loaded frame runs nothing. Downstream parallelism is one task per
  *    archive until the first shuffle of the parsed result.
  */
object ZipSource {

  /** All text lines of every entry of each archive, decoded with the
    * given charset. One input partition per archive (zip is not
    * splittable); the header line of the FIRST entry is kept and
    * subsequent entries' first lines are kept too (reference semantics:
    * `unzip -p` concatenates entries; NC archives hold a single file). */
  def lines(spark: SparkSession, paths: Seq[String], charset: Charset): Dataset[String] =
    charsetLines(spark, paths, charset, zipped = true)

  /** Charset-aware line reader for plain (non-zip) files. Needed
    * because Spark's `text` source silently IGNORES any encoding
    * option — it is UTF-8 only — so LATIN1/UTF-16 sources that must be
    * line-repaired before parsing cannot go through it. Same streaming
    * decode as the zip path, minus the ZipInputStream. */
  def textLines(spark: SparkSession, paths: Seq[String], charset: Charset): Dataset[String] =
    charsetLines(spark, paths, charset, zipped = false)

  /** The first non-blank line [[lines]] yields for these archives, read
    * on the driver: the header of the table they hold. */
  def header(spark: SparkSession, paths: Seq[String], charset: Charset): Option[String] =
    PathTasks.firstLine(spark, paths)(open(_, _, charset, zipped = true))

  /** The first non-blank line [[textLines]] yields, read on the driver. */
  def textHeader(spark: SparkSession, paths: Seq[String], charset: Charset): Option[String] =
    PathTasks.firstLine(spark, paths)(open(_, _, charset, zipped = false))

  private def charsetLines(spark: SparkSession, paths: Seq[String],
                           charset: Charset, zipped: Boolean): Dataset[String] = {
    val charsetName = charset.name() // Charset itself is not serializable
    spark.createDataset(PathTasks.flatMap(spark, paths) { (p, conf) =>
      val (lines, stream) = open(p, conf, Charset.forName(charsetName), zipped)
      PathTasks.closeOnTaskEnd(stream)
      lines
    })(Encoders.STRING)
  }

  /** One path's decoded lines, streaming, and the stream to close. The
    * iterator closes it at EOF; a reader that stops early closes it, and
    * a failure to read the first line closes it here. */
  private def open(p: String, conf: Configuration, cs: Charset,
                   zipped: Boolean): (Iterator[String], Closeable) = {
    val hPath = new Path(p)
    val in = ArchiveStreamAudit.wrap(hPath.getFileSystem(conf).open(hPath))
    try if (!zipped) {
      val reader = new BufferedReader(new InputStreamReader(in, cs))
      new Iterator[String] {
        private var nextLine: String = reader.readLine()
        def hasNext: Boolean = nextLine != null
        def next(): String = {
          val l = nextLine
          nextLine = reader.readLine()
          if (nextLine == null) reader.close()
          l
        }
      } -> reader
    } else {
      val zin = new ZipInputStream(in)
      // Iterator over all lines of all entries, streaming.
      new Iterator[String] {
        private var reader: BufferedReader = _
        private var nextLine: String = advance()
        private def advance(): String = {
          while (true) {
            if (reader != null) {
              val l = reader.readLine()
              if (l != null) return l
              reader = null
            }
            val entry = zin.getNextEntry
            if (entry == null) { zin.close(); return null }
            if (!entry.isDirectory)
              reader = new BufferedReader(new InputStreamReader(zin, cs))
          }
          null
        }
        def hasNext: Boolean = nextLine != null
        def next(): String = {
          val l = nextLine; nextLine = advance(); l
        }
      } -> zin
    } catch { case e: Throwable => in.close(); throw e }
  }
}
