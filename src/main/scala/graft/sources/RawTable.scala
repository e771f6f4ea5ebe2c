package graft.sources

import java.nio.charset.Charset

import com.univocity.parsers.csv.CsvParser
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions.{col, from_csv}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import scala.util.matching.Regex

/** Per-file format dispatch + delimited parse & load — the reference's
  * ingest core (reference: `ItemCmds`, `bin/fetcher.bash:90-122`): choose
  * {separator, encoding, decompressor, repair filter, extra columns} by
  * filename pattern, then parse first-row-header delimited text into an
  * all-string table.
  *
  * Ordering constraint (SURVEY.md §7.4): repair must run on decoded
  * lines *before* CSV parsing, so the dirty-source path is
  * bytes → charset decode → lines → repair → `from_csv` ([[parseLines]]).
  * Clean sources skip the line detour and use the one-shot
  * `spark.read.csv(path)` so Catalyst keeps pushdown on the scan.
  * Either way the header is read on the driver and the schema built
  * from it ([[headerSchema]]), so loading a file plans without a job.
  *
  * All columns load as StringType (`inferSchema=false`) reproducing the
  * reference's all-TEXT semantics; typing happens downstream in
  * component projections.
  */
/** @param quoted whether the parser performs CSV quote processing.
  *   The reference imports tab-separated sources in sqlite `.mode tabs`,
  *   which is QUOTE-BLIND (quotes are ordinary bytes) — only the
  *   `.mode csv` path (Candidate_Listing) interprets quoting. Default
  *   false, mirroring the reference's default tabs mode. */
final case class SourceSpec(
    sep: String = "\t",
    encoding: String = "UTF-8",
    zipped: Boolean = false,
    repair: Boolean = false,
    extraNullColumns: Seq[String] = Nil,
    quoted: Boolean = false)

object RawTable {

  /** The reference's dispatch table (`bin/fetcher.bash:98-118`),
    * expressed as ordered (pattern → spec); first match wins, default is
    * clean UTF-8 TSV. VR snapshots are UTF-16 except 2005-2007 vintages
    * — the reference tests the segment after the LAST underscore
    * (`${base##*_}`, `bin/fetcher.bash:107-110`), so the vintage rule
    * anchors on the final `_`-delimited token (`[^_]*\.zip$` forbids a
    * later underscore), not on the prefix: `VR_Snapshot_NC_20060101.zip`
    * is a 2006 vintage. */
  val referenceDispatch: Seq[(Regex, SourceSpec)] = Seq(
    "^Candidate_Listing_.*\\.csv$".r ->
      SourceSpec(sep = ",", encoding = "ISO-8859-1", repair = true,
        extraNullColumns = Seq("email"), quoted = true),
    "^VR_Snapshot_(.*_)?200[567][^_]*\\.zip$".r ->
      SourceSpec(encoding = "ISO-8859-1", zipped = true, repair = true),
    "^VR_Snapshot_.*\\.zip$".r ->
      SourceSpec(encoding = "UTF-16", zipped = true, repair = true),
    "^ncvoter_Statewide\\.zip$".r ->
      SourceSpec(encoding = "ISO-8859-1", zipped = true),
    "^ncvhis_Statewide\\.zip$".r ->
      SourceSpec(encoding = "ISO-8859-1", zipped = true),
  )

  def dispatch(fileName: String,
               registry: Seq[(Regex, SourceSpec)] = referenceDispatch): SourceSpec =
    registry.collectFirst {
      case (re, spec) if re.findFirstIn(fileName).isDefined => spec
    }.getOrElse(SourceSpec())

  /** Table-name derivation (reference S8, `bin/fetcher.bash:92-94`):
    * basename, strip everything from the first dot, lowercase. */
  def tableName(path: String): String = {
    val base = path.substring(path.lastIndexOf('/') + 1)
    val dot = base.indexOf('.')
    (if (dot >= 0) base.substring(0, dot) else base).toLowerCase
  }

  /** Parser options shared by the header tokenizer, `from_csv` and the
    * clean-path reader. */
  private def csvOptions(spec: SourceSpec): Map[String, String] = Map(
    "sep" -> spec.sep,
    "mode" -> "PERMISSIVE",
    // empty quote char = quote-blind parse (sqlite .mode tabs fidelity)
    "quote" -> (if (spec.quoted) "\"" else ""))

  /** The all-string schema Spark's CSV reader infers from a header line
    * with `inferSchema=false`, built on the driver without a job: the
    * line tokenized with the spec's parser settings, then named by
    * `CSVUtils.makeSafeHeader` (an empty name becomes `_c<i>`, a
    * duplicate gets its position appended). */
  private def headerSchema(spark: SparkSession, header: String, spec: SourceSpec): StructType = {
    val conf = spark.sessionState.conf
    val options = new CSVOptions(csvOptions(spec) + ("header" -> "true"),
      true, conf.sessionLocalTimeZone)
    Option(new CsvParser(options.asParserSettings).parseLine(header)).fold(new StructType()) {
      tokens => StructType(CSVUtils.makeSafeHeader(tokens, conf.caseSensitiveAnalysis, options)
        .map(StructField(_, StringType)).toIndexedSeq)
    }
  }

  /** Parse header-first delimited lines into an all-string DataFrame,
    * optionally repairing each line first. Used for the dirty path where
    * parsing can't be a one-shot file scan. `header` is the first
    * non-blank line of `lines` as read on the driver (e.g.
    * [[ZipSource.header]]); None means `lines` holds no non-blank line.
    *
    * Same rows as `spark.read.option("header", "true").csv(lines)`,
    * without its jobs: the header is repaired like every line, lines
    * that are blank by Java `trim` (as `CSVUtils.filterCommentAndEmpty`
    * drops them in a file scan) or equal to the header are dropped, and
    * the rest go through `from_csv` with the header's schema. The drop
    * is a typed filter: a column filter would be pushed below the repair
    * projection and re-evaluate the repair chain per reference. */
  def parseLines(spark: SparkSession, lines: Dataset[String], header: Option[String],
                 spec: SourceSpec): DataFrame = header match {
    case None => spark.emptyDataFrame
    case Some(raw) =>
      import spark.implicits._
      val h = if (spec.repair) TextRepair.repairString(raw) else raw
      val repaired: Dataset[String] =
        if (spec.repair) lines.select(TextRepair.repairLine(col("value")).as("value")).as[String]
        else lines
      val data = repaired.filter((l: String) => PathTasks.nonBlank(l) && l != h)
      val parsed = data
        .select(from_csv(col("value"), headerSchema(spark, h, spec), csvOptions(spec)).as("row"))
        .select("row.*")
      TextRepair.normalizeHeader(parsed)
  }

  /** Clean-path read with explicit malformed-row capture (the O4
    * fail-fast-vs-permissive choice made explicit): rows that fail to
    * parse land whole in `_corrupt_line` instead of being silently
    * nulled or aborting the job — auditable bad-row sink at scale. */
  def readCleanAudited(spark: SparkSession, path: String, spec: SourceSpec,
                       schema: StructType): DataFrame =
    spark.read
      .options(csvOptions(spec))
      .option("header", "true")
      .option("encoding", spec.encoding)
      .option("columnNameOfCorruptRecord", "_corrupt_line")
      .schema(schema.add("_corrupt_line", "string"))
      .csv(path)

  /** Clean-path read: one-shot file scan with reader options (keeps the
    * scan a single FileSourceScanExec with pushdown) and the schema of
    * `header`, the file's first non-blank line read on the driver
    * ([[ZipSource.textHeader]]), so the reader infers nothing. */
  def readClean(spark: SparkSession, path: String, header: Option[String],
                spec: SourceSpec): DataFrame = header match {
    case None => spark.emptyDataFrame
    case Some(h) =>
      val parsed = spark.read
        .options(csvOptions(spec))
        .option("header", "true")
        .option("encoding", spec.encoding)
        .schema(headerSchema(spark, h, spec))
        .csv(path)
      TextRepair.normalizeHeader(parsed)
  }

  /** Full per-file load honoring the dispatch spec: zip/charset/repair
    * path for dirty or compressed sources, one-shot scan otherwise, plus
    * load-time extra null columns (reference D1 `ALTER TABLE … ADD
    * COLUMN email`). Returns (tableName, all-string DataFrame). Every
    * branch reads its header on the driver and launches no job. */
  def load(spark: SparkSession, path: String,
           registry: Seq[(Regex, SourceSpec)] = referenceDispatch): (String, DataFrame) = {
    val fileName = path.substring(path.lastIndexOf('/') + 1)
    val spec = dispatch(fileName, registry)
    val charset = Charset.forName(spec.encoding)
    val paths = Seq(path)
    val base =
      if (spec.zipped)
        parseLines(spark, ZipSource.lines(spark, paths, charset),
          ZipSource.header(spark, paths, charset), spec)
      else if (spec.repair)
        // NOT spark.read.text: the text source is UTF-8 only (it
        // ignores encoding options), and repair must see decoded lines.
        parseLines(spark, ZipSource.textLines(spark, paths, charset),
          ZipSource.textHeader(spark, paths, charset), spec)
      else readClean(spark, path, ZipSource.textHeader(spark, paths, charset), spec)
    val withExtras = spec.extraNullColumns.foldLeft(base) { (df, c) =>
      graft.operators.Components.withNullColumn(df, c)
    }
    tableName(path) -> withExtras
  }
}
