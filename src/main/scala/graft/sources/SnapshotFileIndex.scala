package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Expression}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.core.SnapshotTable

/** Manifest-backed [[FileIndex]] for a [[graft.core.SnapshotTable]]
  * snapshot — the ONE place a snapshot read skips files. Spark's
  * planner hands every file-source scan's pushed-down data filters to
  * `listFiles`, and this index answers from the manifest's recorded
  * sections (`col=min:max` ranges, `col#...` categories, `col~...`
  * Blooms) through [[SnapshotTable.entryMayMatch]] instead of listing
  * a filesystem — the same data-skipping hook Delta's TahoeFileIndex
  * and Iceberg's planning use. A plain `.filter(col("k") === 42)` on
  * [[graft.core.SnapshotTable.read]] opens only the files whose
  * sections admit 42, with a live deletion vector too (the filter
  * lands on the data-side scan, below the tombstone anti-join). The
  * `scanPruned*` methods are that filtered read, and `pruneCounts*`
  * report [[kept]] for the filters of the same plan. The scan itself
  * stays Spark's native vectorized parquet reader (the pruning
  * composes with parquet's own row-group stats and Bloom filters
  * inside each kept file — three layers, one declarative filter).
  *
  * Every snapshot read plans through this index: reads, time travel,
  * the deletion-vector side of merge-on-read, and the commit paths'
  * read-backs of the files they just wrote.
  * The file list and sizes come from the MANIFEST (entries pin the
  * snapshot; `!bytes` sections carry lengths), so constructing and
  * scanning this index performs no per-file filesystem calls at all —
  * at 400k files that is the difference between a plan and a
  * 400k-HEAD-call listing. Entries from pre-size manifests fall back
  * to one `getFileStatus` each, once, at construction. The relation's
  * schema is [[dataSchema]]: one footer read on the driver, where
  * `spark.read.parquet` would launch a schema-inference job.
  *
  * Strictly a SUPERSET index: untranslatable filters and section-less
  * columns keep their files ([[SnapshotTable.entryMayMatch]]), and
  * Spark re-applies every filter row-level — pruning can only skip
  * files that cannot match, never change a result. */
final class SnapshotFileIndex(spark: SparkSession, rootP: Path,
                              val entries: Seq[String],
                              statuses: Map[String, FileStatus])
    extends FileIndex {

  override def rootPaths: Seq[Path] = Seq(rootP)

  override def partitionSchema: StructType = StructType(Nil)

  /** The entries that may hold rows matching every one of
    * `dataFilters` — the file-skipping decision of [[listFiles]], one
    * [[SnapshotTable.entryMayMatch]] call per entry. */
  def kept(dataFilters: Seq[Expression]): Seq[String] =
    dataFilters.reduceOption(And(_, _)).fold(entries)(f =>
      entries.filter(SnapshotTable.entryMayMatch(_, f)))

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
      : Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, kept(dataFilters)
      .map(e => statuses(SnapshotTable.entryPath(e))).toArray))

  override def inputFiles: Array[String] =
    entries.map(e => statuses(SnapshotTable.entryPath(e))
      .getPath.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = statuses.values.map(_.getLen).sum

  private def footer(entry: String,
                     filter: ParquetMetadataConverter.MetadataFilter)
      : ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(
      statuses(SnapshotTable.entryPath(entry)),
      spark.sessionState.newHadoopConf()), filter)

  /** The indexed files' schema as `spark.read.parquet` over the same
    * files infers it with schema merging off — the FIRST file decides —
    * but from one footer read on the driver instead of an inference
    * job: Spark's row-metadata key when the writer recorded it, else
    * the parquet schema converted under the session conf (both via
    * Spark's own `readSchemaFromFooter`), then made nullable, as every
    * file-source relation's data schema is. */
  def dataSchema: StructType = {
    val first = entries.head
    val schema = ParquetFileFormat.readSchemaFromFooter(
      new Footer(statuses(SnapshotTable.entryPath(first)).getPath,
        footer(first, ParquetMetadataConverter.SKIP_ROW_GROUPS)),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    SnapshotFileIndex.asNullable(schema).asInstanceOf[StructType]
  }

  /** Total rows of the indexed files, summed from their footers' row
    * groups — no scan, no job. */
  def rowCount: Long = entries.iterator.map(e =>
    footer(e, ParquetMetadataConverter.NO_FILTER).getBlocks.asScala
      .map(_.getRowCount).sum).sum
}

object SnapshotFileIndex {

  /** Spark's (package-private) `DataType.asNullable`: every struct
    * field, array element and map value becomes nullable. */
  private def asNullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(asNullable(a.elementType), containsNull = true)
    case m: MapType => MapType(asNullable(m.keyType), asNullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }

  /** Build the index for `entries` of the snapshot at `rootP` —
    * statuses synthesized from the manifest's recorded sizes (one
    * `getFileStatus` fallback per pre-size entry, nothing else touches
    * the filesystem). */
  def apply(spark: SparkSession, rootP: Path, entries: Seq[String])
      : SnapshotFileIndex = {
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statuses = entries.map { e =>
      val rel = SnapshotTable.entryPath(e)
      val p = fs.makeQualified(new Path(rootP, rel))
      val len = SnapshotTable.entryBytes(e)
        .getOrElse(fs.getFileStatus(p).getLen)
      rel -> new FileStatus(len, false, 1, 128L * 1024 * 1024, 0L, p)
    }.toMap
    new SnapshotFileIndex(spark, rootP, entries, statuses)
  }
}
