package graft.core

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Cast, EvalMode,
  Expression, Literal, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker,
  WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** What one written data file holds, as far as its manifest sections
  * need: the row count; per range column the long (min, max) of its
  * non-null `try_cast(c AS BIGINT)` values (None: no such value); per
  * set column its distinct non-null `cast(c AS STRING)` values in
  * Spark's binary `UTF8String` order, or None once more than the cap
  * were seen. */
private[core] final case class FileSectionStats(
    fileName: String, rows: Long,
    bounds: Seq[(Option[Long], Option[Long])],
    sets: Seq[Option[Seq[String]]])

private[core] final case class SectionTaskStats(files: Seq[FileSectionStats])
    extends WriteTaskStats

/** Gathers the inputs of a [[SnapshotTable]] manifest entry's sections
  * in the job that writes the files — Delta's
  * `DeltaJobStatisticsTracker` shape: each write task keeps per-file
  * state while rows stream past, and the driver receives every file's
  * [[FileSectionStats]] when the job commits, so the sections cost no
  * re-scan of the written files. Per-file state is constant-size for
  * range columns and at most `setCap` values per set column (the
  * `setCap + 1`-th distinct value drops the set as saturated), so a
  * high-cardinality column costs bounded executor memory. */
private[core] final class SectionStatsTracker private (
    output: Seq[Attribute], rangeExprs: Seq[Expression],
    setExprs: Seq[Expression], setCap: Int) extends WriteJobStatsTracker {

  @transient private var collected: Seq[FileSectionStats] = Nil

  override def newTaskInstance(): WriteTaskStatsTracker =
    new SectionStatsTracker.TaskTracker(output, rangeExprs, setExprs, setCap)

  override def processStats(stats: Seq[WriteTaskStats],
                            jobCommitTime: Long): Unit =
    collected = stats.flatMap { case s: SectionTaskStats => s.files }

  /** Every written file's stats by base name, after the job commits. */
  def byFile: Map[String, FileSectionStats] =
    collected.map(f => f.fileName -> f).toMap
}

private[core] object SectionStatsTracker {

  /** A tracker over the written plan's `output` for `rangeCols` and
    * `setCols`, resolved with the session's resolver. Range values are
    * the `Cast(…, LongType, EvalMode.TRY)` that `try_cast(c AS BIGINT)`
    * resolves to; a column that `try_cast` cannot take to BIGINT (DATE,
    * BINARY, …) has no long bounds and records `c=:`. Set values are
    * `Cast(…, StringType)`. Both casts use the session time zone. */
  def apply(output: Seq[Attribute], rangeCols: Seq[String],
            setCols: Seq[String], setCap: Int,
            conf: SQLConf): SectionStatsTracker = {
    def attr(c: String): Attribute =
      output.find(a => conf.resolver(a.name, c)).getOrElse(
        throw new IllegalArgumentException(s"SnapshotTable: stats column " +
          s"'$c' is not among the written columns " +
          s"(${output.map(_.name).mkString(", ")})"))
    val tz = Some(conf.sessionLocalTimeZone)
    val ranges = rangeCols.map(attr).map { a =>
      if (Cast.canTryCast(a.dataType, LongType))
        Cast(a, LongType, tz, EvalMode.TRY)
      else Literal(null, LongType)
    }
    val sets = setCols.map(attr).map { a =>
      a.dataType match {
        case _: StringType => a
        case _ => Cast(a, StringType, tz)
      }
    }
    new SectionStatsTracker(output, ranges, sets, setCap)
  }

  private final class FileState(val name: String, nRanges: Int,
                                nSets: Int) {
    var rows = 0L
    // lo > hi until the first non-null value
    val lo: Array[Long] = Array.fill(nRanges)(Long.MaxValue)
    val hi: Array[Long] = Array.fill(nRanges)(Long.MinValue)
    // null once saturated
    val sets: Array[java.util.HashSet[UTF8String]] =
      Array.fill(nSets)(new java.util.HashSet[UTF8String]())
  }

  private final class TaskTracker(output: Seq[Attribute],
                                  rangeExprs: Seq[Expression],
                                  setExprs: Seq[Expression], setCap: Int)
      extends WriteTaskStatsTracker {
    private val nRanges = rangeExprs.size
    private val nSets = setExprs.size
    private val project = UnsafeProjection.create(rangeExprs ++ setExprs, output)
    private val files = mutable.LinkedHashMap[String, FileState]()
    private var curPath: String = null
    private var cur: FileState = null

    override def newPartition(partitionValues: InternalRow): Unit = ()

    override def newFile(filePath: String): Unit =
      files.getOrElseUpdate(filePath,
        new FileState(new Path(filePath).getName, nRanges, nSets))

    override def closeFile(filePath: String): Unit = ()

    override def newRow(filePath: String, row: InternalRow): Unit = {
      if (filePath ne curPath) { cur = files(filePath); curPath = filePath }
      cur.rows += 1
      val r = project(row)
      var i = 0
      while (i < nRanges) {
        if (!r.isNullAt(i)) {
          val v = r.getLong(i)
          if (v < cur.lo(i)) cur.lo(i) = v
          if (v > cur.hi(i)) cur.hi(i) = v
        }
        i += 1
      }
      var j = 0
      while (j < nSets) {
        val set = cur.sets(j)
        if (set != null && !r.isNullAt(nRanges + j)) {
          val v = r.getUTF8String(nRanges + j)
          if (!set.contains(v)) {
            // the projection reuses its buffer: keep a copy
            if (set.size < setCap) set.add(v.copy())
            else cur.sets(j) = null
          }
        }
        j += 1
      }
    }

    override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
      SectionTaskStats(files.values.map { f =>
        FileSectionStats(f.name, f.rows,
          (0 until nRanges).map(i =>
            if (f.lo(i) <= f.hi(i)) (Some(f.lo(i)), Some(f.hi(i)))
            else (None, None)),
          f.sets.toSeq.map(s => Option(s).map(_.asScala.toSeq
            .sortWith(_.binaryCompare(_) < 0).map(_.toString))))
      }.toSeq)
  }
}
