package org.apache.spark.sql.graftbridge

import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{BasicWriteJobStatsTracker,
  DataSource, FileFormatWriter, WriteJobStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.util.SchemaUtils
import org.apache.spark.util.SerializableConfiguration

/** `FileFormatWriter.write` with caller-supplied statistics trackers —
  * the hook Delta's `DeltaJobStatisticsTracker` uses to see every row
  * in the job that writes it. `DataFrameWriter` offers no such hook, and
  * the checks and commit protocol it applies live behind `private[sql]`.
  */
object FileWrites {

  /** Write `df` as parquet files into the new directory `path` in one
    * job, as `df.write.options(options).parquet(path)` does: the same
    * schema checks (empty schema, duplicate column names, and
    * `DataSourceUtils.verifySchema` inside `FileFormatWriter`), the
    * session's commit protocol, `options` passed to the format and to
    * the Hadoop conf (so `parquet.*` keys reach the parquet writer), and
    * `maxRecordsPerFile` from the options or the session.
    *
    * `trackers` receives the output columns of the plan that executes,
    * whose nullability is what the files' footers record, and returns
    * the trackers that watch every written row; they are returned
    * once the job has committed and processed their stats. */
  def parquet[T <: WriteJobStatsTracker](df: DataFrame, path: String,
                                         options: Map[String, String])
      (trackers: Seq[Attribute] => Seq[T]): Seq[T] = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val conf = session.sessionState.conf
    val qe = session.sessionState.executePlan(df.queryExecution.analyzed)
    SQLExecution.withNewExecutionId(qe, Some(s"write parquet $path")) {
      val plan = qe.executedPlan
      val output = plan.output
      DataSource.validateSchema("parquet",
        DataTypeUtils.fromAttributes(output), conf)
      SchemaUtils.checkColumnNameDuplication(output.map(_.name),
        conf.caseSensitiveAnalysis)
      val extra = trackers(output)
      val hadoopConf = session.sessionState.newHadoopConfWithOptions(options)
      val committer = FileCommitProtocol.instantiate(
        conf.fileCommitProtocolClass,
        jobId = java.util.UUID.randomUUID().toString,
        outputPath = path)
      FileFormatWriter.write(
        sparkSession = session,
        plan = plan,
        fileFormat = new ParquetFileFormat(),
        committer = committer,
        outputSpec = FileFormatWriter.OutputSpec(path, Map.empty, output),
        hadoopConf = hadoopConf,
        partitionColumns = Nil,
        bucketSpec = None,
        statsTrackers = new BasicWriteJobStatsTracker(
          new SerializableConfiguration(hadoopConf),
          BasicWriteJobStatsTracker.metrics) +: extra,
        options = options)
      extra
    }
  }
}
