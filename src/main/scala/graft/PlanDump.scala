package graft

import org.apache.spark.sql.DataFrame

/** Batch plan/profile dump: run every suite query matching a regex in
  * ONE session, writing each query's formatted physical plan to
  * `<outDir>/<name><suffix>.txt` and printing the per-stage
  * wall/shuffle rows of [[core.Metrics.profile]] —
  * `runMain graft.PlanDump <regex> <outDir> [suffix] [sfDir]`.
  * One JVM for N queries: a JVM per query pays ~40 s of
  * session+warmup each, which swamps the plans being measured; a
  * `'^name$'` regex audits one query. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val re = args(0).r
    val outDir = java.nio.file.Paths.get(args(1))
    val suffix = if (args.length > 2) args(2) else ""
    val sfDir = if (args.length > 3) args(3) else
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    java.nio.file.Files.createDirectories(outDir)
    val spark = graft.core.Session.local("graft-plandump")
    // warmup: parquet footers + codegen caches, same as Bench
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()

    val names = Queries.all.map(_._1).filter(n => re.findFirstIn(n).isDefined)
    names.foreach { name =>
      var df: DataFrame = null
      val r = core.Metrics.profile(spark) { df = Queries.queries(name)(spark, sfDir); df }
      // the frame's own plan is left unexecuted by the noop write (which
      // plans a write command of its own), so this is its initial plan
      if (df != null) java.nio.file.Files.writeString(outDir.resolve(s"$name$suffix.txt"),
        df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
      r.error.foreach(e => throw e)
      println(f"[plandump] $name construct ${r.constructS}%.2f s exec ${r.execS.get}%.2f s")
      r.stages.sortBy(-_.wallMs).take(12).foreach { st =>
        println(f"[plandump]   stage ${st.id}%5d ${st.wallMs / 1000.0}%7.2f s tasks=${st.tasks}%4d " +
          f"shufR=${st.shuffleReadBytes / 1e6}%7.1f MB shufW=${st.shuffleWriteBytes / 1e6}%7.1f MB  ${st.name}")
      }
    }
    spark.stop()
  }
}
