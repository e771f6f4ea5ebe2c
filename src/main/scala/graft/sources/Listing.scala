package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.matching.Regex

/** Object-store manifest handling (reference S1-S3 + F1-F3: the
  * `list-object-versions` manifest, `jq '.Versions[].Key'`, and the
  * `grep -E -f patterns | grep -v '/$' | uniq` include filter —
  * `bin/fetcher.bash:25-57`).
  *
  * Two layers, mirroring how the reference uses the same predicate
  * twice:
  *
  *  - **As data**: read the manifest JSON into a DataFrame and apply the
  *    include/exclude/distinct pipeline relationally ([[keys]],
  *    [[includeFilter]]). `explode($"Versions")` is the Generator analog
  *    of `jq '.Versions[]'`.
  *  - **As scan planning**: filter a concrete file listing in the driver
  *    before handing paths to a reader ([[planFiles]]) — regex-over-key
  *    file pruning that Catalyst's glob/partition pruning can't express.
  *    This is plain driver-side Scala, exactly like the reference's
  *    pre-sync filter; at 100 TB it is the difference between scanning
  *    the matching 1% of objects and listing-then-discarding 100 TB.
  */
object Listing {

  /** Manifest JSON → one row per object version key. */
  def keys(spark: SparkSession, manifestPath: String): DataFrame =
    spark.read.option("multiLine", "true").json(manifestPath)
      .select(explode(col("Versions")).as("v"))
      .select(col("v.Key").as("key"))

  /** Disjunctive regex include (F1) + directory-entry exclusion (F2) +
    * dedup (F3). `distinct()` is strictly more general than the
    * reference's `uniq` (which relies on S3's sorted listing). */
  def includeFilter(keys: DataFrame, patterns: Seq[String],
                    keyCol: String = "key"): DataFrame = {
    val included: Column = patterns
      .map(p => col(keyCol).rlike(p))
      .reduceOption(_ || _)
      .getOrElse(lit(true))
    keys.filter(included && !col(keyCol).endsWith("/")).distinct()
  }

  /** Driver-side file planning: list a directory tree (any
    * Hadoop-compatible FS) and keep paths whose name matches any
    * pattern. Returned paths feed readers directly — pre-scan pruning.
    *
    * The walk uses `listStatus`, not `listFiles(root, true)`: that one
    * builds a `LocatedFileStatus` per entry, copying owner and
    * permission, which Hadoop's local FS without native IO loads by
    * forking `ls -ld` once per file. Only names and the directory flag
    * are read here. */
  def planFiles(spark: SparkSession, root: String, patterns: Seq[Regex]): Seq[String] = {
    val hPath = new org.apache.hadoop.fs.Path(root)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    def walk(dir: org.apache.hadoop.fs.Path): Unit = fs.listStatus(dir).foreach { status =>
      val p = status.getPath
      if (status.isDirectory) walk(p)
      else if (patterns.isEmpty || patterns.exists(_.findFirstIn(p.toString).isDefined))
        out += p.toString
    }
    walk(hPath)
    out.toSeq.sorted
  }

  /** Incremental manifest diff (reference R3: `aws s3 sync` skips
    * already-synced objects): the keys present in the current manifest
    * but absent from the processed log — one anti-join, no state
    * beyond the processed-keys table. */
  def newKeys(current: DataFrame, processed: DataFrame,
              keyCol: String = "key"): DataFrame =
    current.join(processed, Seq(keyCol), "left_anti")

  /** The date-driven filter generation of `current_cycle.bash:36-45`
    * (F6): statewide always; VR snapshots for {year-1, year};
    * `Elections/<y>` for the trailing 8 years (judicial term length).
    * Pure plan-time constant folding — computed in the driver. */
  def temporalPatterns(year: Int): Seq[String] = {
    val snapshots = Seq(year - 1, year).map(y => s"Snapshots/VR_Snapshot_$y")
    val elections = (year - 8 to year).map(y => s"Elections/$y")
    ("_Statewide\\.zip$" +: snapshots) ++ elections
  }
}
