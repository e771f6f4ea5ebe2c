package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.core.Config.PipelineSpec
import graft.sources.{Listing, RawTable}

/** The reference's pipeline driver re-expressed Spark-first (reference:
  * `Main` → FetchVersions → Sync → SqlLoad → Compress,
  * `bin/fetcher.bash:13-24`).
  *
  * Key architectural inversion: the reference *generates a script* (the
  * sqlite dot-command program is its physical plan) and executes it
  * sequentially file-by-file; here each stage composes DataFrames and
  * Catalyst compiles the physical plan. Nothing row-shaped passes
  * through the driver and nothing is persisted. The one eager step is
  * the compress stage's shared map stage (below): like the reference,
  * which decodes each file once into the cycle's database and runs
  * every component's `SELECT DISTINCT` over the loaded tables
  * (`bin/fetcher.bash:58-89,124-169`), a cycle reads and parses each
  * source once, however many components it feeds.
  *
  *  - Fetch/Sync collapse into driver-side file planning
  *    ([[Listing.planFiles]]): we read objects in place rather than
  *    copying them (at 100 TB, sync-to-local is the thing to avoid; a
  *    Hadoop-FS `s3a://` URI scheme makes "remote" transparent).
  *  - SqlLoad becomes per-file [[RawTable.load]] → per-cycle database
  *    tables (parquet via `saveAsTable`, SaveMode.Overwrite = the
  *    reference's drop-and-recreate-DB semantics, D2).
  *  - Compress becomes one [[Components.mergeShared]] over every
  *    (compressor, component, table) conformance, the tables being
  *    those matching the compressor's include regexes (F4): one
  *    projection per table, one union, one shuffle, one `distinct()`,
  *    and each component its own partitions of the result. The
  *    component frames share that shuffle. With adaptive execution on (as
  *    [[graft.core.Session.local]] sets it) its map stage runs inside
  *    `run`, as one job; with it off, the first component action runs
  *    it and the others skip it. Either way each component write is
  *    one job that reads its part of the shuffle output, not the
  *    sources.
  *
  * Stage-skip flags mirror O3 (`FETCHER_SKIP_*`); the reference ships
  * with Compress hardcoded off (`bin/fetcher.bash:12`) but we treat it
  * as first-class since it is the whole relational surface.
  */
object Pipeline {

  final case class Stages(load: Boolean = true, compress: Boolean = true)

  final case class Result(
      group: String,
      database: String,
      tables: Map[String, DataFrame],
      components: Map[String, DataFrame])

  private def dbName(group: String): String =
    group.toLowerCase.replaceAll("[^a-z0-9_]", "_")

  /** Run a group's pipeline: plan files per bucket (include regexes
    * applied pre-scan), load each file as an all-string table, then
    * build deduplicated component tables over one shared scan of the
    * tables. When `persist` is set, tables land in a per-group database
    * (the reference's one-SQLite-DB-per-group) and the components are
    * built from the saved tables, so each source is decoded once. */
  def run(spark: SparkSession, spec: PipelineSpec, group: String,
          bucketRoots: Map[String, String], stages: Stages = Stages(),
          persist: Boolean = false): Result = {
    val db = dbName(group)
    if (persist) {
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    }

    // Fetch + Sync ≈ pre-scan file planning with the group's include regexes.
    val buckets = spec.fetch.getOrElse(group, Map.empty)
    val planned: Seq[String] = buckets.toSeq.sortBy(_._1).flatMap {
      case (bucket, fetchSpec) =>
        bucketRoots.get(bucket).toSeq.flatMap { root =>
          Listing.planFiles(spark, root, fetchSpec.include.map(_.r))
        }
    }

    // SqlLoad: file → all-string table (name = lowercased basename).
    val tables: Map[String, DataFrame] =
      if (!stages.load) Map.empty
      else planned.map { path =>
        val (name, df) = RawTable.load(spark, path)
        if (persist)
          df.write.mode(SaveMode.Overwrite).saveAsTable(s"$db.$name")
        name -> df
      }.toMap

    // Compress: conformance-union-dedup component tables. Different
    // compressors (one per source shape, like the reference's
    // a_vr_snapshot vs a_ncvoter) feed the SAME component table — the
    // reference's per-statement INSERT OR IGNORE loop becomes one
    // shared merge over every conformed source of every component.
    val components: Map[String, DataFrame] =
      if (!stages.compress) Map.empty
      else {
        val conformances = spec.compressOrder.flatMap { cName =>
          val compressor = spec.compress(cName)
          val sourceNames = tables.keys.toSeq.sorted
            .filter(t => compressor.include.exists(_.r.findFirstIn(t).isDefined))
          for {
            component <- compressor.componentOrder
            if spec.components.getOrElse(component, Nil).nonEmpty
            t <- sourceNames
          } yield Components.Conformance(component, t,
            compressor.components.getOrElse(component, Map.empty))
        }
        // a persisted cycle conforms its saved tables, not the archives
        val sources =
          if (persist) tables.map { case (t, _) => t -> spark.table(s"$db.$t") }
          else tables
        val merged = Components.mergeShared(sources, spec.components, conformances,
          s"compress $db")
        if (persist) merged.toSeq.sortBy(_._1).foreach { case (component, df) =>
          df.write.mode(SaveMode.Overwrite).saveAsTable(s"$db.$component")
        }
        merged
      }

    Result(group, db, tables, components)
  }

  /** Politeness-budgeted crawl-frontier scheduling — the fetch-side
    * planning step of the incremental cycle (the reference's fetch
    * stage decides WHAT to pull each run; a web-scale corpus does the
    * same over discovered URLs): from a candidate table of
    * (url, domain, priority), pick at most `perDomainCap` URLs per
    * domain (politeness — a cycle never hammers one host), rank the
    * survivors globally and cut at `cycleCapacity` (the fleet's fetch
    * budget), and stagger each domain's picks `crawlDelayS` apart
    * (the robots.txt Crawl-delay convention the [[graft.functions.Web]]
    * layer parses).
    *
    * Every ordering is the total (priority DESC, id ASC) order, so the
    * schedule is engine-exact. Scale shape: the per-domain ranking is
    * a domain-partitioned window (one key-partitioned exchange); the
    * global cut is orderBy+limit = TakeOrdered (O(capacity) per
    * partition, never a global sort materialization); the fetch_order
    * numbering windows over the ALREADY-CUT ≤ capacity rows — bounded
    * config-sized state, the k-center argument, named here. */
  def crawlFrontier(cands: DataFrame, urlCol: String, domainCol: String,
      priorityCol: String, idCol: String, perDomainCap: Int,
      cycleCapacity: Int, crawlDelayS: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    require(perDomainCap >= 1 && cycleCapacity >= 1 && crawlDelayS >= 0,
      "need positive caps and a non-negative delay")
    val perDomain = Window.partitionBy(col(domainCol))
      .orderBy(col(priorityCol).desc, col(idCol).asc)
    val capped = cands
      .withColumn("rank_in_domain", row_number().over(perDomain).cast("int"))
      .filter(col("rank_in_domain") <= perDomainCap)
    val cut = capped
      .orderBy(col(priorityCol).desc, col(idCol).asc)
      .limit(cycleCapacity)
    // ≤ cycleCapacity rows from here on: the single-partition window
    // is over bounded, config-sized state by construction
    cut.withColumn("fetch_order",
        row_number().over(Window.orderBy(col(priorityCol).desc,
          col(idCol).asc)).cast("int"))
      .select(col(urlCol), col(domainCol), col(priorityCol),
        col("rank_in_domain"), col("fetch_order"),
        ((col("rank_in_domain") - 1) * crawlDelayS).cast("long")
          .as("scheduled_s"))
  }
}
