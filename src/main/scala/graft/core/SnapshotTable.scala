package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal snapshot-committed table format over plain parquet — the
  * transactional completion of the incremental cycle that
  * [[graft.streaming.EventStreams.upsertSink]]'s staging-swap protocol
  * deliberately stopped short of (its scaladoc named this format as
  * the cue at fact scale). The reference's whole economics is
  * versioned incremental cycles (FetchVersions,
  * `bin/fetcher.bash:25-35`; S3 `list-object-versions`); this is the
  * row-level version of the same idea, without adopting Delta/Iceberg.
  *
  * Layout under one root directory:
  * {{{
  *   <root>/data/<commit-nonce>/part-*.parquet   immutable once published
  *   <root>/_manifests/v%09d.manifest            one data-file entry per line
  *   <root>/_manifests/v%09d.lock                exclusive version claims (see CONCURRENCY)
  *   <root>/_changes/v%09d.changes/part-*.parquet  stored change feed (tracked commits only)
  *   <root>/_dv/<commit-nonce>/part-*.parquet    deletion-vector sidecars ([[deleteWhereDV]])
  *   <root>/_staging/...                         in-flight writes (orphaned by a crash)
  * }}}
  *
  * DELETES come in both industry shapes: [[deleteWhere]] is
  * copy-on-write (rewrites only the files holding matching rows —
  * right when deletes cluster with the layout), [[deleteWhereDV]] is
  * merge-on-read (positional tombstones in a `_dv/` sidecar, zero
  * data-file rewrites — right for scattered point deletes), and
  * [[compactSnapshot]] folds tombstones back into clean files.
  *
  * A manifest ENTRY is the file's root-relative path, optionally
  * followed by TAB + per-column stats sections, comma-joined:
  * `col=min:max` long ranges (`statsCols`), `col#v1|v2` category sets
  * (`categoryCols`), `col~m:k:b64bits` Bloom filters (`bloomCols`),
  * and a `!bytes` FILE-SIZE section (always recorded by current
  * writers — the '!' cannot collide with a column name, which is
  * `[A-Za-z0-9_]+`) — Iceberg's file-pruning idea on one line of
  * text. The size section makes compaction planning and
  * [[history]]'s byte accounting MANIFEST-ONLY: at 400k files a
  * per-file `getFileStatus` sweep is 400k NameNode/S3 HEAD calls,
  * where the writer knew every length at commit time for free.
  * Entries without it (older manifests, hand-built DV lines) fall
  * back to the filesystem. A filtered [[read]] opens only the files
  * whose recorded sections admit the filter Spark pushes down — at
  * 100 TB with range-clustered commits (writers `repartitionByRange`
  * on the stats column; [[Catalog.writeZOrdered]] for two), a
  * key-range query scans the handful of files that can match instead
  * of the whole snapshot. Entries without stats (older manifests,
  * columns not recorded) are always kept — pruning is strictly a
  * superset guarantee, never a correctness gate.
  *
  * THE COMMIT PROTOCOL — why a reader can never see a torn table:
  *  1. data files are written to a fresh nonce'd directory under
  *     `data/` that NO manifest references yet; readers cannot reach
  *     them.
  *  2. the manifest (the full file list of the new snapshot) is
  *     written to a temp name and PUBLISHED by one atomic rename to
  *     `v<N+1>.manifest`. Readers resolve the table as "highest
  *     committed manifest", so at every instant they see either
  *     snapshot N or snapshot N+1, both complete.
  *  3. a crash anywhere before the rename leaves orphan data files and
  *     a temp manifest — invisible to every reader, reclaimed by
  *     [[vacuum]]. There is nothing to repair on restart (contrast the
  *     swap protocol's recoverSwap), because no destructive step ever
  *     happens: old files are only deleted by an explicit vacuum that
  *     keeps the last `keepVersions` snapshots readable.
  *
  * READ-UNDER-COMMIT ISOLATION: [[read]] pins the manifest's file list
  * at call time; data files are immutable and survive later commits
  * (until vacuumed), so a reader planned against snapshot N returns
  * exactly snapshot N even if commits N+1..N+k land mid-query — the
  * property the upsert sink's staging swap could not give a concurrent
  * reader. [[readVersion]] is the same pin at an explicit version
  * (time travel across the retained window).
  *
  * READ PLANNING: every snapshot read — [[read]], [[readVersion]],
  * both sides of a deletion-vector read, and the commit paths'
  * read-backs — is planned from the manifest through one constructor
  * ([[scan]]) over [[graft.sources.SnapshotFileIndex]]: no per-file
  * status calls, no Parquet schema-inference job (the schema is one
  * driver-side footer read), and pushed-down filters skip files by
  * their recorded sections. That index is the ONLY place a read skips
  * files: the `scanPruned*` / `pruneCounts*` methods are thin
  * wrappers over `read(...).filter(...)`, and [[entryMayMatch]] is
  * the one predicate deciding whether an entry can match.
  *
  * CONCURRENCY: version numbers linearize committers through an
  * EXCLUSIVE CLAIM — before renaming, a committer creates
  * `v<N>.lock` atomically-exclusively: `FileSystem.create(overwrite =
  * false)` on HDFS (CreateFlag.CREATE), and on `file:` paths
  * `java.nio.file.Files.createFile` (POSIX O_CREAT|O_EXCL), because
  * Hadoop's local create(overwrite=false) is a non-atomic
  * exists-then-create. Two committers therefore can never rename
  * onto the same version: the loser's claim fails and it retries at
  * the NEXT number (claimed numbers are skipped, so a crashed claim
  * leaves a harmless HOLE in the version sequence, reclaimed by
  * [[vacuum]], never a blocked table). The PUBLISH step still reads
  * the manifest back: on a store whose create is not exclusive (see
  * FILESYSTEM CONTRACT) a same-number racer's rename is refused (the
  * target exists) or its read-back shows foreign content, and the
  * loser retries at a later version. On claim-atomic stores the
  * read-back is belt-and-braces only.
  * Claims linearize version NUMBERS; read-merge-commit CYCLES are
  * additionally VALIDATED: every mutation but [[commit]] runs in
  * [[rebaseLoop]] and carries its base version into
  * [[publishValidated]], which commits at EXACTLY base+1 (the claim is
  * the compare-and-swap) and reports a conflict otherwise — the caller
  * then re-reads, re-merges and retries, so two concurrent cyclers
  * SERIALIZE instead of losing the earlier merge (Iceberg's commit
  * validation); [[append]]'s manifest union is a read-modify-write of
  * the file list too. Plain [[commit]] (replace semantics — last
  * writer wins by intent) stays unvalidated and skips past contended
  * numbers.
  * Named residual:
  * a committer that crashes between claim and rename leaves a hole
  * that unvalidated writers skip but validated cyclers refuse loudly
  * (see [[publishValidated]]'s remediation message) — skipping a
  * hole silently is exactly the lost update validation exists to
  * prevent.
  *
  * FILESYSTEM CONTRACT, named: the protocol needs (a) an atomic-
  * exclusive create for the claim and (b) same-directory
  * `rename` that either moves the temp manifest or fails — HDFS and
  * POSIX local filesystems give both. S3A gives NEITHER natively
  * (create is a PUT that last-writer-wins unless the store supports
  * conditional writes; rename is copy+delete): on object storage,
  * point the claim+publish at a small HDFS/locking volume, front the
  * table with an external catalog lock (Hive/Glue/DynamoDB — what
  * Delta's S3 LogStore and Iceberg's lock-manager do), or enable the
  * store's conditional-put (If-None-Match) support. Data files are
  * immutable and nonce-named, so THEY are object-store-safe as-is;
  * only the manifest publish needs the stronger primitive.
  *
  * 100 TB posture: a commit writes only its own data files plus one
  * manifest rename — no table-sized rewrite is required by the FORMAT
  * ([[append]] reuses every prior file; [[commit]] rewrites because a
  * merge-upsert semantically replaces the table). Manifests are one
  * line per file: at 256 MB target files, a 100 TB snapshot is a
  * ~400k-line (~30 MB) manifest — listed once per read plan, never
  * per row. File-count hygiene stays [[Catalog.compact]]'s job,
  * applied before commit, not after. */
object SnapshotTable {

  private val ManifestDir = "_manifests"
  private val StagingDir = "_staging"
  private val DataDir = "data"
  private val ChangesDir = "_changes"
  private val DvDir = "_dv"
  private val ManifestRe = """v(\d{9})\.manifest""".r
  private val LockRe = """v(\d{9})\.lock""".r
  private val ChangesRe = """v(\d{9})\.changes""".r
  private val MaxCommitRetries = 5

  /** Per-file distinct-value cap for `categoryCols`: a file whose
    * column exceeds it records NO category section (never pruned) —
    * category stats are for LOW-cardinality slice columns (lang,
    * source, split), where a file clustered by the column holds a
    * handful of values. */
  val CategoryCap = 16

  /** Default Bloom width (bits) for `bloomCols`, and the saturation
    * rule: a file records a Bloom section only while its distinct
    * count stays ≤ bits/8 (k=4 → ~2.4% false-keep rate at the cap);
    * past that the section is omitted (the file is always kept — the
    * superset contract), because a saturated Bloom keeps everything
    * anyway and only bloats the manifest. */
  val DefaultBloomBits = 2048
  private[graft] val BloomK = 4

  private def fsOf(spark: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def manifestPath(root: Path, v: Long): Path =
    new Path(new Path(root, ManifestDir), f"v$v%09d.manifest")

  /** Committed versions under `root`, ascending. Temp manifests
    * (un-renamed) never match the pattern, so a crash mid-commit is
    * invisible here by construction. */
  private def listVersions(fs: FileSystem, root: Path): Seq[Long] = {
    val md = new Path(root, ManifestDir)
    if (!fs.exists(md)) return Nil
    fs.listStatus(md).iterator.flatMap { st =>
      st.getPath.getName match {
        case ManifestRe(d) => Some(d.toLong)
        case _ => None
      }
    }.toSeq.sorted
  }

  /** Highest committed snapshot version, or None for an empty/new
    * table. */
  def currentVersion(fs: FileSystem, root: Path): Option[Long] =
    listVersions(fs, root).lastOption

  /** All committed versions, ascending — the retained time-travel
    * window (vacuum trims the front). */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val (fs, rootP) = fsOf(spark, root)
    listVersions(fs, rootP)
  }

  /** Loud unless `df` has snapshot `bv`'s (name, type) schema — a
    * same-named column of a DIFFERENT type is exactly the
    * mixed-schema manifest this guard exists to prevent (which file
    * Spark samples would decide the read schema); column ORDER is
    * free (parquet reads match by name). */
  private def requireSchemaOf(spark: SparkSession, root: String, bv: Long,
                              df: DataFrame, what: String): Unit = {
    def sig(d: DataFrame) = d.schema.fields
      .map(f => s"${f.name}:${f.dataType.simpleString}").sorted.toSeq
    val (have, got) = (sig(readVersion(spark, root, bv)), sig(df))
    require(have == got,
      s"$what: schema mismatch — snapshot v$bv has " +
        s"(${have.mkString(",")}) but the new rows have " +
        s"(${got.mkString(",")}); a mixed-schema manifest reads " +
        "nondeterministically, so evolve the schema with " +
        "evolveAddColumns or a full commit first")
  }

  /** A manifest entry's root-relative file path (the part before the
    * optional TAB-separated stats). */
  private[graft] def entryPath(line: String): String = {
    val t = line.indexOf('\t')
    if (t < 0) line else line.substring(0, t)
  }

  /** Split manifest entries into (data entries, deletion-vector
    * entries). DV entries are ordinary manifest lines whose path
    * lives under `_dv/` — committed, time-traveled and vacuumed like
    * data, but applied as tombstones at read time instead of scanned
    * as rows (see [[deleteWhereDV]]). */
  private def splitEntries(entries: Seq[String]): (Seq[String], Seq[String]) =
    entries.partition(e => !isDvEntry(e))

  private def isDvEntry(entry: String): Boolean =
    entryPath(entry).startsWith(s"$DvDir/")

  /** A manifest entry's file base name (unique: part names carry a
    * UUID) — what `__graft_fn` and a tombstone's `file_name` hold. */
  private def entryName(entry: String): String =
    new Path(entryPath(entry)).getName

  /** Scan manifest `entries` planned from the manifest alone — THE
    * constructor behind every snapshot read: a [[org.apache.spark.sql
    * .execution.datasources.HadoopFsRelation]] over
    * [[graft.sources.SnapshotFileIndex]], so file list and sizes come
    * from the entries (no per-file status calls), pushed-down filters
    * skip files by their recorded sections, and the data schema is one
    * driver-side footer read ([[graft.sources.SnapshotFileIndex
    * .dataSchema]]) instead of `spark.read.parquet`'s schema-inference
    * job. Building the frame launches no Spark job. */
  private[graft] def scan(spark: SparkSession, rootP: Path,
                          entries: Seq[String]): DataFrame = {
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    val index = graft.sources.SnapshotFileIndex(spark, rootP, entries)
    spark.baseRelationToDataFrame(HadoopFsRelation(
      index,
      partitionSchema = org.apache.spark.sql.types.StructType(Nil),
      dataSchema = index.dataSchema,
      bucketSpec = None,
      fileFormat = new org.apache.spark.sql.execution.datasources
        .parquet.ParquetFileFormat(),
      options = Map.empty)(spark))
  }

  /** Read `dataEntries` with positional identity attached —
    * `__graft_fn` (file base name; part names carry a UUID, so it is
    * unique) and `__graft_ri` (row ordinal within the file, parquet's
    * `_metadata.row_index`) — and `dvEntries`' tombstones already
    * EXCLUDED via one anti-join on that identity (the DV side is tiny
    * relative to data, so AQE broadcasts it). The core of every
    * DV-aware read; callers drop the identity columns unless they
    * need them (hit detection, tombstone writing). */
  private def readWithPos(spark: SparkSession, rootP: Path,
                          dataEntries: Seq[String],
                          dvEntries: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val data = scan(spark, rootP, dataEntries)
      .select(col("*"),
        element_at(split(col("_metadata.file_path"), "/"), -1)
          .as("__graft_fn"),
        col("_metadata.row_index").as("__graft_ri"))
    if (dvEntries.isEmpty) data
    else data.join(
      scan(spark, rootP, dvEntries)
        .select(col("file_name").as("__graft_fn"),
          col("row_index").as("__graft_ri")),
      Seq("__graft_fn", "__graft_ri"), "left_anti")
  }

  /** Read `dataEntries` as plain rows with `dvEntries` applied. The
    * DV-free path stays a bare parquet scan — no metadata columns, no
    * join — so tables that never used [[deleteWhereDV]] keep their
    * exact pre-DV plans. */
  private def readEntriesWithDv(spark: SparkSession, rootP: Path,
                                dataEntries: Seq[String],
                                dvEntries: Seq[String]): DataFrame =
    if (dvEntries.isEmpty) scan(spark, rootP, dataEntries)
    else readWithPos(spark, rootP, dataEntries, dvEntries)
      .drop("__graft_fn", "__graft_ri")

  /** A manifest entry's recorded per-column (min, max) long stats —
    * empty for entries written without `statsCols`. An empty bound
    * (all-null column in that file) parses as None = unbounded.
    * Category sections (`col#…`) are skipped here. */
  private[graft] def entryStats(line: String)
      : Map[String, (Option[Long], Option[Long])] = {
    val t = line.indexOf('\t')
    if (t < 0) return Map.empty
    line.substring(t + 1).split(',').iterator
      .filter(kv => kv.nonEmpty && kv.contains('=') && !kv.contains('#'))
      .map { kv =>
        val eq = kv.indexOf('=')
        val Array(lo, hi) = kv.substring(eq + 1).split(":", -1)
        kv.substring(0, eq) -> (
          (if (lo.isEmpty) None else Some(lo.toLong)),
          (if (hi.isEmpty) None else Some(hi.toLong)))
      }.toMap
  }

  /** A manifest entry's recorded FILE SIZE (`!bytes`) — None for
    * entries written before the size section existed (and for
    * hand-assembled DV lines); callers fall back to the filesystem. */
  private[graft] def entryBytes(line: String): Option[Long] = {
    val t = line.indexOf('\t')
    if (t < 0) return None
    line.substring(t + 1).split(',').iterator
      .collectFirst { case kv if kv.startsWith("!") =>
        kv.substring(1).toLong }
  }

  /** A manifest entry's recorded per-column CATEGORY sets (`col#v1|v2`,
    * values URL-encoded at write) — the categorical twin of
    * [[entryStats]], recorded when the committer passed
    * `categoryCols` and the file's distinct count fit the cap. */
  private[graft] def entryCategories(line: String): Map[String, Set[String]] = {
    val t = line.indexOf('\t')
    if (t < 0) return Map.empty
    line.substring(t + 1).split(',').iterator
      .filter(kv => kv.nonEmpty && kv.contains('#'))
      .map { kv =>
        val h = kv.indexOf('#')
        kv.substring(0, h) -> kv.substring(h + 1).split('|').iterator
          .filter(_.nonEmpty)
          .map(java.net.URLDecoder.decode(_, "UTF-8")).toSet
      }.toMap
  }

  /** A manifest entry's recorded per-column BLOOM sections
    * (`col~m:k:b64bits`, base64 without padding so '=' stays a range
    * delimiter) — the point-lookup twin of [[entryStats]], recorded
    * when the committer passed `bloomCols` and the file's distinct
    * count stayed under the saturation cap. */
  private[graft] def entryBlooms(line: String)
      : Map[String, (Int, Int, java.util.BitSet)] = {
    val t = line.indexOf('\t')
    if (t < 0) return Map.empty
    line.substring(t + 1).split(',').iterator
      .filter(kv => kv.contains('~') && !kv.contains('=') && !kv.contains('#'))
      .map { kv =>
        val tl = kv.indexOf('~')
        val Array(m, k, bits) = kv.substring(tl + 1).split(":", 3)
        kv.substring(0, tl) -> ((m.toInt, k.toInt,
          java.util.BitSet.valueOf(
            java.util.Base64.getDecoder.decode(bits))))
      }.toMap
  }

  /** The k deterministic bit positions of `value` in an m-bit Bloom —
    * double hashing over the md5 halves, identical on writer and
    * prober by construction (no JVM hash seeds involved). */
  private[graft] def bloomBitsOf(value: String, m: Int, k: Int): Seq[Int] = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(value.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val bb = java.nio.ByteBuffer.wrap(d)
    val h1 = bb.getLong
    val h2 = bb.getLong
    (0 until k).map { i =>
      val h = h1 + i.toLong * h2
      (((h % m) + m) % m).toInt
    }
  }

  private def readManifest(fs: FileSystem, root: Path, v: Long): Seq[String] = {
    val in = fs.open(manifestPath(root, v))
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      new String(bos.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
        .split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSeq
    } finally in.close()
  }

  /** The current snapshot, file list PINNED at call time — later
    * commits do not change what this DataFrame reads. Loud on an
    * uncommitted table (an empty read would silently launder a
    * mid-commit crash into "no data").
    *
    * This is also THE pruned read: the scan sits over
    * [[graft.sources.SnapshotFileIndex]], so a filter Spark pushes
    * down skips the files whose recorded range/category/Bloom
    * sections cannot match — `read(...).filter(col("k") === 42)` opens
    * only the files that may hold 42. With live deletion vectors the
    * filter still lands on the data-side scan, below the tombstone
    * anti-join, and prunes the same files. */
  def read(spark: SparkSession, root: String): DataFrame = {
    val (fs, rootP) = fsOf(spark, root)
    val v = currentVersion(fs, rootP).getOrElse(throw new IllegalStateException(
      s"SnapshotTable at $root has no committed snapshot — nothing was " +
        "ever published (a crash mid-first-commit leaves no manifest by design)"))
    readVersion(spark, root, v)
  }

  /** Snapshot `v` exactly — time travel within the retained window.
    * Loud if `v` was vacuumed or never committed. */
  def readVersion(spark: SparkSession, root: String, v: Long): DataFrame = {
    val (fs, rootP) = fsOf(spark, root)
    if (!fs.exists(manifestPath(rootP, v)))
      throw new IllegalStateException(
        s"SnapshotTable at $root has no committed manifest v$v " +
          "(never committed, or vacuumed past)")
    val files = readManifest(fs, rootP, v)
    val (dataE, dvE) = splitEntries(files)
    if (dataE.isEmpty)
      // unreachable by construction: even an empty-DataFrame commit
      // publishes a schema-only part file (publish() requires it), so
      // a dataless manifest can only mean external tampering
      throw new IllegalStateException(
        s"SnapshotTable at $root: manifest v$v lists no data files")
    readEntriesWithDv(spark, rootP, dataE, dvE)
  }

  /** The manifest sections [[writeDataFiles]] records on its files. */
  private case class Sections(stats: Seq[String],
                              categories: Seq[String] = Nil,
                              blooms: Seq[String] = Nil,
                              bloomBits: Int = DefaultBloomBits)

  /** Write `df`'s parquet files under a fresh unreferenced data
    * directory and return their manifest entries: root-relative path,
    * the recorded `sections` (per-file long min/max of `stats`, value
    * sets of `categories`, Blooms of `bloomBits` over `blooms`), and
    * the file size. Every section is gathered by a
    * [[SectionStatsTracker]] in the ONE job that writes the files, so
    * building them launches no job after the write. Stats are
    * LONG-typed (`try_cast(c AS BIGINT)`): ids, counts, epoch
    * timestamps — the range-pruning cases; a value that does not cast,
    * or a column whose type `try_cast` cannot take to BIGINT (DATE),
    * records null bounds and the file is simply never pruned on it. The
    * nonce keeps concurrent committers (and a crash-then-retry) from
    * colliding on a directory name. */
  private def writeDataFiles(spark: SparkSession, fs: FileSystem,
                             rootP: Path, df: DataFrame,
                             sections: Sections): Seq[String] = {
    val Sections(statsCols, categoryCols, bloomCols, bloomBits) = sections
    require(bloomBits >= 64 && bloomBits % 8 == 0,
      s"bloomBits must be a multiple of 8 >= 64, got $bloomBits")
    // the stats suffix is a text format (TAB, ',', '=', ':', '#', '~'
    // and '|' are structural) — refuse names that would corrupt it
    // rather than write an unparseable manifest; category VALUES are
    // URL-encoded and bloom bits are base64-without-padding, so they
    // carry anything
    (statsCols ++ categoryCols ++ bloomCols).foreach(c => require(
      c.matches("[A-Za-z0-9_]+"),
      s"SnapshotTable stats/category/bloom column name '$c' is not " +
        "[A-Za-z0-9_]+ — rename or alias before recording stats"))
    val bloomCap = bloomBits / 8
    val setCols = (categoryCols ++ bloomCols).distinct
    val nonce = java.util.UUID.randomUUID().toString.take(12)
    val staging = new Path(new Path(rootP, StagingDir), nonce)
    // also enable parquet's OWN bloom filters inside the files: the
    // manifest bloom skips FILES, parquet's prunes row groups inside
    // the kept ones — the same two-layer compose as the manifest
    // ranges + PushedFilters
    val options = Map("compression" -> "zstd") ++
      bloomCols.map(c => s"parquet.bloom.filter.enabled#$c" -> "true")
    val trackers = org.apache.spark.sql.graftbridge.FileWrites.parquet(
        df, staging.toString, options) { output =>
      if (statsCols.isEmpty && setCols.isEmpty) Nil
      else {
        val maxCap = math.max(if (categoryCols.nonEmpty) CategoryCap else 0,
          if (bloomCols.nonEmpty) bloomCap else 0)
        Seq(SectionStatsTracker(output, statsCols, setCols, maxCap,
          spark.sessionState.conf))
      }
    }
    val dataHome = new Path(new Path(rootP, DataDir), nonce)
    fs.mkdirs(dataHome.getParent)
    if (!fs.rename(staging, dataHome))
      sys.error(s"SnapshotTable: could not move staged data $staging " +
        s"into place at $dataHome")
    // the size section is free (this listing returns every length) and
    // always recorded — compaction planning and history's byte
    // accounting then never sweep the filesystem
    val lenByName: Map[String, Long] = fs.listStatus(dataHome)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(st => st.getPath.getName -> st.getLen)
      .toMap
    val stats = trackers.flatMap(_.byFile).toMap
    lenByName.keys.toSeq.sorted.map { name =>
      // a zero-row part file gets no sections: never pruned
      // (superset contract)
      val sections = stats.get(name).filter(_.rows > 0).toSeq.flatMap { f =>
        val ranges = statsCols.zip(f.bounds).map { case (c, (mn, mx)) =>
          s"$c=${mn.fold("")(_.toString)}:${mx.fold("")(_.toString)}"
        }
        val sets = setCols.zip(f.sets).toMap
        // over-cap or saturated: record nothing — the file is never
        // pruned on this column (superset contract); an EMPTY set
        // (all-null file) records `c#`, which equality-prunes
        // everything — a null never equals the probe value
        val cats = categoryCols.flatMap(c =>
          sets(c).filter(_.size <= CategoryCap).map(vs => s"$c#" +
            vs.map(java.net.URLEncoder.encode(_, "UTF-8")).mkString("|")))
        // a bloom past bits/8 distinct values keeps ~everything anyway
        // — record nothing instead of bloating the manifest; an
        // all-null file's empty bloom prunes every probe
        val blooms = bloomCols.flatMap(c =>
          sets(c).filter(_.size <= bloomCap).map { vs =>
            val bs = new java.util.BitSet(bloomBits)
            vs.foreach(v => bloomBitsOf(v, bloomBits, BloomK).foreach(bs.set))
            s"$c~$bloomBits:$BloomK:" + java.util.Base64.getEncoder
              .withoutPadding.encodeToString(bs.toByteArray)
          })
        ranges ++ cats ++ blooms
      }
      s"$DataDir/$nonce/$name\t${(sections :+ s"!${lenByName(name)}").mkString(",")}"
    }
  }

  private def lockPath(root: Path, v: Long): Path =
    new Path(new Path(root, ManifestDir), f"v$v%09d.lock")

  /** Atomically claim version `v`. On `file:` paths the lock is
    * created with `Files.createFile` (O_CREAT|O_EXCL): Hadoop's local
    * `create(overwrite = false)` is an exists-then-create, so two
    * committers could both claim one number. Every other filesystem
    * uses `create(overwrite = false)`, exclusive on HDFS (see the
    * FILESYSTEM CONTRACT note). False means another committer holds
    * (or held) the number — CONTENTION, distinguished from environment
    * faults (permissions, transient FS errors), which are RETHROWN:
    * swallowing them as "claimed" would burn retry attempts on
    * version-number holes and misreport a broken filesystem as a
    * concurrent writer. */
  private[graft] def claimVersion(fs: FileSystem, rootP: Path, v: Long)
      : Boolean =
    try {
      val lock = fs.makeQualified(lockPath(rootP, v))
      if (lock.toUri.getScheme == "file")
        java.nio.file.Files.createFile(java.nio.file.Paths.get(lock.toUri))
      else fs.create(lock, false).close()
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: java.nio.file.FileAlreadyExistsException => false
      case e: java.io.IOException =>
        // RawLocalFileSystem reports an existing target as a bare
        // IOException — verify before classifying as contention
        if (fs.exists(lockPath(rootP, v))) false else throw e
    }

  /** Write `lines` to a temp manifest and atomically rename it onto
    * version `v` (which the caller must have claimed); returns
    * whether OUR content is what got published. On HDFS and `file:`
    * paths the claim rules out a collision, so this is always true.
    * On a filesystem whose create is not exclusive, two committers
    * can both "claim" the same number — depending on the
    * store's rename semantics the loser either fails the rename
    * (target already exists) or replaces-and-is-replaced; both
    * surface here as `false` (rename-refused with an existing target,
    * or a foreign read-back), meaning our content was never
    * published and the caller must retry. A rename failure with NO
    * target present is a genuine environment fault and stays loud. */
  private def renameIntoManifest(fs: FileSystem, rootP: Path, v: Long,
                                 lines: Seq[String]): Boolean = {
    val body = lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val tmp = new Path(new Path(rootP, ManifestDir),
      s".tmp-${java.util.UUID.randomUUID().toString.take(12)}")
    val out = fs.create(tmp, true)
    try out.write(body) finally out.close()
    val target = manifestPath(rootP, v)
    if (!fs.rename(tmp, target)) {
      fs.delete(tmp, false)
      if (fs.exists(target)) return false // a same-number racer won
      sys.error(s"SnapshotTable: rename of the claimed manifest " +
        s"v$v failed at $rootP with no competing manifest present — " +
        "an environment fault (permissions, filesystem), not a race; " +
        "nothing was published")
    }
    readManifest(fs, rootP, v) == lines
  }

  /** Publish `lines` as the next manifest. Returns the committed
    * version. A contended version number is skipped, never shared
    * (see the CONCURRENCY note above). */
  private def publish(fs: FileSystem, rootP: Path, lines: Seq[String])
      : Long = {
    // an EMPTY DataFrame still commits: Spark writes a zero-row
    // part file carrying the schema, so the manifest is never
    // fileless (a schema-only snapshot is a legal table state); a
    // genuinely fileless manifest would mean a writer bug upstream
    require(lines.nonEmpty,
      "SnapshotTable: refusing to publish a fileless manifest — even " +
        "an empty snapshot carries a schema-only part file")
    fs.mkdirs(new Path(rootP, ManifestDir))
    var attempt = 0
    var tried = 0L
    while (attempt < MaxCommitRetries) {
      // skip past both the committed tip and every number we already
      // found claimed — a crashed claim must not wedge the table
      val next = math.max(currentVersion(fs, rootP).getOrElse(0L) + 1, tried + 1)
      tried = next
      // the claim is exclusive, so the target name cannot exist:
      // manifests only ever appear at claimed numbers, claims are
      // never re-grantable, and vacuum only reclaims locks at or
      // below the committed tip (next is above it)
      if (claimVersion(fs, rootP, next) &&
          renameIntoManifest(fs, rootP, next, lines))
        return next
      attempt += 1
    }
    sys.error(s"SnapshotTable: could not claim a version after " +
      s"$MaxCommitRetries attempts at $rootP — a second writer is " +
      "committing concurrently; serialize committers (one writer per " +
      "table is the contract)")
  }

  /** A validated publish's outcome: [[Committed]] at base+1, or
    * [[Conflicted]] — another committer moved the table past the
    * caller's base, so its merge is stale and must be rebased
    * (re-read, re-merge, retry). */
  private sealed trait ValidatedResult
  private case class Committed(version: Long) extends ValidatedResult
  private case object Conflicted extends ValidatedResult

  /** How long a validated publish waits for a contended claim at
    * base+1 to turn into a manifest before declaring the claimer
    * crashed. Claims are held for milliseconds (between claim and
    * rename), so 10 s separates a slow committer from a dead one. */
  private[core] val StaleClaimWaitMs = 10000L

  /** Publish `lines` at EXACTLY base+1, iff the table still stands at
    * `base` — the compare-and-swap a read-merge-commit cycle needs to
    * be serializable (Iceberg's commit validation on the house
    * format). The exclusive claim at base+1 is the linearization
    * point: a competing committer either claimed base+1 first (we
    * wait for its manifest, then report [[Conflicted]] so the caller
    * rebases) or must claim ≥ base+2, where ITS validation fails and
    * IT rebases on top of us. Named cost: a committer that crashes
    * between claim and rename wedges validated commits at this base —
    * reported LOUDLY after [[StaleClaimWaitMs]] with the remediation,
    * never as a silent skip (skipping is exactly the lost update this
    * path exists to prevent). */
  private def publishValidated(fs: FileSystem, rootP: Path,
                               base: Option[Long], lines: Seq[String])
      : ValidatedResult = {
    require(lines.nonEmpty,
      "SnapshotTable: refusing to publish a fileless manifest — even " +
        "an empty snapshot carries a schema-only part file")
    if (currentVersion(fs, rootP) != base) return Conflicted
    val want = base.getOrElse(0L) + 1
    fs.mkdirs(new Path(rootP, ManifestDir))
    if (!claimVersion(fs, rootP, want)) {
      // base+1 is claimed by someone else: a LIVE committer publishes
      // within milliseconds (then we conflict and rebase); a crashed
      // one never will — wait bounded, watching the TABLE, not just
      // the claimed number (the other committer may publish at a
      // different number if it was an unvalidated writer skipping
      // holes)
      val deadline = System.currentTimeMillis() + StaleClaimWaitMs
      while (System.currentTimeMillis() < deadline) {
        if (currentVersion(fs, rootP) != base) return Conflicted
        Thread.sleep(50)
      }
      sys.error(s"SnapshotTable: validated commit at $rootP cannot " +
        s"proceed — v$want is claimed but no manifest appeared within " +
        s"${StaleClaimWaitMs}ms and the table still stands at " +
        s"v${base.getOrElse(0L)}; a committer crashed between claim " +
        "and publish. Confirm the claimer is dead, delete " +
        f"_manifests/v$want%09d.lock, and retry (an unvalidated " +
        "commit/append can skip past the hole, at the cost of the " +
        "lost-update check)")
    }
    // claimed base+1: rename and read back. A non-publish means a
    // best-effort-local-FS racer beat us to the number — our content
    // was never published, so rebase like any other conflict.
    if (renameIntoManifest(fs, rootP, want, lines))
      Committed(want)
    else Conflicted
  }

  /** Retry budget for validated cycles: how many times a
    * read-merge-commit cycle rebases onto a moved table before
    * failing loudly (each retry re-reads, re-merges, re-writes its
    * data files — the orphans of lost attempts are vacuum's to
    * reclaim). */
  private val MaxRebaseRetries = 10

  /** Run one read-merge-commit CYCLE serializably: `attempt` sees the
    * current base version and returns either `Right(lines, out)` —
    * the manifest to publish at base+1 — or `Left(out)` — a no-op
    * against this base (nothing publishes). On conflict the whole
    * attempt re-runs against the new base. This is the rebase loop
    * under every validated API: [[upsertCycle]], [[append]],
    * [[deleteWhereDV]], [[restore]], and through [[copyOnWrite]] the
    * targeted rewrites ([[upsertTargeted]], [[applyChangesCycle]],
    * [[deleteWhere]], [[updateWhere]], [[compactSnapshot]]).
    * Returns (Some(committedVersion) | None-for-no-op, out). */
  private def rebaseLoop[A](fs: FileSystem, rootP: Path)
      (attempt: Option[Long] => Either[A, (Seq[String], A)])
      : (Option[Long], A) = {
    var tries = 0
    while (tries < MaxRebaseRetries) {
      val base = currentVersion(fs, rootP)
      attempt(base) match {
        case Left(out) => return (None, out)
        case Right((lines, out)) =>
          publishValidated(fs, rootP, base, lines) match {
            case Committed(v) => return (Some(v), out)
            case Conflicted => tries += 1
          }
      }
    }
    sys.error(s"SnapshotTable: a read-merge-commit cycle at $rootP " +
      s"lost the commit race $MaxRebaseRetries times in a row — " +
      "another writer is committing continuously; back off or " +
      "serialize the cyclers")
  }

  /** What a [[copyOnWrite]] attempt writes: `rows` (None: nothing, a
    * manifest-only commit) as fresh files recording `sections`, and
    * `step`, the feed step in the `(keys..., change, non-keys...)`
    * shape — built after the publish, still consistent because the
    * base's data files are immutable. */
  private case class Rewrite(rows: Option[DataFrame], sections: Sections,
                             step: () => DataFrame = () =>
                               sys.error("this rewrite records no feed step"))

  /** THE copy-on-write core of every targeted mutation
    * ([[upsertTargeted]], [[applyChangesCycle]], [[deleteWhere]],
    * [[updateWhere]], [[compactSnapshot]]). Per [[rebaseLoop]] attempt:
    * split the base manifest into data and DV entries (none without a
    * base), ask `touch` which data entries to rewrite (None: a no-op,
    * nothing publishes), hand their rows, tombstones applied, to
    * `rewrite` (an empty frame of the base's schema when none is
    * touched, None without a base), and publish the untouched entries
    * VERBATIM (stats preserved) ++ the DV entries if `keepDv` ++ the
    * new files. A `track`ed commit stores the rewrite's step: O(what
    * the mutation touched), never a table diff. Returns (committed
    * version | None, base version or 0, rewritten, kept verbatim). */
  private def copyOnWrite(spark: SparkSession, root: String,
                          track: Boolean, keepDv: Boolean = true)
      (touch: (Option[Long], Seq[String], Seq[String]) => Option[Seq[String]])
      (rewrite: (Seq[String], Option[DataFrame]) => Rewrite)
      : (Option[Long], Long, Int, Int) = {
    val (fs, rootP) = fsOf(spark, root)
    val (v, (bv, rewritten, kept, step)) =
      rebaseLoop[(Long, Int, Int, () => DataFrame)](fs, rootP) { base =>
        val (dataE, dvE) = base.fold((Seq.empty[String], Seq.empty[String]))(
          b => splitEntries(readManifest(fs, rootP, b)))
        val bv = base.getOrElse(0L)
        touch(base, dataE, dvE) match {
          case None => Left((bv, 0, dataE.size, null))
          case Some(touched) =>
            val untouched = dataE.filterNot(touched.toSet)
            val rows = base.map { _ =>
              if (touched.isEmpty)
                readEntriesWithDv(spark, rootP, dataE, dvE).limit(0)
              else readEntriesWithDv(spark, rootP, touched, dvE)
            }
            val r = rewrite(touched, rows)
            val newEntries = r.rows.toSeq.flatMap(
              writeDataFiles(spark, fs, rootP, _, r.sections))
            Right((untouched ++ (if (keepDv) dvE else Nil) ++ newEntries,
              (bv, touched.size, untouched.size, r.step)))
        }
      }
    v.foreach(ver =>
      if (track) recordChangesStep(spark, root, bv, ver, step()))
    (v, bv, rewritten, kept)
  }

  /** The keyed-table contract, enforced loudly: a NULL key would
    * bypass every semi/anti join on the keys (SQL null never equals)
    * and DUPLICATE instead of replacing. `what` names the caller's
    * frame in the message. */
  private def requireNonNullKeys(df: DataFrame, keys: Seq[String],
                                 what: String): Unit = {
    import org.apache.spark.sql.functions.col
    require(df.filter(keys.map(col(_).isNull).reduce(_ || _))
        .limit(1).isEmpty,
      s"$what carries NULL in a key (${keys.mkString(",")}) — keyed " +
        "tables require non-null keys")
  }

  /** `df`'s rows as change-feed rows `(keys..., change, non-keys...)`,
    * each tagged `change`. */
  private def asChanges(df: DataFrame, keys: Seq[String],
                        change: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val nonKeys = df.columns.filterNot(keys.contains).toSeq
    df.select(keys.map(col) ++ Seq(lit(change).as("change")) ++
      nonKeys.map(col): _*)
  }

  /** Commit `df` as the next FULL snapshot (replace semantics — the
    * shape a merge-upsert cycle produces). `statsCols` records
    * per-file long min/max in the manifest for [[scanPruned]].
    * Non-empty `changeKeys` additionally stores the commit's row-level
    * changelog for the CDC feed (see [[readChanges]]); change tracking
    * assumes the table is KEYED on `changeKeys` (unique key per row —
    * what the upsert path maintains). Returns the new version. */
  def commit(spark: SparkSession, root: String, df: DataFrame,
             statsCols: Seq[String] = Nil,
             categoryCols: Seq[String] = Nil,
             changeKeys: Seq[String] = Nil,
             bloomCols: Seq[String] = Nil,
             bloomBits: Int = DefaultBloomBits): Long = {
    val (fs, rootP) = fsOf(spark, root)
    val prev = currentVersion(fs, rootP)
    val v = publish(fs, rootP, writeDataFiles(spark, fs, rootP, df,
      Sections(statsCols, categoryCols, bloomCols, bloomBits)))
    if (changeKeys.nonEmpty) recordChanges(spark, root, prev, v, changeKeys)
    v
  }

  /** Commit `df` as an APPEND snapshot: the new manifest lists every
    * entry of the current snapshot (prior stats preserved verbatim)
    * plus `df`'s new files — no data is rewritten, the format's
    * append is manifest-only. The appended frame's columns must match
    * the current snapshot's (checked LOUDLY): one manifest mixing
    * file schemas would make reads silently drop or misalign columns
    * depending on which file Spark samples first — schema changes go
    * through a full [[commit]] (replace), never an append.
    *
    * A TRACKED append (`changeKeys` non-empty) records its changelog
    * as the appended rows themselves, as inserts — O(batch), read
    * back from the just-written files, never a table diff — which is
    * exact precisely when the appended keys are NEW. That is also the
    * keyed-table contract: append is file-level, so a colliding key
    * would silently DUPLICATE (not replace), breaking every keyed
    * consumer downstream — tracked appends therefore hit-detect the
    * batch keys against the base (the [[upsertTargeted]] machinery:
    * stats/Bloom-pruned, column-pruned key scan) and REFUSE loudly on
    * a collision; a colliding batch belongs in [[upsertTargeted]].
    * Returns the new version. */
  def append(spark: SparkSession, root: String, df: DataFrame,
             statsCols: Seq[String] = Nil,
             categoryCols: Seq[String] = Nil,
             changeKeys: Seq[String] = Nil,
             bloomCols: Seq[String] = Nil,
             bloomBits: Int = DefaultBloomBits): Long = {
    import org.apache.spark.sql.functions._
    val (fs, rootP) = fsOf(spark, root)
    // a NULL key cannot be tracked (and would break the very consumers
    // the feed is for)
    if (changeKeys.nonEmpty)
      requireNonNullKeys(df, changeKeys, "SnapshotTable.append: tracked append")
    def check(bv: Long): Unit = {
      requireSchemaOf(spark, root, bv, df, "SnapshotTable.append")
      if (changeKeys.nonEmpty) {
        val (entries, dvE) = splitEntries(readManifest(fs, rootP, bv))
        val bk = df.select(changeKeys.map(col): _*).distinct()
        val touched = detectTouched(spark, rootP, entries, dvE, changeKeys, bk)
        require(touched.isEmpty,
          s"SnapshotTable.append: tracked append carries keys already " +
            s"present in snapshot v$bv (${touched.size} file(s) hit) — " +
            "append is file-level and would DUPLICATE them; route " +
            "colliding batches through upsertTargeted")
      }
    }
    // fail-fast pre-checks BEFORE the (possibly huge) data write — a
    // mismatched append must not strand a full frame of orphan files
    // for vacuum; the in-loop checks re-run per rebase in case the
    // table moved under us
    currentVersion(fs, rootP).foreach(check)
    // the new data files don't depend on the base version — write them
    // ONCE; only the manifest union re-runs on a rebase (an append is
    // a read-modify-write of the file LIST, so it validates like the
    // cycles: two concurrent appends must both survive into the tip)
    val newEntries = writeDataFiles(spark, fs, rootP, df,
      Sections(statsCols, categoryCols, bloomCols, bloomBits))
    val (v, _) = rebaseLoop(fs, rootP) { base =>
      base.foreach(check)
      val prior = base.map(readManifest(fs, rootP, _)).getOrElse(Nil)
      Right((prior ++ newEntries, base))
    }
    if (changeKeys.nonEmpty) {
      // the feed step is the appended rows as inserts, read back from
      // the just-written files — O(batch) with no lineage re-pay, and
      // exact by the disjointness guard above
      recordChangesStep(spark, root, v.get - 1, v.get,
        asChanges(scan(spark, rootP, newEntries), changeKeys, "insert"))
    }
    v.get
  }

  /** Schema evolution as a MIGRATION COMMIT — the exit ramp for
    * [[append]]'s drift refusal (the reference's add-column evolution,
    * `SURVEY.md` D1, at row scale): read the current snapshot, project
    * each `(name, defaultExpr)` onto it, and publish the widened table
    * as the next FULL version. Old versions keep their old schema
    * (time travel is untouched — each manifest pins its own files);
    * appends of the NEW schema then pass the guard. The rewrite cost
    * is one full-table pass — the honest price of materializing a
    * default into immutable files; a table too large for that should
    * carry the column from birth or virtualize the default in a view.
    *
    * The migration commit deliberately lands UNTRACKED (no change-feed
    * entry): a changelog row cannot straddle two schemas, and every
    * CDC consumer's derived state needs the new column anyway — the
    * chain gap fails them loudly into the re-bootstrap they require
    * (see [[readChanges]]). */
  def evolveAddColumns(spark: SparkSession, root: String,
                       adds: Seq[(String, org.apache.spark.sql.Column)],
                       statsCols: Seq[String] = Nil,
                       categoryCols: Seq[String] = Nil): Long = {
    require(adds.nonEmpty, "evolveAddColumns: nothing to add")
    val cur = read(spark, root)
    adds.foreach { case (n, _) => require(!cur.columns.contains(n),
      s"evolveAddColumns: column '$n' already exists — evolution only " +
        "ADDS columns; rewrite semantics beyond that is a plain commit") }
    val widened = adds.foldLeft(cur) { case (d, (n, c)) => d.withColumn(n, c) }
    commit(spark, root, widened, statsCols, categoryCols)
  }

  /** The current snapshot filtered to `colName` in `[lo, hi]` (both
    * inclusive): `read(...).filter(col(colName).between(lo, hi))`.
    * [[graft.sources.SnapshotFileIndex]] skips every file whose
    * recorded range cannot intersect, so only the files that can match
    * are opened, and the frame holds exactly the matching rows (a
    * caller's own row filter on top is harmless). Use [[pruneCounts]]
    * for the (total, kept) file accounting, and [[scanPrunedEq]] for
    * the categorical (equality) twin. */
  def scanPruned(spark: SparkSession, root: String, colName: String,
                 lo: Long, hi: Long): DataFrame =
    read(spark, root).filter(
      org.apache.spark.sql.functions.col(colName).between(lo, hi))

  /** (total data files, data files kept) for the [[scanPruned]] frame
    * of the same predicate on the current snapshot — the observability
    * half of pruning. */
  def pruneCounts(spark: SparkSession, root: String, colName: String,
                  lo: Long, hi: Long): (Int, Int) =
    keptCounts(spark, root, scanPruned(spark, root, colName, lo, hi))

  /** The current snapshot filtered to `colName = value`, the literal
    * coerced to the column's type by Catalyst. Built for
    * low-cardinality slice columns (lang, source, split) — the single
    * most common 100 TB access pattern ("read only lang=en"): files
    * whose recorded CATEGORY set lacks the value are skipped. Record
    * the sections by committing with `categoryCols` after clustering
    * on the column (`repartition` on it puts each value wholly in a
    * few files); entries without a section are always kept. */
  def scanPrunedEq(spark: SparkSession, root: String, colName: String,
                   value: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    // a bare attribute = literal: the shape entryMayMatch translates
    read(spark, root).filter(col(colName) === lit(value))
  }

  /** (total data files, data files kept) for a [[scanPrunedEq]] probe. */
  def pruneCountsEq(spark: SparkSession, root: String, colName: String,
                    value: String): (Int, Int) =
    keptCounts(spark, root, scanPrunedEq(spark, root, colName, value))

  /** The current snapshot filtered to `colName = value`, like
    * [[scanPrunedEq]] — the POINT-LOOKUP probe for the cardinality
    * band the other two section kinds don't cover: category sets are
    * exact but cap at [[CategoryCap]] distinct values per file,
    * min/max ranges need a range-clustered layout; a Bloom skips files
    * on an UNCLUSTERED commit up to bits/8 distinct values per file.
    * Past that the section is omitted (saturation) and the file is
    * always kept; false positives only cost an extra file open, never
    * a wrong row. For genuinely unique keys at 100 TB (millions of
    * distinct values per file) a manifest-resident Bloom cannot be
    * both small and useful — range-cluster the key and use
    * [[scanPruned]]; the parquet-native bloom written alongside
    * (row-group level) still helps inside kept files. The probe hashes
    * the coerced literal's `cast("string")` form, as the writer did. */
  def scanPrunedBloom(spark: SparkSession, root: String, colName: String,
                      value: String): DataFrame =
    scanPrunedEq(spark, root, colName, value)

  /** (total data files, data files kept) for a [[scanPrunedBloom]] probe. */
  def pruneCountsBloom(spark: SparkSession, root: String, colName: String,
                       value: String): (Int, Int) =
    keptCounts(spark, root, scanPrunedBloom(spark, root, colName, value))

  /** (data files, data files kept) for a filtered [[read]]: what the
    * data-side [[graft.sources.SnapshotFileIndex]] keeps for the
    * filters Spark pushed to its scan, i.e. the files the frame opens
    * when it runs. Planning only, no Spark job. A plan without a data
    * scan (the optimizer proved the filter false) opens no file. */
  private def keptCounts(spark: SparkSession, root: String,
                         pruned: DataFrame): (Int, Int) = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.sources.SnapshotFileIndex
    pruned.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => (s.relation.location, s.dataFilters)
    }.collectFirst {
      case (index: SnapshotFileIndex, filters)
          if !index.entries.exists(isDvEntry) =>
        (index.entries.size, index.kept(filters).size)
    }.getOrElse((dataFiles(spark, root).size, 0))
  }

  /** One incremental upsert cycle against the snapshot table —
    * [[graft.streaming.EventStreams.upsertBatch]]'s semantics
    * (last-writer-wins per key across cycles, deterministic
    * first-writer-wins by `tieBreak` within a cycle) on the
    * snapshot-committed layout: merge the batch with the CURRENT
    * snapshot, commit the merge as the next version, VALIDATED —
    * concurrent cyclers rebase instead of losing the earlier merge.
    * Idempotent in content: re-delivering a cycle (foreachBatch's
    * at-least-once crash replay) publishes a new version with
    * IDENTICAL rows. Concurrent readers keep their pinned snapshot
    * throughout. A first cycle (empty table) resolves the batch alone.
    *
    * WRITE AMPLIFICATION, named: this path REWRITES the whole merged
    * table every cycle — the right shape when a cycle also wants a
    * fresh global layout (stats re-clustered), and an O(table) cost
    * everywhere else. The scale path is [[upsertTargeted]], which
    * rewrites only the files actually holding batch keys. The tracked
    * feed step is batch-scoped all the same (the batch keys' prior
    * rows against the resolved batch), never a whole-table diff. */
  def upsertCycle(batch: DataFrame, root: String, keys: Seq[String],
                  tieBreak: Seq[org.apache.spark.sql.Column] = Nil,
                  statsCols: Seq[String] = Nil,
                  trackChanges: Boolean = false): Long = {
    import org.apache.spark.sql.functions.col
    val spark = batch.sparkSession
    val (fs, rootP) = fsOf(spark, root)
    def merge(frames: DataFrame*): DataFrame =
      graft.operators.Components.mergeFirstWriterWins(frames, keys, tieBreak)
    val resolved = merge(batch)
    val (v, (bv, step)) = rebaseLoop(fs, rootP) { base =>
      val (merged, step) = base match {
        case Some(bv) =>
          val cur = readVersion(spark, root, bv)
          (merge(batch, cur), () => diffOf(
            cur.join(resolved.select(keys.map(col): _*), keys, "left_semi"),
            resolved, keys))
        case None => (resolved, () => asChanges(resolved, keys, "insert"))
      }
      Right((writeDataFiles(spark, fs, rootP, merged, Sections(statsCols)),
        (base.getOrElse(0L), step)))
    }
    if (trackChanges) recordChangesStep(spark, root, bv, v.get, step())
    v.get
  }

  /** How many distinct batch-key values [[upsertTargeted]] will
    * collect to probe manifest Blooms driver-side. Probing costs
    * files × keys × k bit tests on the driver — trivial under this
    * cap, unbounded without one; a larger batch skips the Bloom
    * pre-prune and relies on the scan-side semi-join. */
  private val BloomProbeMaxKeys = 256

  /** The snapshot data `entries` that actually HOLD one of `batchKeys`'
    * key tuples — the shared hit detection of [[upsertTargeted]],
    * [[applyChangesCycle]] and the tracked [[append]]'s collision
    * guard: recorded range stats bound the candidates
    * when every batch key is long-castable, recorded Blooms prune
    * point-wise for small batches (≤ [[BloomProbeMaxKeys]] distinct
    * keys), and the surviving candidates are read KEY COLUMNS ONLY
    * (column-pruned, DV-aware — a key surviving only as a tombstone
    * cannot touch its file) and semi-joined against the batch keys.
    * `batchKeys` must be the batch's DISTINCT, non-null key tuples. */
  private def detectTouched(spark: SparkSession, rootP: Path,
                            entries: Seq[String], dvE: Seq[String],
                            keys: Seq[String], batchKeys: DataFrame)
      : Seq[String] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.expressions.{And,
      AttributeReference, GreaterThanOrEqual, In, LessThanOrEqual, Literal}
    import org.apache.spark.sql.types.{LongType, StringType}
    val keyCol = keys.head
    // manifest pre-prune on the FIRST key: recorded ranges bound
    // candidates ONLY when EVERY batch key casts to long — a mixed
    // batch (say "500" and "legacy-1") must not prune on the castable
    // keys' range alone, or the files holding the non-castable key
    // would escape hit detection and the key would silently duplicate
    // instead of replacing. A key type try_cast cannot take to BIGINT
    // (DATE) has no ranges to prune on: its sections record null bounds
    val rangeCands =
      if (!entries.exists(e => entryStats(e).contains(keyCol)) ||
          !org.apache.spark.sql.catalyst.expressions.Cast.canTryCast(
            batchKeys.select(keyCol).schema.head.dataType,
            org.apache.spark.sql.types.LongType)) entries
      else {
        // try_cast: ANSI cast would fail the cycle on the first
        // non-numeric key instead of skipping the prune
        val kc = expr(s"try_cast($keyCol AS BIGINT)")
        val r = batchKeys.agg(min(kc), max(kc),
          count(col(keyCol)), count(kc)).head()
        if (r.isNullAt(0) || r.isNullAt(1) ||
            r.getLong(2) != r.getLong(3)) entries
        else {
          val k = AttributeReference(keyCol, LongType)()
          val inRange = And(GreaterThanOrEqual(k, Literal(r.getLong(0))),
            LessThanOrEqual(k, Literal(r.getLong(1))))
          entries.filter(entryMayMatch(_, inRange))
        }
      }
    // ...and recorded Blooms prune point-wise for small batches
    val cands =
      if (!rangeCands.exists(e => entryBlooms(e).contains(keyCol)))
        rangeCands
      else {
        val probe = batchKeys.select(col(keyCol).cast("string"))
          .filter(col(keyCol).isNotNull)
          .distinct().limit(BloomProbeMaxKeys + 1)
          .collect().map(_.getString(0))
        if (probe.length > BloomProbeMaxKeys) rangeCands
        else {
          // string literals in the writer's cast("string") hash form
          val anyKey = In(AttributeReference(keyCol, StringType)(),
            probe.toSeq.map(v => Literal(v)))
          rangeCands.filter(entryMayMatch(_, anyKey))
        }
      }
    // hit detection: which candidate files actually HOLD a batch key
    val hit: Set[String] =
      if (cands.isEmpty) Set.empty
      else readWithPos(spark, rootP, cands, dvE)
        .select(keys.map(col) :+ col("__graft_fn"): _*)
        .join(batchKeys, keys, "left_semi")
        .select("__graft_fn").distinct().collect()
        .map(_.getString(0)).toSet
    entries.filter(e => hit.contains(entryName(e)))
  }

  /** The data entries holding a row where `condition` is TRUE — the
    * hit scan of [[deleteWhere]] and [[updateWhere]], DV-aware: an
    * already-tombstoned row can neither re-match (touching its file
    * needlessly) nor resurrect into the rewrite. */
  private def entriesMatching(spark: SparkSession, rootP: Path,
                              dataE: Seq[String], dvE: Seq[String],
                              condition: org.apache.spark.sql.Column)
      : Seq[String] = {
    val hit = readWithPos(spark, rootP, dataE, dvE)
      .filter(condition)
      .select("__graft_fn")
      .distinct().collect().map(_.getString(0)).toSet
    dataE.filter(e => hit.contains(entryName(e)))
  }

  /** One incremental upsert cycle that rewrites ONLY the files
    * actually holding batch keys — [[deleteWhere]]'s manifest-prune +
    * targeted-copy-on-write discipline applied to the keyed merge,
    * killing [[upsertCycle]]'s O(table) write amplification: a 1k-row
    * micro-batch against a 100 TB table touches the handful of files
    * its keys live in, appends the new-key rows as fresh files, and
    * references every other entry VERBATIM with its stats preserved.
    * Same semantics as [[upsertCycle]] (last-writer-wins per key
    * across cycles, `tieBreak` first-writer-wins within the batch),
    * same content-idempotence under at-least-once redelivery, same
    * validated rebase-retry under concurrent cyclers.
    *
    * Finding the touched files is itself sublinear when the table has
    * layout: per-file key ranges ([[scanPruned]]'s stats) bound the
    * candidates when the batch's keys are long-castable, and recorded
    * Blooms are probed driver-side for small batches (≤
    * [[BloomProbeMaxKeys]] distinct keys). Without layout the
    * hit-detection scan reads the candidates' KEY COLUMNS only
    * (column-pruned) and semi-joins the batch — far cheaper than the
    * full-rewrite it replaces, and the scan side Spark broadcasts the
    * small batch under AQE. `trackChanges` records the change feed
    * from the batch-scoped diff (O(batch + touched)), never a
    * whole-table join.
    *
    * Returns (version, filesRewritten, filesKeptVerbatim). */
  def upsertTargeted(batch: DataFrame, root: String, keys: Seq[String],
                     tieBreak: Seq[org.apache.spark.sql.Column] = Nil,
                     statsCols: Seq[String] = Nil,
                     categoryCols: Seq[String] = Nil,
                     bloomCols: Seq[String] = Nil,
                     bloomBits: Int = DefaultBloomBits,
                     trackChanges: Boolean = false): (Long, Int, Int) = {
    import org.apache.spark.sql.functions._
    require(keys.nonEmpty, "upsertTargeted needs merge keys")
    val spark = batch.sparkSession
    val rootP = new Path(root)
    // resolve within-batch duplicates ONCE, outside the rebase loop —
    // the same (priority, tieBreak) ordering upsertCycle's merge uses.
    // CHECKPOINTED: the cycle evaluates the batch several times (key
    // guard, range agg, bloom probe, hit join, data write, feed step,
    // plus every rebase), and a batch with expensive lineage (a fresh
    // crawl's parse/join) must pay that lineage exactly once.
    val resolved = Checkpoints.eager(
      graft.operators.Components
        .mergeFirstWriterWins(Seq(batch), keys, tieBreak))
    try {
      // a NULL key is a silent divergence from upsertCycle's window
      // merge, which groups nulls together
      requireNonNullKeys(resolved, keys, "upsertTargeted: batch")
      // already distinct: mergeFirstWriterWins keeps one row per key
      // tuple, and the guard above rules out null keys — a distinct()
      // here would add a shuffle to every plan that reads batchKeys
      val batchKeys = resolved.select(keys.map(col): _*)
      val (v, _, rewritten, kept) =
        copyOnWrite(spark, root, trackChanges) { (base, entries, dvE) =>
          base.foreach(requireSchemaOf(spark, root, _, resolved,
            "upsertTargeted"))
          Some(detectTouched(spark, rootP, entries, dvE, keys, batchKeys))
        } { (_, touchedRows) =>
          // targeted merge: batch keys leave the touched files (the
          // batch's row wins), everything else in them survives; the
          // resolved batch lands as fresh files. The feed step is
          // batch-scoped: the old state of batch keys is exactly the
          // touched files' matched rows (hit detection guarantees no
          // other file holds a batch key), and upserts never delete,
          // so diffOf emits insert/update only.
          Rewrite(
            Some(touchedRows.fold(resolved)(
              _.join(batchKeys, keys, "left_anti").unionByName(resolved))),
            Sections(statsCols, categoryCols, bloomCols, bloomBits),
            () => touchedRows.fold(asChanges(resolved, keys, "insert"))(
              t => diffOf(t.join(batchKeys, keys, "left_semi"), resolved,
                keys)))
        }
      (v.get, rewritten, kept)
    } finally Checkpoints.free(resolved)
  }

  /** Streaming upsert sink on the snapshot layout — the production
    * scale path [[graft.streaming.EventStreams.upsertSink]]'s scaladoc
    * pointed at: same foreachBatch merge semantics, but each
    * micro-batch COMMITS a snapshot instead of swapping the table
    * directory, so concurrent readers are isolated and history is
    * queryable until vacuumed. Routed through [[upsertTargeted]]:
    * per-trigger cost is O(batch + touched files), never O(table) —
    * a micro-batch sink that rewrote the whole table each trigger
    * would be write-amplification-bound at fact scale.
    *
    * PRECONDITION (inherited from the targeted path, and LOUD): merge
    * keys must be non-null — a micro-batch carrying a null key fails
    * the batch and stops the query, rather than silently duplicating
    * the null-key group. A stream that can emit null keys must filter
    * or repair them before this sink.
    *
    * MAINTENANCE, wired in instead of remembered: every targeted
    * trigger appends fresh files, so a long-running sink fragments the
    * table — `compactEvery` > 0 runs the targeted binpack
    * ([[compactSnapshot]]) after every that-many batches, INSIDE the
    * foreachBatch (the sink is the table's single writer, so the
    * compaction cycle serializes with the upserts for free). On a
    * tracked sink the compaction commit records an EMPTY feed step,
    * keeping the CDC chain gap-free. */
  def upsertSink(stream: DataFrame, root: String, checkpoint: String,
                 keys: Seq[String],
                 tieBreak: Seq[org.apache.spark.sql.Column] = Nil,
                 statsCols: Seq[String] = Nil,
                 trackChanges: Boolean = false,
                 compactEvery: Int = 0,
                 compactTargetBytes: Long = 256L * 1024 * 1024)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        upsertTargeted(batch, root, keys, tieBreak, statsCols,
          trackChanges = trackChanges)
        if (compactEvery > 0 && (id + 1) % compactEvery == 0)
          compactSnapshot(batch.sparkSession, root, compactTargetBytes,
            statsCols, changeKeys = if (trackChanges) keys else Nil)
        ()
      }
      .start()

  /** Row-level DELETE as a COPY-ON-WRITE commit — the
    * right-to-be-forgotten operation every training corpus eventually
    * needs, priced honestly: one scan of the current snapshot finds
    * the files that actually HOLD matching rows, only those are
    * rewritten without them, and every untouched file is referenced
    * verbatim in the new manifest WITH its stats sections preserved
    * (Delta's copy-on-write delete, minus deletion vectors). At
    * 100 TB with the delete key clustered (range/category/z-order
    * layouts this format already records), the rewrite touches the
    * handful of files the key lives in, not the table. A predicate
    * matching nothing publishes nothing. Non-empty `changeKeys`
    * records the deletes in the change feed, so CDC consumers retract
    * downstream state: the touched files' rows where `condition` is
    * TRUE, O(touched), never a table diff. Rewritten files get fresh
    * stats per the `statsCols`/`categoryCols`/`bloomCols` passed here.
    * Returns
    * (version, filesRewritten, filesKeptVerbatim) — version is the
    * PRIOR version when nothing matched. */
  def deleteWhere(spark: SparkSession, root: String,
                  condition: org.apache.spark.sql.Column,
                  changeKeys: Seq[String] = Nil,
                  statsCols: Seq[String] = Nil,
                  categoryCols: Seq[String] = Nil,
                  bloomCols: Seq[String] = Nil,
                  bloomBits: Int = DefaultBloomBits): (Long, Int, Int) = {
    import org.apache.spark.sql.functions._
    val rootP = new Path(root)
    val (v, bv, rewritten, kept) =
      copyOnWrite(spark, root, changeKeys.nonEmpty) { (base, dataE, dvE) =>
        base.getOrElse(throw new IllegalStateException(
          s"SnapshotTable at $root has no committed snapshot to delete from"))
        Some(entriesMatching(spark, rootP, dataE, dvE, condition))
          .filter(_.nonEmpty)
      } { (_, rows) =>
        // survivors are the rows where the predicate is NOT TRUE — a
        // row where the condition evaluates to NULL (e.g. a null in
        // the probed column) was not asked to be deleted, and
        // `!condition` would be NULL too, silently dropping it from
        // the rewrite (and the change feed would then propagate that
        // loss to CDC consumers); Delta's copy-on-write delete keeps
        // not-true rows for exactly this reason. DV entries carry
        // forward verbatim; tombstones naming the rewritten files go
        // stale-but-harmless (those file names left the manifest, the
        // anti-join matches nothing) until a compaction folds
        // everything clean.
        val old = rows.get
        Rewrite(Some(old.filter(!coalesce(condition, lit(false)))),
          Sections(statsCols, categoryCols, bloomCols, bloomBits),
          () => asChanges(old.filter(condition), changeKeys, "delete"))
      }
    (v.getOrElse(bv), rewritten, kept)
  }

  /** Row-level DELETE as MERGE-ON-READ deletion vectors — the
    * complement of [[deleteWhere]]'s copy-on-write for the scattered-
    * delete shape (GDPR keys spread across many fat files), where COW
    * would rewrite a whole file per point delete: NO data file is
    * rewritten at all. Matching rows are recorded as positional
    * tombstones `(file_name, row_index)` in a small parquet sidecar
    * under `_dv/`, referenced by the new manifest like any entry, and
    * every read ([[read]]/[[readVersion]]/[[scanPruned]]*) anti-joins
    * them out (Delta's deletion vectors / Iceberg v2 position deletes,
    * on the house format). The read-side price is one broadcast
    * anti-join per scan until [[compactSnapshot]] folds the tombstones
    * back into clean data files; sidecars accumulate per delete, so
    * compact on the same cadence as small files. Time travel, stats
    * pruning (tombstoned rows only ever OVER-keep a file — the
    * superset contract holds), the validated rebase loop and vacuum
    * all compose unchanged. Rows where `condition` is NULL are kept,
    * like [[deleteWhere]]. Non-empty `changeKeys` records the deleted
    * rows in the change feed from the matched set — O(matched), never
    * a table diff. Returns (version, tombstonedRows, dvFilesAdded) —
    * the PRIOR version and zero counts when nothing matched. */
  def deleteWhereDV(spark: SparkSession, root: String,
                    condition: org.apache.spark.sql.Column,
                    changeKeys: Seq[String] = Nil): (Long, Long, Int) = {
    import org.apache.spark.sql.functions._
    val (fs, rootP) = fsOf(spark, root)
    val (nv, out) =
      rebaseLoop[(Long, Long, Int, () => DataFrame)](fs, rootP) { base =>
        val bv = base.getOrElse(throw new IllegalStateException(
          s"SnapshotTable at $root has no committed snapshot to delete from"))
        val (dataE, dvE) = splitEntries(readManifest(fs, rootP, bv))
        // DV-aware matching: a row already tombstoned cannot be
        // re-deleted (its change-feed row would double-retract)
        val matched = readWithPos(spark, rootP, dataE, dvE)
          .filter(condition)
        // one sidecar file per delete operation: tombstones are tiny
        // (two columns), and the repartition keeps the matching SCAN
        // parallel while collapsing only the small write
        val nonce = java.util.UUID.randomUUID().toString.take(12)
        val staging = new Path(new Path(rootP, StagingDir), s"dv-$nonce")
        matched.select(col("__graft_fn").as("file_name"),
            col("__graft_ri").as("row_index"))
          .repartition(1)
          .write.mode("overwrite").option("compression", "zstd")
          .parquet(staging.toString)
        // the tombstone count is the staged files' footer row counts:
        // one listing, no read-back job
        val staged = fs.listStatus(staging)
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
          .map(st => s"${st.getPath.getName}\t!${st.getLen}")
          .sorted.toSeq
        val n = graft.sources.SnapshotFileIndex(spark, rootP,
          staged.map(e => s"$StagingDir/dv-$nonce/$e")).rowCount
        if (n == 0L) { fs.delete(staging, true); Left((bv, 0L, 0, null)) }
        else {
          val dvHome = new Path(new Path(rootP, DvDir), nonce)
          fs.mkdirs(dvHome.getParent)
          if (!fs.rename(staging, dvHome))
            sys.error(s"SnapshotTable: could not move staged deletion " +
              s"vector $staging into place at $dvHome")
          val newDv = staged.map(e => s"$DvDir/$nonce/$e")
          // feed step: the matched rows as deletes — lazy, and still
          // consistent post-commit (base data files are immutable)
          val step = () => asChanges(
            matched.drop("__graft_fn", "__graft_ri"), changeKeys, "delete")
          Right((dataE ++ dvE ++ newDv, (bv, n, newDv.size, step)))
        }
      }
    val (bv, n, dvFiles, step) = out
    nv.foreach(v =>
      if (changeKeys.nonEmpty) recordChangesStep(spark, root, bv, v, step()))
    (nv.getOrElse(bv), n, dvFiles)
  }

  /** ROLLBACK as a manifest-only commit — Delta RESTORE / Iceberg
    * rollback on the house format: publish `toVersion`'s manifest
    * lines (data entries, stats sections, deletion vectors — all
    * verbatim) as the NEXT version. No data moves or rewrites: the
    * restored files are immutable and still on disk as long as
    * `toVersion` is retained (vacuum keeps the new tip's references
    * alive from the commit on). History stays append-only — the bad
    * versions remain time-travelable until vacuumed, which is what
    * makes restore auditable instead of destructive. Serializes with
    * concurrent cyclers through the validated publish. Non-empty
    * `changeKeys` records the restore's row-level effect in the
    * change feed (one keyed diff of tip vs target — the honest price
    * of keeping CDC consumers consistent across a rollback; restores
    * are rare). Returns the new version. */
  def restore(spark: SparkSession, root: String, toVersion: Long,
              changeKeys: Seq[String] = Nil): Long = {
    val (fs, rootP) = fsOf(spark, root)
    if (!fs.exists(manifestPath(rootP, toVersion)))
      throw new IllegalStateException(
        s"SnapshotTable at $root has no committed manifest v$toVersion " +
          "to restore (never committed, or vacuumed past)")
    val lines = readManifest(fs, rootP, toVersion)
    val (v, base) = rebaseLoop(fs, rootP) { base =>
      Right((lines, base))
    }
    if (changeKeys.nonEmpty)
      recordChanges(spark, root, base, v.get, changeKeys)
    v.get
  }

  /** Row-level UPDATE as a TARGETED copy-on-write commit — the
    * in-place-repair operation (fix a mislabeled source, bump a
    * schema-stable derived column) priced like [[deleteWhere]]: one
    * DV-aware scan finds the files actually HOLDING rows where
    * `condition` is TRUE, only those are rewritten with each `sets`
    * column replaced by `when(condition, expr).otherwise(old)` — all
    * sets applied in ONE projection against the original row, so the
    * condition and every set's right-hand side see PRE-update values
    * even when they reference another set column (SQL UPDATE
    * semantics) — and every untouched entry is referenced verbatim
    * with stats preserved. `sets` columns must already exist (schema changes go
    * through [[evolveAddColumns]]). NULL-condition rows are left
    * unchanged, like the deletes. Non-empty `changeKeys` records the
    * feed from the touched files' before/after diff — O(touched),
    * never a table join. Returns (version, filesRewritten,
    * filesKeptVerbatim) — the PRIOR version when nothing matched. */
  def updateWhere(spark: SparkSession, root: String,
                  condition: org.apache.spark.sql.Column,
                  sets: Seq[(String, org.apache.spark.sql.Column)],
                  changeKeys: Seq[String] = Nil,
                  statsCols: Seq[String] = Nil,
                  categoryCols: Seq[String] = Nil,
                  bloomCols: Seq[String] = Nil,
                  bloomBits: Int = DefaultBloomBits): (Long, Int, Int) = {
    import org.apache.spark.sql.functions._
    require(sets.nonEmpty, "updateWhere: nothing to set")
    require(sets.map(_._1).distinct.size == sets.size,
      s"updateWhere: duplicate set column in " +
        s"(${sets.map(_._1).mkString(",")}) — one expression per column")
    val rootP = new Path(root)
    val (v, bv, rewritten, kept) =
      copyOnWrite(spark, root, changeKeys.nonEmpty) { (base, dataE, dvE) =>
        val bv = base.getOrElse(throw new IllegalStateException(
          s"SnapshotTable at $root has no committed snapshot to update"))
        sets.foreach { case (n, _) =>
          require(
            readVersion(spark, root, bv).columns.contains(n),
            s"updateWhere: column '$n' does not exist — updates never " +
              "change the schema; evolveAddColumns first") }
        Some(entriesMatching(spark, rootP, dataE, dvE, condition))
          .filter(_.nonEmpty)
      } { (_, rows) =>
        val oldRows = rows.get
        // NOT-TRUE rows pass through unchanged (NULL-safe, like the
        // deletes); TRUE rows get each set column replaced — in ONE
        // projection, so the condition AND every set's right-hand
        // side resolve against the ORIGINAL row (SQL UPDATE
        // semantics). A sequential withColumn chain would re-resolve
        // them against already-updated columns: for
        // SET status='done', ts=x WHERE status='pending', the second
        // withColumn's condition re-reads the REWRITTEN status,
        // evaluates false, and ts silently keeps its old value.
        val setBy = sets.toMap
        val newRows = oldRows.select(oldRows.columns.toSeq.map { c =>
          setBy.get(c) match {
            case Some(e) => when(coalesce(condition, lit(false)), e)
              .otherwise(col(c)).as(c)
            case None => col(c)
          }
        }: _*)
        Rewrite(Some(newRows),
          Sections(statsCols, categoryCols, bloomCols, bloomBits),
          () => diffOf(oldRows, newRows, changeKeys))
      }
    (v.getOrElse(bv), rewritten, kept)
  }

  /** The newest version committed AT OR BEFORE `asOfMs` — wall-clock
    * time travel over the retained window, resolved from each
    * manifest's modification time (set by the publish rename, the
    * commit's linearization point). Loud when nothing retained is that
    * old: silently answering with a YOUNGER version would misreport
    * history, and the honest answers are "vacuumed past" or "table
    * did not exist yet". */
  def versionAsOf(spark: SparkSession, root: String, asOfMs: Long): Long = {
    val (fs, rootP) = fsOf(spark, root)
    val eligible = versions(spark, root)
      .filter(v => fs.getFileStatus(manifestPath(rootP, v))
        .getModificationTime <= asOfMs)
    if (eligible.isEmpty) throw new IllegalStateException(
      s"SnapshotTable at $root has no retained version committed at or " +
        s"before $asOfMs — vacuumed past, or the table is younger")
    eligible.max
  }

  /** [[readVersion]] at the wall-clock instant `asOfMs`. */
  def readAsOf(spark: SparkSession, root: String, asOfMs: Long): DataFrame =
    readVersion(spark, root, versionAsOf(spark, root, asOfMs))

  /** Operational history — one row per RETAINED version, newest last:
    * (version, committed_at epoch ms from the manifest's mtime,
    * n_files, n_bytes from the manifest's own entries, tracked =
    * whether a change-feed step is stored, tags = comma-joined tag
    * names pinning the version). The format's DESCRIBE HISTORY,
    * assembled from manifests alone — the row count is the retention
    * window, so building it driver-side is bounded by [[vacuum]]'s
    * horizon, never by table size. */
  def history(spark: SparkSession, root: String): DataFrame = {
    val (fs, rootP) = fsOf(spark, root)
    val chg = changeVersions(spark, root).toSet
    val tagByV = tags(spark, root).toSeq.groupBy(_._2)
      .map { case (v, ts) => v -> ts.map(_._1).sorted.mkString(",") }
    val rows = versions(spark, root).map { v =>
      val entries = readManifest(fs, rootP, v)
      val bytes = entries.map(e => entryBytes(e).getOrElse(
        fs.getFileStatus(new Path(rootP, entryPath(e))).getLen)).sum
      org.apache.spark.sql.Row(v,
        fs.getFileStatus(manifestPath(rootP, v)).getModificationTime,
        entries.size, bytes, chg.contains(v), tagByV.getOrElse(v, ""))
    }
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("version",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("committed_at",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("n_files",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("n_bytes",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("tracked",
          org.apache.spark.sql.types.BooleanType, nullable = false),
        org.apache.spark.sql.types.StructField("tags",
          org.apache.spark.sql.types.StringType, nullable = false))))
  }

  // --- named refs (tags) ---

  private val RefsDir = "_refs"
  private val RefNameRe = "[A-Za-z0-9._-]+"

  private def refPath(root: Path, name: String): Path =
    new Path(new Path(root, RefsDir), name)

  /** Pin an IMMUTABLE named tag at a committed version — the
    * provenance primitive a training pipeline needs ("the exact corpus
    * model X trained on"): [[vacuum]] keeps tagged versions (manifest,
    * data files, change feed) readable regardless of `keepVersions`,
    * so a tag is a retention lease, not just a name. Tags are
    * WRITE-ONCE (`create(overwrite = false)`, the claim primitive):
    * re-pointing a tag is refused loudly — delete it explicitly with
    * [[dropTag]] if that is really meant. */
  def tag(spark: SparkSession, root: String, name: String,
          version: Long): Unit = {
    require(name.matches(RefNameRe),
      s"tag name '$name' is not $RefNameRe")
    val (fs, rootP) = fsOf(spark, root)
    if (!fs.exists(manifestPath(rootP, version)))
      throw new IllegalStateException(
        s"SnapshotTable at $root has no committed manifest v$version to tag")
    fs.mkdirs(new Path(rootP, RefsDir))
    val out = try fs.create(refPath(rootP, name), false)
      catch { case _: java.io.IOException =>
        sys.error(s"SnapshotTable tag '$name' already exists at $root — " +
          "tags are immutable; dropTag it first if re-pointing is meant")
      }
    try out.write(version.toString.getBytes(
      java.nio.charset.StandardCharsets.UTF_8)) finally out.close()
  }

  /** All tags, name → version. */
  def tags(spark: SparkSession, root: String): Map[String, Long] = {
    val (fs, rootP) = fsOf(spark, root)
    val rd = new Path(rootP, RefsDir)
    if (!fs.exists(rd)) return Map.empty
    fs.listStatus(rd).iterator.filter(_.isFile).map { st =>
      val in = fs.open(st.getPath)
      try {
        // loop to EOF — a single read() may return short on Hadoop
        // streams, truncating the version string into a wrong parse
        val bos = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](64)
        var n = in.read(buf)
        while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
        st.getPath.getName -> new String(bos.toByteArray,
          java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      } finally in.close()
    }.toMap
  }

  /** The snapshot a tag pins — loud on an unknown tag. */
  def readTag(spark: SparkSession, root: String, name: String): DataFrame = {
    val v = tags(spark, root).getOrElse(name,
      throw new IllegalStateException(
        s"SnapshotTable at $root has no tag '$name'"))
    readVersion(spark, root, v)
  }

  /** Remove a tag (the version becomes vacuum-eligible again). */
  def dropTag(spark: SparkSession, root: String, name: String): Boolean = {
    val (fs, rootP) = fsOf(spark, root)
    fs.delete(refPath(rootP, name), false)
  }

  /** Apply one CHANGELOG micro-batch to a DERIVED keyed snapshot
    * table — the maintenance step of a CDC-driven MATERIALIZED VIEW,
    * the consumer the `snapshot-changes` stream exists for: `changes`
    * carries `(keys..., change, source-cols..., version)` rows (the
    * stored feed's shape); `transform` maps the surviving source rows
    * to the view's rows (e.g. recompute an embedding). Per key, the
    * batch's HIGHEST version wins (a micro-batch may carry several
    * commits' steps for one key — only the net state matters);
    * insert/update keys are re-derived through `transform`, delete
    * keys leave the view. Idempotent in content: re-delivering a batch
    * (foreachBatch's at-least-once crash replay) publishes a new
    * version with IDENTICAL rows (the re-delivered keys' files
    * rewrite again, to the same content).
    *
    * Scale shape — [[upsertTargeted]]'s discipline, NOT a view
    * rewrite: one keyed dedup of the (small) batch, then hit-detect
    * the view files actually HOLDING batch keys (manifest range +
    * Bloom pre-prune, column-pruned DV-aware key scan semi-joined
    * against the batch keys), COW-rewrite ONLY those files with the
    * batch keys removed (feed deletes never return, upserts come back
    * re-derived as fresh rows in the rewrite), and reference every
    * other entry VERBATIM with its stats preserved. Per trigger the
    * maintained view pays O(batch + touched files), never O(view) —
    * a 1k-row feed step against a 100 TB derived view touches the
    * handful of files its keys live in. Give the view layout on the
    * key (`statsCols`/`bloomCols` on it) and the hit detection is
    * sublinear in FILES too, not just bytes.
    *
    * Returns (version, filesRewritten, filesKeptVerbatim). */
  def applyChangesCycle(changes: DataFrame, root: String,
                        keys: Seq[String],
                        derive: DataFrame => DataFrame,
                        statsCols: Seq[String] = Nil,
                        categoryCols: Seq[String] = Nil,
                        bloomCols: Seq[String] = Nil,
                        bloomBits: Int = DefaultBloomBits): (Long, Int, Int) = {
    import org.apache.spark.sql.functions._
    val spark = changes.sparkSession
    // net state per key ONCE, outside the rebase loop; checkpointed —
    // the cycle evaluates it several times (key guard, hit join per
    // rebase, the derive under the data write), and the feed step may
    // carry expensive lineage
    val net = Checkpoints.eager(
      graft.operators.Components.mergeFirstWriterWins(
        Seq(changes), keys, Seq(col("version") * -1)))
    try {
      // a NULL key would strand stale view rows instead of replacing them
      requireNonNullKeys(net, keys, "applyChangesCycle: feed batch")
      val ups = derive(net.filter(col("change") =!= "delete")
        .drop("change", "version"))
      // already distinct: net holds one row per key tuple, none null
      val batchKeys = net.select(keys.map(col): _*)
      val rootP = new Path(root)
      // stats/category/bloom sections recorded per cycle, so the
      // CDC-maintained view prunes like any hand-committed table — no
      // dedicated stats pass needed downstream
      val (v, _, rewritten, kept) =
        copyOnWrite(spark, root, track = false) { (_, entries, dvE) =>
          Some(detectTouched(spark, rootP, entries, dvE, keys, batchKeys))
        } { (_, touchedRows) =>
          // drop EVERY batch key from the touched files (deletes never
          // return, upserts come back re-derived), keep the files'
          // other rows; untouched entries never move
          Rewrite(
            Some(touchedRows.fold(ups)(
              _.join(batchKeys, keys, "left_anti").unionByName(ups))),
            Sections(statsCols, categoryCols, bloomCols, bloomBits))
        }
      (v.get, rewritten, kept)
    } finally Checkpoints.free(net)
  }

  /** Z-ORDERED commit: [[Catalog.writeZOrdered]]'s layout trick
    * composed with the snapshot format — interleave `colA`/`colB`
    * low bits into a range-partition key so every data file spans a
    * narrow RECTANGLE of both dimensions, then commit with min/max
    * stats recorded for BOTH columns. [[scanPruned]] on EITHER
    * column then skips most files (the two-dimensional pruning
    * Iceberg gets from OPTIMIZE ZORDER), and parquet's own row-group
    * stats prune further inside the kept files. One range exchange —
    * exactly the shuffle any global layout costs. */
  def commitZOrdered(spark: SparkSession, root: String, df: DataFrame,
                     colA: String, colB: String, nFiles: Int = 64,
                     categoryCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.col
    val laid = df.withColumn("__zkey",
        graft.plans.LayoutExpressions.zorder_key(col(colA), col(colB)))
      .repartitionByRange(nFiles, col("__zkey"))
      .sortWithinPartitions("__zkey")
      .drop("__zkey")
    // categoryCols: a z-ordered corpus usually ALSO carries
    // low-cardinality slice columns (lang, source) that correlate with
    // the layout key — recording their per-file sets lets
    // [[scanPrunedEq]] equality-prune the same files the range stats
    // already bound
    commit(spark, root, laid, statsCols = Seq(colA, colB),
      categoryCols = categoryCols)
  }

  /** TARGETED small-file compaction AS A COMMIT (Iceberg's
    * rewrite-data-files binpack on the house format): rewrite ONLY
    * (a) files carrying LIVE deletion-vector tombstones — folding the
    * tombstones into clean data — and (b) under-threshold files
    * (< 3/4 of `targetFileBytes`, binpacked together into
    * ceil(bytes / targetFileBytes) outputs via coalesce, a NARROW
    * repartitioning); every already-compact clean file is referenced
    * VERBATIM with its stats sections preserved. A full-table rewrite
    * here would make [[deleteWhereDV]]'s zero-rewrite promise a
    * deferred O(table) cost — one small tombstone sidecar must only
    * ever rewrite the files it actually names. Compaction is just
    * another snapshot: readers pinned on the fragmented version
    * finish unaffected, and vacuum reclaims it once it leaves the
    * retained window. The committed manifest drops ALL sidecar
    * entries — every live tombstone's file is in the rewrite set by
    * construction, so surviving sidecars would be stale; a manifest
    * whose sidecars are ALL stale already (their files left via
    * [[deleteWhere]]/[[upsertTargeted]] rewrites) publishes a
    * MANIFEST-ONLY commit shedding them. No-op (returns None) when
    * there is nothing to fold and fewer than two under-threshold
    * files. Incremental sinks NEED this: every upsert/append cycle
    * adds files, and at 100 TB the task-per-tiny-file overhead
    * dominates scans. `statsCols` records pruning stats for the
    * rewritten files (merged files span wider ranges — re-recording
    * keeps [[scanPruned]] honest; untouched files keep the stats they
    * had). Every category and Bloom column recorded on a folded file is
    * recorded again on the rewritten files (Blooms at the widest width
    * recorded there), so [[scanPrunedEq]] and [[scanPrunedBloom]] keep
    * pruning them. On a TRACKED table pass `changeKeys` so the published
    * commit records an EMPTY feed step (compaction changes no rows)
    * instead of an absent one — an absent step is a chain GAP that
    * fails CDC consumers loudly by design. Returns
    * Some((version, filesRewritten, filesKeptVerbatim)) when a commit
    * published. */
  def compactSnapshot(spark: SparkSession, root: String,
                      targetFileBytes: Long = 256L * 1024 * 1024,
                      statsCols: Seq[String] = Nil,
                      changeKeys: Seq[String] = Nil)
      : Option[(Long, Int, Int)] = {
    require(targetFileBytes >= 1L, "targetFileBytes must be >= 1")
    val (fs, rootP) = fsOf(spark, root)
    // recorded sizes when present (manifest-only planning — no
    // per-file filesystem sweep), getFileStatus only for pre-size
    // manifests
    def size(e: String): Long = entryBytes(e).getOrElse(
      fs.getFileStatus(new Path(rootP, entryPath(e))).getLen)
    // binpack split: DV-bearing files rewrite regardless of size
    // (folding is the point); clean files rewrite only when under 3/4
    // of target (Iceberg's min-file-size default) AND there are at
    // least two of them to merge
    val minBytes = targetFileBytes - targetFileBytes / 4
    // the commit drops ALL sidecar entries: every live tombstone's
    // file is rewritten, the rest are stale
    val (v, _, rewritten, kept) = copyOnWrite(spark, root,
        changeKeys.nonEmpty, keepDv = false) { (base, dataE, dvE) =>
      base.getOrElse(throw new IllegalStateException(
        s"SnapshotTable at $root has no committed snapshot to compact"))
      // LIVE tombstoned files: sidecar-named files still in the
      // manifest (a rewrite by deleteWhere/upsertTargeted leaves a
      // sidecar's names stale-but-harmless — those must not force
      // anything). The sidecars are tiny; collecting their distinct
      // file names is bounded by the delete volume, never the table.
      val dvHit: Set[String] =
        if (dvE.isEmpty) Set.empty
        else scan(spark, rootP, dvE)
          .select("file_name").distinct().collect()
          .map(_.getString(0)).toSet.intersect(dataE.map(entryName).toSet)
      val small = dataE.filter(e =>
        dvHit.contains(entryName(e)) || size(e) < minBytes)
      // nothing to fold or merge: shed all-stale sidecars with a
      // manifest-only commit so reads stop paying their anti-join
      if (dvHit.nonEmpty || small.size >= 2) Some(small)
      else if (dvE.nonEmpty) Some(Nil)
      else None
    } { (touched, rows) =>
      val want = math.max(1, math.ceil(
        touched.map(size).sum.toDouble / targetFileBytes).toInt)
      // the folded files' category and Bloom columns carry over, so
      // equality and point lookups still prune the compacted files;
      // Blooms keep the widest width recorded on them
      val blooms = touched.flatMap(entryBlooms(_).toSeq)
      // a TRACKED table's compaction must keep the change chain
      // unbroken: the commit changes no rows, so its feed step is EMPTY
      // — schema-shaped, zero rows — rather than absent (an absent step
      // is a chain GAP that fails every CDC consumer loudly, by design)
      Rewrite(
        if (touched.isEmpty) None else rows.map(_.coalesce(want)),
        Sections(statsCols,
          touched.flatMap(entryCategories(_).keys).distinct.sorted,
          blooms.map(_._1).distinct.sorted,
          if (blooms.isEmpty) DefaultBloomBits else blooms.map(_._2._1).max),
        () => asChanges(rows.get.limit(0), changeKeys, "insert"))
    }
    v.map(ver => (ver, rewritten, kept))
  }

  /** Can a file possibly hold rows matching `filter`? — THE pruning
    * predicate, evaluated against ONE manifest entry's recorded
    * sections. Every file skip goes through it:
    * [[graft.sources.SnapshotFileIndex]] applies it to Spark's
    * pushed-down data filters on every [[read]] (so the `scanPruned*`
    * wrappers and `pruneCounts*` too), and [[detectTouched]]'s
    * pre-prunes build their range and key-set predicates for it.
    * Strictly a SUPERSET decision (`true` = keep): untranslatable
    * shapes, columns without sections, and non-integral literals all
    * keep the file — Spark still applies the row filter on top, so a
    * kept-too-much file costs a file open, never a wrong row. The
    * entry's sections are parsed at most once per call, however many
    * literals the filter holds.
    *
    * Translated shapes, on a bare attribute: `=`/`<=>` (range ∩
    * category ∩ bloom — the category/bloom probe uses the literal's
    * `cast("string")` form, matching what the writer hashed),
    * `<`,`<=`,`>`,`>=` on integral literals (recorded long ranges),
    * `IN` (any value may match), `AND` (both sides must keep), `OR`
    * (either side keeps). `NOT` and everything else keep
    * unconditionally. */
  private[graft] def entryMayMatch(entry: String,
      filter: org.apache.spark.sql.catalyst.expressions.Expression)
      : Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types._
    lazy val stats = entryStats(entry)
    lazy val categories = entryCategories(entry)
    lazy val blooms = entryBlooms(entry)
    // the literal's long value when exact (integral types only — a
    // double's truncation under try_cast is sound for equality but
    // subtle for open ranges; keep is always safe, so keep)
    def asLong(l: Literal): Option[Long] = l.dataType match {
      case ByteType => Some(l.value.asInstanceOf[Byte].toLong)
      case ShortType => Some(l.value.asInstanceOf[Short].toLong)
      case IntegerType => Some(l.value.asInstanceOf[Int].toLong)
      case LongType => Some(l.value.asInstanceOf[Long])
      case StringType =>
        val s = l.value.toString
        if (s.matches("-?\\d{1,18}")) Some(s.toLong) else None
      case _ => None
    }
    // the literal in the writer's category/bloom hash form
    // (`col.cast("string")`); None for types whose cast form we do
    // not reproduce byte-exactly (float/double/date/timestamp)
    def asString(l: Literal): Option[String] = l.dataType match {
      case StringType | ByteType | ShortType | IntegerType | LongType |
           BooleanType =>
        Option(l.value).map(_.toString)
      case _ => None
    }
    def rangeKeep(name: String, lo: Option[Long], hi: Option[Long])
        : Boolean =
      stats.get(name) match {
        case Some((mn, mx)) =>
          lo.forall(l => mx.forall(_ >= l)) &&
            hi.forall(h => mn.forall(_ <= h))
        case None => true
      }
    def eqKeep(name: String, l: Literal): Boolean =
      l.value == null || // null-safe-eq-null: stats blind
        asLong(l).forall(v => rangeKeep(name, Some(v), Some(v))) &&
          asString(l).forall { s =>
            categories.get(name).forall(_.contains(s)) &&
              blooms.get(name).forall { case (m, k, bits) =>
                bloomBitsOf(s, m, k).forall(bits.get) }
          }
    def keep(f: Expression): Boolean = f match {
      case And(l, r) => keep(l) && keep(r)
      case Or(l, r) => keep(l) || keep(r)
      case EqualTo(a: AttributeReference, l: Literal) => eqKeep(a.name, l)
      case EqualTo(l: Literal, a: AttributeReference) => eqKeep(a.name, l)
      case EqualNullSafe(a: AttributeReference, l: Literal) => eqKeep(a.name, l)
      case EqualNullSafe(l: Literal, a: AttributeReference) => eqKeep(a.name, l)
      case GreaterThan(a: AttributeReference, l: Literal) =>
        asLong(l).forall(v => rangeKeep(a.name, Some(v + 1), None))
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
        asLong(l).forall(v => rangeKeep(a.name, Some(v), None))
      case LessThan(a: AttributeReference, l: Literal) =>
        asLong(l).forall(v => rangeKeep(a.name, None, Some(v - 1)))
      case LessThanOrEqual(a: AttributeReference, l: Literal) =>
        asLong(l).forall(v => rangeKeep(a.name, None, Some(v)))
      // literal-on-the-left comparisons, mirrored
      case GreaterThan(l: Literal, a: AttributeReference) =>
        asLong(l).forall(v => rangeKeep(a.name, None, Some(v - 1)))
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
        asLong(l).forall(v => rangeKeep(a.name, None, Some(v)))
      case LessThan(l: Literal, a: AttributeReference) =>
        asLong(l).forall(v => rangeKeep(a.name, Some(v + 1), None))
      case LessThanOrEqual(l: Literal, a: AttributeReference) =>
        asLong(l).forall(v => rangeKeep(a.name, Some(v), None))
      case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        vs.isEmpty || vs.exists(v => eqKeep(a.name, v.asInstanceOf[Literal]))
      // the optimizer rewrites IN lists past
      // spark.sql.optimizer.inSetConversionThreshold (default 10) to
      // InSet over INTERNAL values — re-wrap them as typed literals
      // so a 50-key lookup still prunes
      case InSet(a: AttributeReference, hset) =>
        hset.isEmpty ||
          hset.exists(v => eqKeep(a.name, Literal(v, a.dataType)))
      case _ => true
    }
    keep(filter)
  }

  /** Root-relative DATA-file paths of the current snapshot's manifest
    * — the file-level observability API (Delta's DESCRIBE DETAIL /
    * `inputFiles` idea), resolved from the manifest WITHOUT planning a
    * scan: usable while deletion vectors are live, where
    * `input_file_name()` is unavailable on the joined read plan
    * (Spark refuses the expression over multi-source plans). The
    * verbatim-reference proofs (which files survived a targeted
    * rewrite) read THIS, not the scan. */
  def dataFiles(spark: SparkSession, root: String): Seq[String] = {
    val (fs, rootP) = fsOf(spark, root)
    val v = currentVersion(fs, rootP).getOrElse(throw new IllegalStateException(
      s"SnapshotTable at $root has no committed snapshot"))
    splitEntries(readManifest(fs, rootP, v))._1.map(entryPath)
  }

  /** Deletion-vector sidecar FILES the current snapshot references —
    * the read-amplification meter for [[deleteWhereDV]]: every scan
    * pays one anti-join while any sidecar is live, and each delete
    * operation adds one more, so the count is the policy knob
    * [[compactIfDvHeavy]] bounds. */
  def dvFileCount(spark: SparkSession, root: String): Int = {
    val (fs, rootP) = fsOf(spark, root)
    val v = currentVersion(fs, rootP).getOrElse(throw new IllegalStateException(
      s"SnapshotTable at $root has no committed snapshot"))
    splitEntries(readManifest(fs, rootP, v))._2.size
  }

  /** Policy hook bounding [[deleteWhereDV]]'s read amplification: run
    * [[compactSnapshot]] iff the current snapshot references MORE than
    * `maxDvFiles` sidecar files — the scheduled-maintenance shape
    * (call it after each delete, or on the vacuum cadence) that keeps
    * the per-scan anti-join cost bounded by POLICY instead of operator
    * discipline. With the targeted binpack underneath, the triggered
    * pass rewrites only the tombstoned and under-threshold files,
    * never the table. Returns None when under the bound or when
    * compaction had nothing to do. */
  def compactIfDvHeavy(spark: SparkSession, root: String,
                       maxDvFiles: Int = 8,
                       targetFileBytes: Long = 256L * 1024 * 1024,
                       statsCols: Seq[String] = Nil,
                       changeKeys: Seq[String] = Nil)
      : Option[(Long, Int, Int)] = {
    require(maxDvFiles >= 0, "maxDvFiles must be >= 0")
    if (dvFileCount(spark, root) <= maxDvFiles) None
    else compactSnapshot(spark, root, targetFileBytes, statsCols,
      changeKeys)
  }

  /** Row-level CHANGELOG between two committed snapshots — the "what
    * did cycle N change" question every incremental consumer asks
    * (re-embed only updated docs, retract deleted ones downstream),
    * answered from the retained manifests without any stored delta:
    * one row per key whose state differs between `vFrom` and `vTo`,
    * `change ∈ insert | update | delete`, carrying the NEW column
    * values for insert/update and the LAST-SEEN values for delete.
    * Keys present in both versions with identical non-key columns emit
    * nothing. Key columns must be non-null (the upsert path's merge
    * keys already are); equality is null-safe per column via the
    * struct comparison.
    *
    * Scale shape: ONE full-outer sort-merge join of the two snapshots
    * keyed on `keys` — both sides shuffle once on the key, nothing
    * else moves; the per-row struct compare is codegen'd. At 100 TB
    * this is the honest price of a keyed diff with no stored change
    * log; consumers that need cheaper deltas should diff adjacent
    * versions (small merges) rather than distant ones. */
  def diff(spark: SparkSession, root: String, vFrom: Long, vTo: Long,
           keys: Seq[String]): DataFrame = {
    val a = readVersion(spark, root, vFrom)
    val b = readVersion(spark, root, vTo)
    require(a.columns.sorted.sameElements(b.columns.sorted),
      s"SnapshotTable.diff: schema changed between v$vFrom " +
        s"(${a.columns.sorted.mkString(",")}) and v$vTo " +
        s"(${b.columns.sorted.mkString(",")}) — diff a compatible pair " +
        "or migrate first")
    diffOf(a, b, keys)
  }

  /** [[diff]]'s frame-level core — the keyed insert/update/delete
    * changelog from `a` to `b`, for callers that already hold the two
    * states (e.g. [[upsertTargeted]]'s batch-scoped step, where `a` is
    * only the touched files' matched rows, never the table). */
  private def diffOf(a: DataFrame, b: DataFrame, keys: Seq[String])
      : DataFrame = {
    import org.apache.spark.sql.functions._
    val nonKeys = b.columns.filterNot(keys.contains).toSeq
    val aSide = a.select((keys.map(col) :+ lit(true).as("__a")) ++
      nonKeys.map(c => col(c).as(s"__a_$c")): _*)
    val bSide = b.select((keys.map(col) :+ lit(true).as("__b")) ++
      nonKeys.map(c => col(c).as(s"__b_$c")): _*)
    val same = nonKeys.map(c => col(s"__a_$c") <=> col(s"__b_$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    aSide.join(bSide, keys, "full_outer")
      .withColumn("change",
        when(col("__a").isNull, lit("insert"))
          .when(col("__b").isNull, lit("delete"))
          .when(same, lit(null).cast("string"))
          .otherwise(lit("update")))
      .filter(col("change").isNotNull)
      .select(keys.map(col) ++ Seq(col("change")) ++ nonKeys.map(c =>
        when(col("change") === "delete", col(s"__a_$c"))
          .otherwise(col(s"__b_$c")).as(c)): _*)
  }

  /** Every row-level change AFTER `sinceVersion` up to the current
    * snapshot — the incremental-consumer API over [[diff]]: a
    * downstream job records the last version it processed and calls
    * this to catch up, getting the concatenated per-step diffs with a
    * `version` column naming the commit that introduced each change
    * (so a key updated twice appears twice, in order — a CHANGELOG,
    * not a net diff; consumers wanting the net state of changed keys
    * take the max-version row per key, or call [[diff]] directly).
    * Loud when `sinceVersion` left the retained window — a consumer
    * that fell behind vacuum must re-bootstrap from a full [[read]],
    * never silently miss changes. Scale: one keyed full-outer join
    * per RETAINED step — the retention horizon bounds the work. */
  def changesSince(spark: SparkSession, root: String, sinceVersion: Long,
                   keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val vs = versions(spark, root).filter(_ >= sinceVersion)
    require(vs.headOption.contains(sinceVersion),
      s"SnapshotTable.changesSince: v$sinceVersion is not in the " +
        s"retained window (${versions(spark, root).mkString(",")}) — " +
        "the consumer fell behind vacuum; re-bootstrap from read()")
    val steps = vs.sliding(2).collect { case Seq(a, b) =>
      diff(spark, root, a, b, keys).withColumn("version", lit(b))
    }.toSeq
    steps.reduceOption(_ unionByName _).getOrElse(
      // already caught up: an EMPTY changelog with the right schema
      diff(spark, root, sinceVersion, sinceVersion, keys)
        .withColumn("version", lit(sinceVersion)).limit(0))
  }

  // --- stored change feed (CDC) ---

  private def changesPath(root: Path, v: Long): Path =
    new Path(new Path(root, ChangesDir), f"v$v%09d.changes")

  /** Store the row-level changelog of commit `v` (diffed against the
    * version that was current when the commit started, or the full
    * state as `insert` rows for a table's FIRST commit) under
    * `_changes/v%09d.changes` — Delta's change-data-feed idea on the
    * house manifest format: the feed is computed ONCE at commit time
    * (the upsert cycle already paid the keyed read of the prior
    * version) and consumers read parquet files, never re-join
    * snapshots. A `_from-<v>` marker records the predecessor so
    * consumers can verify the feed is GAP-FREE (see
    * [[verifyChangeChain]]); files starting with `_` are invisible to
    * parquet reads. Written staging-first then renamed — a crash
    * between manifest publish and feed rename leaves a chain gap that
    * fails consumers loudly, never a torn feed. */
  private def recordChanges(spark: SparkSession, root: String,
                            prev: Option[Long], v: Long,
                            keys: Seq[String]): Unit = {
    val step = prev match {
      case Some(p) => diff(spark, root, p, v, keys)
      case None => asChanges(readVersion(spark, root, v), keys, "insert")
    }
    recordChangesStep(spark, root, prev.getOrElse(0L), v, step)
  }

  /** Store a PRECOMPUTED changelog step for commit `v` (diffed against
    * `prevV`) — [[recordChanges]]' core, taken directly by every
    * mutation that knows its change set (a [[copyOnWrite]] step is
    * O(what it touched), and re-deriving it through [[diff]]'s
    * full-outer table join would reinstate exactly the O(table) read
    * the targeted paths exist to avoid; only [[commit]] and
    * [[restore]] replace the table wholesale and diff). `step` must
    * carry the feed shape `(keys..., change, non-keys...)`. */
  private def recordChangesStep(spark: SparkSession, root: String,
                                prevV: Long, v: Long,
                                step: DataFrame): Unit = {
    import org.apache.spark.sql.functions._
    val (fs, rootP) = fsOf(spark, root)
    val nonce = java.util.UUID.randomUUID().toString.take(12)
    val staging = new Path(new Path(rootP, StagingDir), s"chg-$nonce")
    step.withColumn("version", lit(v))
      .write.mode("overwrite").option("compression", "zstd")
      .parquet(staging.toString)
    fs.create(new Path(staging, s"_from-$prevV"), true).close()
    val target = changesPath(rootP, v)
    fs.mkdirs(target.getParent)
    if (!fs.rename(staging, target))
      sys.error(s"SnapshotTable: could not move the staged change feed " +
        s"$staging into place at $target")
  }

  /** Versions with a STORED change feed, ascending. */
  def changeVersions(spark: SparkSession, root: String): Seq[Long] = {
    val (fs, rootP) = fsOf(spark, root)
    val cd = new Path(rootP, ChangesDir)
    if (!fs.exists(cd)) return Nil
    fs.listStatus(cd).iterator.flatMap { st =>
      st.getPath.getName match {
        case ChangesRe(d) => Some(d.toLong)
        case _ => None
      }
    }.toSeq.sorted
  }

  /** The predecessor version change feed `v` was diffed against (0 for
    * a table's bootstrap feed). */
  private def changeFrom(fs: FileSystem, rootP: Path, v: Long): Long = {
    val dir = changesPath(rootP, v)
    fs.listStatus(dir).iterator
      .map(_.getPath.getName)
      .collectFirst { case n if n.startsWith("_from-") =>
        n.stripPrefix("_from-").toLong }
      .getOrElse(sys.error(
        s"SnapshotTable: change feed $dir has no _from marker — " +
          "externally tampered or written by an incompatible version"))
  }

  /** Prove the stored feed steps `needed` (ascending) form an unbroken
    * predecessor chain starting exactly at `since` — LOUD otherwise.
    * This is what makes the feed trustworthy: an UNTRACKED commit in
    * the middle (its successor's `_from` skips a version the consumer
    * never saw) and a feed step VACUUMED from under a slow consumer
    * both break the chain, and both must force a re-bootstrap from
    * [[read]] instead of a silent gap. */
  private[graft] def verifyChangeChain(spark: SparkSession, root: String,
                                       since: Long,
                                       needed: Seq[Long]): Unit = {
    val (fs, rootP) = fsOf(spark, root)
    var at = since
    needed.foreach { v =>
      val f = changeFrom(fs, rootP, v)
      if (f != at) sys.error(
        s"SnapshotTable change feed at $root has a GAP: step v$v was " +
          s"diffed against v$f but the consumer is at v$at — either a " +
          "commit landed without change tracking or vacuum reclaimed " +
          "part of the feed; re-bootstrap from read()")
      at = v
    }
  }

  /** Batch read of the STORED change feed strictly after
    * `sinceVersion` (0 = from the table's bootstrap feed): the
    * concatenated per-commit changelogs, `(keys..., change,
    * non-keys..., version)`, chain-verified gap-free. This is
    * [[changesSince]]'s stored twin — same rows when every commit was
    * tracked, but read as plain parquet files instead of re-joining
    * retained snapshots, which is what a CONTINUOUS consumer (the
    * streaming `snapshot-changes` source) needs: per-trigger cost is
    * O(changed rows), not O(table). */
  def readChanges(spark: SparkSession, root: String,
                  sinceVersion: Long): DataFrame = {
    val (fs, rootP) = fsOf(spark, root)
    val all = changeVersions(spark, root)
    require(all.nonEmpty,
      s"SnapshotTable at $root has no stored change feed — commit with " +
        "changeKeys / trackChanges to record one")
    val needed = all.filter(_ > sinceVersion)
    verifyChangeChain(spark, root, sinceVersion, needed)
    if (needed.isEmpty)
      spark.read.parquet(changesPath(rootP, all.last).toString).limit(0)
    else
      spark.read.parquet(needed.map(changesPath(rootP, _).toString): _*)
  }

  /** Reclaim space: keep the newest `keepVersions` manifests PLUS
    * every [[tag]]ged version (a tag is a retention lease), delete
    * other manifests (and their lock files and stored change feeds),
    * every data file no retained manifest references, and staging/temp
    * orphans (crashed commits) OLDER than `stagingGraceMs`. Readers
    * pinned inside the retained window are unaffected; `keepVersions`
    * is the table's read-transaction horizon, and it bounds the change
    * feed too — a CDC consumer further behind than the window fails
    * the chain check loudly ([[verifyChangeChain]]).
    *
    * WRITER-EXCLUSIVE, named: the staging sweep cannot tell a crashed
    * commit's orphan from a LIVE committer's in-flight write, so run
    * vacuum from the table's (single) writer between its own commits —
    * a victim committer fails loudly at its staging rename (nothing
    * tears), but that failure is an operational foot-gun, not a
    * feature. The grace window de-fangs it: a staging entry — and an
    * UNREFERENCED `data/`/`_dv/` nonce dir, which an in-flight commit
    * renames into place BEFORE its manifest publishes (and may hold
    * there through the rebase/stale-claim wait) — younger than
    * `stagingGraceMs` (default 24 h — longer than any sane commit)
    * survives the sweep, so a mistimed vacuum can only reclaim writes
    * that are already dead; reclaiming a just-vacuumed version's data
    * is merely DEFERRED to the next sweep past the grace. Lock files ABOVE the committed tip
    * are kept unconditionally — they are live or crashed CLAIMS, and
    * deleting a live one would re-arm the very version collision the
    * claim protocol exists to prevent (a crashed claim is one 0-byte
    * file and a version-number hole; both are harmless).
    * Returns (manifestsDeleted, dataDirsDeleted). */
  def vacuum(spark: SparkSession, root: String, keepVersions: Int = 2,
             stagingGraceMs: Long = 24L * 3600 * 1000)
      : (Int, Int) = {
    require(keepVersions >= 1, "keepVersions must be >= 1")
    require(stagingGraceMs >= 0, "stagingGraceMs must be >= 0")
    val (fs, rootP) = fsOf(spark, root)
    val all = versions(spark, root)
    val keep = all.takeRight(keepVersions).toSet ++
      tags(spark, root).values.filter(all.contains)
    val tip = if (all.isEmpty) 0L else all.max
    val referenced: Set[String] =
      keep.flatMap(readManifest(fs, rootP, _).map(entryPath))
    val sweepNow = System.currentTimeMillis()
    // nonce-directory granularity: a data dir goes when NONE of its
    // files is referenced by a retained manifest (files of one commit
    // share a manifest's fate, so partial references cannot happen).
    // The grace window applies HERE too, not just to _staging: a
    // committer renames its data (and [[deleteWhereDV]] its sidecar)
    // into place BEFORE publishing the manifest — and may sit in the
    // rebase/stale-claim wait for seconds — so an unreferenced nonce
    // dir younger than the grace can be an in-flight commit, and
    // deleting it would leave the about-to-publish manifest pointing
    // at missing files. Older unreferenced dirs are genuinely dead
    // (crashed or vacuumed-past commits).
    val dataHome = new Path(rootP, DataDir)
    var dirsDeleted = 0
    if (fs.exists(dataHome)) fs.listStatus(dataHome).foreach { st =>
      val nonce = st.getPath.getName
      if (!referenced.exists(_.startsWith(s"$DataDir/$nonce/")) &&
          sweepNow - st.getModificationTime > stagingGraceMs) {
        fs.delete(st.getPath, true); dirsDeleted += 1
      }
    }
    // deletion-vector sidecars sweep by the same nonce-directory rule
    val dvHome = new Path(rootP, DvDir)
    if (fs.exists(dvHome)) fs.listStatus(dvHome).foreach { st =>
      val nonce = st.getPath.getName
      if (!referenced.exists(_.startsWith(s"$DvDir/$nonce/")) &&
          sweepNow - st.getModificationTime > stagingGraceMs) {
        fs.delete(st.getPath, true); dirsDeleted += 1
      }
    }
    var manifestsDeleted = 0
    val md = new Path(rootP, ManifestDir)
    if (fs.exists(md)) fs.listStatus(md).foreach { st =>
      st.getPath.getName match {
        case ManifestRe(d) if !keep.contains(d.toLong) =>
          fs.delete(st.getPath, false); manifestsDeleted += 1
        // locks at or below the tip are spent (publish only ever
        // claims ABOVE the tip, so none of these can be re-granted);
        // locks above the tip are claims — see the scaladoc
        case LockRe(d) if d.toLong <= tip && !keep.contains(d.toLong) =>
          fs.delete(st.getPath, false)
        case n if n.startsWith(".tmp-") =>
          fs.delete(st.getPath, false)
        case _ => ()
      }
    }
    val cd = new Path(rootP, ChangesDir)
    if (fs.exists(cd)) fs.listStatus(cd).foreach { st =>
      st.getPath.getName match {
        case ChangesRe(d) if !keep.contains(d.toLong) =>
          fs.delete(st.getPath, true)
        case _ => ()
      }
    }
    val sd = new Path(rootP, StagingDir)
    if (fs.exists(sd)) {
      fs.listStatus(sd).foreach { st =>
        if (sweepNow - st.getModificationTime > stagingGraceMs)
          fs.delete(st.getPath, true)
      }
    }
    (manifestsDeleted, dirsDeleted)
  }
}
