package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SharedScans
import org.apache.spark.sql.types.DataType

import graft.functions.Subst

/** The reference's "Compress" layer re-expressed Spark-first (reference:
  * `CompressComponents`, `bin/fetcher.bash:139-162`): vertical
  * partitioning of wide source tables into deduplicated, conformed
  * component tables.
  *
  * The reference emits, per (component, source):
  * `CREATE TABLE … AS SELECT … LIMIT 0` (schema derive),
  * `CREATE UNIQUE INDEX` (full-row uniqueness) and
  * `INSERT OR IGNORE … SELECT DISTINCT <subst exprs>` (conflict-ignoring
  * merge). Because the unique key is the *entire* component row, the
  * arrival-order-dependent INSERT OR IGNORE collapses to an
  * order-insensitive `union.distinct()` — Catalyst plans it as a
  * partial (map-side) + final hash aggregate, so at 100 TB each source
  * pre-reduces locally before the single shuffle on the full-row key.
  *
  * For the general subset-key case (which the shipped reference config
  * never uses) SQLite semantics are first-writer-wins in source order;
  * [[mergeFirstWriterWins]] reproduces that deterministically with a
  * priority column + one shuffle (window row_number), instead of the
  * sequential per-source anti-join loop a literal port would do.
  */
object Components {

  /** Conform one source onto a component schema via subst expressions. */
  def conform(source: DataFrame, columns: Seq[String],
              subst: Map[String, String] = Map.empty): DataFrame =
    source.select(Subst.compile(columns, subst): _*)

  /** Schema-only derivation (`CREATE TABLE … LIMIT 0`): Catalyst folds
    * limit(0) via PropagateEmptyRelation — no scan happens. */
  def emptyLike(source: DataFrame, columns: Seq[String],
                subst: Map[String, String] = Map.empty): DataFrame =
    conform(source, columns, subst).limit(0)

  /** Full-row-key merge: union all conformed sources, dedup on the whole
    * row. Exactly equivalent to the reference's unique-index +
    * INSERT OR IGNORE loop when the key is all columns. */
  def merge(conformed: Seq[DataFrame]): DataFrame =
    conformed.reduce(_ unionByName _).distinct()

  /** One (component, source) conformance of a compress cycle: the
    * source's rows projected onto the component's columns by `subst`. */
  final case class Conformance(component: String, source: String,
                               subst: Map[String, String])

  /** Every component's [[merge]] of its conformances, from one scan of
    * each source and one shuffle for all components.
    *
    * Per source, one projection evaluates every conformance that reads
    * it, and `inline` turns them into tagged rows: a component index
    * plus one slot per column of every component (keyed by position,
    * so a column name two components share cannot collide), the other
    * components' slots null. The tagged rows of all sources are
    * unioned and deduplicated once; the tag is part of the row, so
    * duplicates collapse only within a component. Each component is
    * its tag's rows projected back to its own column names, each
    * column cast to the type a `unionByName` of its conformed sources
    * resolves (nullability may widen).
    *
    * The one shuffle sends component i's rows to partitions
    * `[i*k, (i+1)*k)` (k = the default parallelism), hashed on its
    * slots, and the deduplication runs after it. The result is read
    * through [[SharedScans.relations]], one frame per component over its
    * own partitions: nothing is persisted, the map stage runs once, and
    * each component's job reads and deduplicates only its own rows. With
    * adaptive execution on, the map stage runs here, as one job in the
    * SQL execution named `name`; with it off, the first component
    * action runs it and later ones skip it. `columns` gives each
    * component's column list; no conformance means no component and no
    * job. */
  def mergeShared(sources: Map[String, DataFrame], columns: Map[String, Seq[String]],
                  conformances: Seq[Conformance], name: String): Map[String, DataFrame] =
    if (conformances.isEmpty) Map.empty
    else {
      val order = conformances.map(_.component).distinct
      val offsets = order.scanLeft(0)(_ + columns(_).size)
      // per source: every conformance reading it, evaluated in one projection
      val projected = conformances.map(_.source).distinct.map { s =>
        val reads = conformances.filter(_.source == s)
        reads -> sources(s).select(reads.zipWithIndex.flatMap { case (k, m) =>
          columns(k.component).indices.map(j =>
            Subst.expression(columns(k.component)(j), k.subst).as(s"c${m}_$j"))
        }: _*)
      }
      val slotTypes: IndexedSeq[DataType] = order.flatMap { c =>
        columns(c).indices.map { j =>
          val types = for {
            (reads, df) <- projected
            (k, m) <- reads.zipWithIndex if k.component == c
          } yield df.schema(s"c${m}_$j").dataType
          SharedScans.unionType(types).getOrElse(throw new IllegalArgumentException(
            s"component $c column ${columns(c)(j)}: no common type for " +
              types.map(_.simpleString).mkString(", ")))
        }
      }.toIndexedSeq
      val tagged = projected.map { case (reads, df) =>
        df.select(inline(array(reads.zipWithIndex.map { case (k, m) =>
          val i = order.indexOf(k.component)
          struct(lit(i).as("tag") +: slotTypes.indices.map { n =>
            val own = n >= offsets(i) && n < offsets(i + 1)
            (if (own) col(s"c${m}_${n - offsets(i)}") else lit(null))
              .cast(slotTypes(n)).as(s"s$n")
          }: _*)
        }: _*)))
      }.reduce(_ union _)
      // component i's rows go to partitions [i*parts, (i+1)*parts), hashed
      // on its slots; `part` is a function of the row, so it changes no
      // distinct row. `parts` is the default parallelism, not the shuffle
      // partitions (200 unless set): AQE never coalesces an explicit width
      val parts = tagged.sparkSession.sparkContext.defaultParallelism
      val slots = slotTypes.indices.map(n => col(s"s$n"))
      val merged = tagged
        .withColumn("part", col("tag") * parts + pmod(hash(slots: _*), lit(parts)))
        .repartitionById(order.size * parts, col("part"))
        .distinct()
      val shared = SharedScans.relations(merged, name,
        order.indices.map(i => i * parts until (i + 1) * parts))
      order.zipWithIndex.map { case (c, i) =>
        c -> shared(i).filter(col("tag") === i).select(columns(c).zipWithIndex.map {
          case (column, j) => col(s"s${offsets(i) + j}").as(column)
        }: _*)
      }.toMap
    }

  /** Subset-key merge with SQLite's first-writer-wins semantics made
    * explicit: earlier sources win, and within a source ties are broken
    * by the given ordering (or arbitrarily-but-deterministically by the
    * remaining columns if none given). One shuffle on the key. */
  def mergeFirstWriterWins(conformed: Seq[DataFrame], keys: Seq[String],
                           tieBreak: Seq[Column] = Nil): DataFrame = {
    val prioritized = conformed.zipWithIndex.map { case (df, i) =>
      df.withColumn("__graft_pri", lit(i))
    }.reduce(_ unionByName _)
    val ordering =
      if (tieBreak.nonEmpty) col("__graft_pri") +: tieBreak
      else col("__graft_pri") +: prioritized.columns
        .filterNot(c => keys.contains(c) || c == "__graft_pri").map(col).toSeq
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ordering: _*)
    prioritized
      .withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .drop("__graft_pri", "__graft_rn")
  }

  /** Load-time schema evolution (reference D1: `ALTER TABLE … ADD COLUMN
    * "email" TEXT`): emit the extra nullable column in the load
    * projection — parquet tables need no post-hoc ALTER. */
  def withNullColumn(df: DataFrame, name: String): DataFrame =
    df.withColumn(name, lit(null).cast("string"))

  /** Slowly-changing-dimension Type 2 merge: apply a full key snapshot
    * to a versioned dimension (the warehouse-side sibling of the
    * reference's drop-and-recreate cycle — history kept instead of
    * overwritten). `current` carries `keys ++ attrs ++ (valid_from,
    * valid_to)` with `valid_to IS NULL` marking open rows; `snapshot`
    * carries `keys ++ attrs` as of `asOf`. Per key:
    *  - open row, attrs unchanged in snapshot → stays open;
    *  - open row, attrs changed → closed at `asOf` + new open row;
    *  - open row, key gone from snapshot → closed at `asOf` (delete);
    *  - key new to the dimension → new open row from `asOf`;
    *  - already-closed rows pass through untouched.
    *
    * Scale shape: ONE full-outer equi-join of the open slice against
    * the snapshot on the key; the changed-key double row comes from
    * exploding a filtered two-struct array in the same pass, not a
    * second join branch. Attr comparison is null-safe (`<=>`). */
  def scd2Merge(current: DataFrame, snapshot: DataFrame, keys: Seq[String],
                attrs: Seq[String], asOf: Column,
                validFrom: String = "valid_from",
                validTo: String = "valid_to"): DataFrame = {
    val outCols = keys ++ attrs ++ Seq(validFrom, validTo)
    val closed = current.filter(col(validTo).isNotNull)
      .select(outCols.map(col): _*)
    val vtType = current.schema(validTo).dataType
    val open = current.filter(col(validTo).isNull)
      .select(keys.map(col) ++ attrs.map(c => col(c).as(s"__o_$c")) :+
        col(validFrom).as("__o_vf"): _*)
      .withColumn("__o", lit(true))
    val snap = snapshot
      .select(keys.map(col) ++ attrs.map(c => col(c).as(s"__s_$c")): _*)
      .withColumn("__s", lit(true))
    val j = open.join(snap, keys, "full_outer")
      .withColumn("__o", coalesce(col("__o"), lit(false)))
      .withColumn("__s", coalesce(col("__s"), lit(false)))
    val same = attrs.map(c => col(s"__o_$c") <=> col(s"__s_$c")).reduce(_ && _)
    def row(attr: String => Column, vf: Column, vt: Column, keep: Column) =
      struct(attrs.map(c => attr(c).as(c)) :+ vf.as(validFrom) :+
        vt.as(validTo) :+ keep.as("__keep"): _*)
    val oldRow = row(c => col(s"__o_$c"), col("__o_vf"),
      when(col("__s") && same, lit(null).cast(vtType)).otherwise(asOf),
      col("__o"))
    val newRow = row(c => col(s"__s_$c"), asOf, lit(null).cast(vtType),
      col("__s") && !(col("__o") && same))
    j.select(keys.map(col) :+
        explode(filter(array(oldRow, newRow),
          x => x.getField("__keep"))).as("__r"): _*)
      .select(keys.map(col) ++
        (attrs ++ Seq(validFrom, validTo)).map(c => col(s"__r.$c").as(c)): _*)
      .unionByName(closed)
  }
}
