package graft

import graft.operators.Components

class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  test("merge = union + full-row dedup, order-insensitive") {
    val a = Seq(("x", 1), ("y", 2)).toDF("k", "v")
    val b = Seq(("y", 2), ("z", 3)).toDF("k", "v")
    val m1 = Components.merge(Seq(a, b)).orderBy("k").collect().map(_.toSeq)
    val m2 = Components.merge(Seq(b, a)).orderBy("k").collect().map(_.toSeq)
    assert(m1.toSeq == Seq(Seq("x", 1), Seq("y", 2), Seq("z", 3)))
    assert(m1.toSeq == m2.toSeq)
  }

  test("mergeFirstWriterWins keeps earlier source's row per key") {
    val first = Seq((1, "from_first")).toDF("k", "v")
    val second = Seq((1, "from_second"), (2, "only_second")).toDF("k", "v")
    val out = Components.mergeFirstWriterWins(Seq(first, second), Seq("k"))
      .orderBy("k").collect().map(_.toSeq)
    assert(out.toSeq == Seq(Seq(1, "from_first"), Seq(2, "only_second")))
  }

  test("emptyLike derives schema with zero rows and no scan cost") {
    val src = Seq(("a", "b", "c")).toDF("x", "y", "z")
    val empty = Components.emptyLike(src, Seq("x", "renamed"), Map("renamed" -> "y"))
    assert(empty.columns.toSeq == Seq("x", "renamed"))
    assert(empty.count() == 0)
  }

  test("conform applies subst expressions in declared column order") {
    val src = Seq(("919", "5550100", "J")).toDF("area_cd", "phone_num", "initial")
    val out = Components.conform(src, Seq("full_phone_number", "initial"),
      Map("full_phone_number" -> "area_cd||phone_num"))
    assert(out.columns.toSeq == Seq("full_phone_number", "initial"))
    assert(out.collect().head.toSeq == Seq("9195550100", "J"))
  }

  test("withNullColumn adds nullable string column") {
    val out = Components.withNullColumn(Seq(("a")).toDF("x"), "email")
    assert(out.schema("email").dataType.typeName == "string")
    assert(out.collect().head.isNullAt(1))
  }

  test("scd2Merge: unchanged stays open, change versions, delete closes, insert opens") {
    import org.apache.spark.sql.functions._
    val d0 = java.sql.Date.valueOf("2020-01-01")
    val current = Seq(
      (1L, "a", Some(d0), None: Option[java.sql.Date]),          // unchanged
      (2L, "b", Some(d0), None: Option[java.sql.Date]),          // attr changes
      (3L, "c", Some(d0), None: Option[java.sql.Date]),          // deleted
      (4L, "old", Some(java.sql.Date.valueOf("2019-01-01")),
        Some(d0))                                                // already closed
    ).toDF("k", "attr", "valid_from", "valid_to")
    val snapshot = Seq((1L, "a"), (2L, "B"), (5L, "new")).toDF("k", "attr")
    val out = Components.scd2Merge(current, snapshot, Seq("k"), Seq("attr"),
        to_date(lit("2021-06-01")))
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.getDate(2)).map(_.toString).orNull,
        Option(r.getDate(3)).map(_.toString).orNull)).toSet
    assert(out == Set(
      (1L, "a", "2020-01-01", null),           // untouched open row
      (2L, "b", "2020-01-01", "2021-06-01"),   // closed at asOf
      (2L, "B", "2021-06-01", null),           // new version
      (3L, "c", "2020-01-01", "2021-06-01"),   // delete -> closed
      (5L, "new", "2021-06-01", null),         // insert
      (4L, "old", "2019-01-01", "2020-01-01")  // closed history passes through
    ))
  }

  test("scd2Merge: null-safe attr comparison treats null==null as unchanged") {
    import org.apache.spark.sql.functions._
    val d0 = java.sql.Date.valueOf("2020-01-01")
    val current = Seq((1L, None: Option[String], Some(d0), None: Option[java.sql.Date]))
      .toDF("k", "attr", "valid_from", "valid_to")
    val snapshot = Seq((1L, None: Option[String])).toDF("k", "attr")
    val out = Components.scd2Merge(current, snapshot, Seq("k"), Seq("attr"),
      to_date(lit("2021-06-01"))).collect()
    assert(out.length == 1 && out.head.isNullAt(3))
  }
}
