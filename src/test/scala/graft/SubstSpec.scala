package graft

import graft.functions.Subst

class SubstSpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq(("A", "B", "919", "5550100")).toDF("a", "midl", "area", "phone")

  test("identity and rename") {
    val out = df.select(Subst.compile(Seq("a", "middle"),
      Map("middle" -> "midl")): _*)
    assert(out.columns.toSeq == Seq("a", "middle"))
    assert(out.collect().head.toSeq == Seq("A", "B"))
  }

  test("concat and literal forms") {
    val out = df.select(Subst.compile(Seq("full_phone", "cancellation_dt"),
      Map("full_phone" -> "area||phone", "cancellation_dt" -> "'NA'")): _*)
    assert(out.collect().head.toSeq == Seq("9195550100", "NA"))
  }

  test("literal substitution constant-folds away entirely") {
    val out = df.select(Subst.compile(Seq("cancellation_dt"),
      Map("cancellation_dt" -> "'NA'")): _*)
    // Catalyst folds the literal projection over a local source into a
    // LocalRelation — no runtime expression evaluation remains.
    assert(out.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(out.collect().head.getString(0) == "NA")
  }

  test("backtick-safe identity for odd column names") {
    val odd = Seq(("x")).toDF("weird name")
    val out = odd.select(Subst.compile(Seq("weird name")): _*)
    assert(out.collect().head.getString(0) == "x")
  }
}
