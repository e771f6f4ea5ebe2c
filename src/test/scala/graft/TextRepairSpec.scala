package graft

import org.apache.spark.sql.functions.col
import graft.sources.TextRepair

class TextRepairSpec extends SparkSpec {
  import spark.implicits._

  private def repair(s: String): String =
    Seq(s).toDF("value")
      .select(TextRepair.repairLine(col("value")).as("v"))
      .collect().head.getString(0)

  test("U1: reference-sed fidelity — BOTH opening and stray quote doubled") {
    // bin/quotequote: s/ \("[^",]*\)"/ "\1""/g — the group captures the
    // opening quote and the replacement re-adds one, so the opening
    // quote is doubled along with the stray interior quote
    assert(repair("""name, "5' 10" tall",more""") == """name, ""5' 10"" tall",more""")
  }

  test("U2: quote between capitals becomes apostrophe") {
    assert(repair("""O"BRIEN""") == "O'BRIEN")
  }

  test("U1+U2 combined on a dirty line") {
    assert(repair("""x,O"NEAL, "6" exactly",y""") == """x,O'NEAL, ""6"" exactly",y""")
  }

  test("clean lines pass through unchanged") {
    val s = """a,"b,c",d"""
    assert(repair(s) == s)
  }

  test("header normalization: spaces to underscores, lowercase, idempotent") {
    assert(TextRepair.normalizeName("Voter Reg Num") == "voter_reg_num")
    assert(TextRepair.normalizeName(TextRepair.normalizeName("A B")) == "a_b")
    val df = Seq(("1", "2")).toDF("County ID", "NCID")
    assert(TextRepair.normalizeHeader(df).columns.toSeq == Seq("county_id", "ncid"))
  }

  test("repairString on the driver equals repairLine in a query") {
    val lines = Seq("""name, "5' 10" tall",more""", """O"BRIEN""",
      """x,O"NEAL, "6" exactly",y""", """a,"b,c",d""", """ "a" "b" A"B"C""",
      "County ID\tLast Name", "", "  ", "\\1 $1 \"$\" Z\"Z")
    val inQuery = lines.toDF("value")
      .select(TextRepair.repairLine(col("value")).as("v"))
      .collect().map(_.getString(0)).toSeq
    assert(lines.map(TextRepair.repairString) == inQuery)
  }
}
