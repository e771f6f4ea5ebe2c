package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Line-level CSV repair + header normalization — the reference's only
  * scalar "UDFs" (reference: `bin/quotequote:1-6`, `bin/header_fix:1-2`),
  * re-expressed as codegen'd built-in functions (`regexp_replace`), NOT
  * Scala UDFs, so they stay inside whole-stage codegen.
  *
  * Semantics (applied in sed order, U1 then U2 per SURVEY.md §2.4):
  *  - U1 interior-quote escape: the reference sed
  *    `s/ \("[^",]*\)"/ "\1""/g` captures the OPENING quote inside the
  *    group and then emits another one in the replacement, so both the
  *    opening and the stray closing quote come out doubled:
  *    ` "5' 10" tall"` → ` ""5' 10"" tall"`. Reproduced exactly
  *    (verified against bin/quotequote output) — fidelity beats
  *    cleanliness here because parsed field values depend on it.
  *  - U2 quote-between-capitals → apostrophe: `O"BRIEN` → `O'BRIEN`.
  *  - U3/U4 header: spaces → underscores, lowercase. The reference's
  *    `header_fix:2` lowercase has a typo'd group (`\(.*)\)`) that only
  *    fires on headers containing a literal `)`; we deliberately
  *    normalize to intent (always lowercase) — documented deviation.
  *
  * These run on decoded *lines* before parsing (the reference pipes
  * `unzip -p | iconv | sed` into `.import`); see [[RawTable]] for the
  * bytes → charset → lines → repair → parse ordering.
  */
object TextRepair {
  private val U1 = """ ("[^",]*)"""" -> " \"$1\"\""
  private val U2 = """([A-Z])"([A-Z])""" -> "$1'$2"

  /** U1: double a stray interior closing quote — and, faithfully to the
    * reference sed (whose group captures the opening quote and whose
    * replacement re-adds one), the opening quote as well. */
  def escapeInteriorQuote(line: Column): Column =
    regexp_replace(line, U1._1, U1._2)

  /** U2: quote between capitals is an apostrophe-typo; fix it. */
  def quoteBetweenCapitals(line: Column): Column =
    regexp_replace(line, U2._1, U2._2)

  /** Full quotequote repair, in sed order. */
  def repairLine(line: Column): Column =
    quoteBetweenCapitals(escapeInteriorQuote(line))

  /** [[repairLine]] on one driver-side string, e.g. a header line:
    * `regexp_replace` is `java.util.regex` `replaceAll` with the same
    * patterns and replacements. */
  def repairString(line: String): String =
    Seq(U1, U2).foldLeft(line) { case (l, (re, rep)) => l.replaceAll(re, rep) }

  /** U3+U4 header normalization for a single column name. */
  def normalizeName(name: String): String =
    name.replace(' ', '_').toLowerCase

  /** Rename all columns to normalized form (post-read equivalent of the
    * first-line sed edit). */
  def normalizeHeader(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(normalizeName).toIndexedSeq: _*)
}
