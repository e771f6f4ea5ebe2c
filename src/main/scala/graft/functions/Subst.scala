package graft.functions

import org.apache.spark.sql.{Column, functions => F}

/** The substitution-expression compiler (reference: the `SourceColumns`
  * generator, `bin/fetcher.bash:163-169`, driven by the `subst:` maps in
  * `bin/cfg.yaml`).
  *
  * A component declares an ordered column list; a per-source subst map
  * optionally rewrites how each output column is computed from that
  * source. Observed expression grammar (SURVEY.md §2.3): identity refs,
  * renames (`middle_name: midl_name`), string concatenation
  * (`full_phone_number: area_cd||phone_num`) and quoted literals
  * (`cancellation_dt: "'NA'"`). All four parse natively with
  * [[org.apache.spark.sql.functions.expr]] — Catalyst then constant-folds
  * literals and codegens the concat; no custom Expression is needed.
  *
  * The default is applied at plan-build time (the reference's yq `//`
  * fallback), not as a runtime coalesce.
  */
object Subst {
  /** Compile one output column: the subst expression if present, else the
    * identity reference — always aliased to the component column name. */
  def column(name: String, subst: Map[String, String]): Column =
    expression(name, subst).as(name)

  /** The unaliased expression behind [[column]]. */
  def expression(name: String, subst: Map[String, String]): Column =
    F.expr(subst.getOrElse(name, s"`$name`"))

  /** Compile a full component projection. */
  def compile(columns: Seq[String], subst: Map[String, String] = Map.empty): Seq[Column] =
    columns.map(column(_, subst))
}
