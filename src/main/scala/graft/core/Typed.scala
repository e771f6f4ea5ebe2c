package graft.core

import org.apache.spark.sql.{DataFrame, Dataset}

/** Typed component layer: `Dataset[T]` views over the untyped all-string
  * component tables (SURVEY §1.3 — DataFrame-first for the dynamic text
  * tables, `Dataset[T]` exactly where a fixed component schema earns
  * compile-time field checking).
  *
  * The reference's component schemas are declared (cfg.yaml column
  * lists); these case classes mirror a representative subset
  * (identity, name, registration — from the c_voter / c_name /
  * c_registr component families at `bin/cfg.yaml:56-65,120-122`).
  * Encoders keep everything in Tungsten binary format — the typed view
  * costs nothing at runtime.
  */
object Typed {

  final case class VoterId(county_id: String, voter_reg_num: String, ncid: String)

  final case class PersonName(last_name: String, first_name: String,
                              middle_name: Option[String],
                              name_suffix_lbl: Option[String])

  final case class Registration(registr_dt: String, cancellation_dt: String) {
    def isCancelled: Boolean = cancellation_dt != "NA" && cancellation_dt.nonEmpty
  }

  /** Typed view over a conformed component DataFrame. Fails analysis if
    * the component columns don't match the case class — the
    * compile-time/plan-time contract the reference never had. */
  def as[T: org.apache.spark.sql.Encoder](component: DataFrame): Dataset[T] =
    component.as[T]

  /** Example typed operation: active (non-cancelled) registrations —
    * filter logic expressed on the case class, still planned/codegen'd
    * by Catalyst through the encoder. */
  def activeRegistrations(ds: Dataset[Registration]): Dataset[Registration] =
    ds.filter(r => !r.isCancelled)
}
