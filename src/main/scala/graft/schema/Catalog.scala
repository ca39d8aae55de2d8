package graft.schema

import org.apache.spark.sql.types._

/** Cardinality class of a target table — drives the merge strategy.
  *
  * Mirrors the reference's split between `ONE_TO_ONE_TABLES` (upsert by
  * key) and everything else (delete-then-insert refresh by key); see
  * reference `services/etlService.js:10-12` and `:47-51`.
  */
sealed trait Cardinality
object Cardinality {
  case object OneToOne  extends Cardinality
  case object OneToMany extends Cardinality
}

/** Registry entry for one target table: key column, cardinality class,
  * and the columns that get uppercase-normalized on the way in
  * (reference `services/etlService.js:148-191`).
  */
final case class TableSpec(
    name: String,
    key: String,
    cardinality: Cardinality,
    upperCols: Seq[String],
    schema: Option[StructType] = None,
)

/** Declared-schema catalog for the RSBSA domain (SURVEY.md §1.2, §7.2-1).
  *
  * Schemas are fixed and declared, not inferred — transcribed from the
  * reference's `CREATE TABLE IF NOT EXISTS` DDL
  * (`services/etlService.js:244-591`) using the MySQL→Spark type mapping
  * of SURVEY.md §1.2. Only columns the engine computes on are fully
  * typed here; pass-through columns keep their mapped Spark type.
  */
object Catalog {

  private def spec(
      name: String,
      key: String,
      card: Cardinality,
      upper: Seq[String],
  ): (String, TableSpec) =
    name -> TableSpec(name, key, card, upper, Schemas.byName.get(name))

  /** Spec lookup with the reference's default arm for unknown tables:
    * one-to-many refresh on `rsbsa_no` (`services/etlService.js:47-51`).
    * The single place that default is declared.
    */
  def specFor(name: String): TableSpec =
    tables.getOrElse(name,
      TableSpec(name, "rsbsa_no", Cardinality.OneToMany, Nil))

  /** The 12 target tables with merge class + normalization lists,
    * transcribed from `services/etlService.js:10-12,148-191,203-242`.
    */
  val tables: Map[String, TableSpec] = Map(
    spec("farmers_kyc1", "rsbsa_no", Cardinality.OneToOne, Seq(
      "data_source", "first_name", "middle_name", "surname", "ext_name",
      "mother_maiden_name", "maiden_fname", "maiden_mname", "maiden_lname",
      "maiden_extname", "birth_prv", "birth_prv_mun", "street")),
    spec("farmers_kyc2", "rsbsa_no", Cardinality.OneToOne, Seq(
      "mob_number_fname", "mob_number_mname", "mob_number_lname",
      "mob_number_extname", "spouse", "hh_head_name", "hh_relationship",
      "emergency_name")),
    spec("farmers_kyc3", "rsbsa_no", Cardinality.OneToOne, Seq(
      "vtc_bgy_chair", "vtc_agri_office", "vtc_mafc_chair")),
    spec("farmers_kyc4", "rsbsa_no", Cardinality.OneToOne, Seq(
      "encoder_fullname", "encoder_fullname_updated", "deceased_reason")),
    spec("farmers_attachments", "rsbsa_no", Cardinality.OneToMany,
      Seq("encoder_fullname")),
    spec("farmers_fca", "rsbsa_no", Cardinality.OneToMany,
      Seq("encoder_fullname")),
    spec("farmers_form_attachments", "rsbsa_no", Cardinality.OneToMany,
      Seq("encoder_fullname")),
    spec("farmers_livelihood", "rsbsa_no", Cardinality.OneToMany,
      Seq("livelihood", "activity_work", "specify")),
    spec("farmparcelactivity", "rsbsa_no", Cardinality.OneToMany, Seq(
      "owner_firstname", "owner_lastname", "owner_extname",
      "farmers_rotation_fullname", "desc_location", "unit_measure",
      "own_doc_no", "attachment")),
    spec("farmparcelattachments", "rsbsa_no", Cardinality.OneToMany, Seq(
      "owner_firstname", "owner_lastname", "owner_extname",
      "farmers_rotation_fullname", "desc_location", "unit_measure",
      "own_doc_no", "attachment")),
    // farmparcel is keyed by parcel_id (delete-by-parcel_id refresh,
    // reference `etlService.js:90-97`) and reached through the
    // farmparcelownership bridge (`etlService.js:20-32`).
    spec("farmparcel", "parcel_id", Cardinality.OneToMany, Seq(
      "owner_firstname", "owner_lastname", "owner_extname",
      "farmers_rotation_fullname", "desc_location", "unit_measure",
      "own_doc_no", "attachment")),
    spec("farmparcelownership", "rsbsa_no", Cardinality.OneToMany,
      Seq("encoder_agency", "encoder_fullname")),
  )
}
