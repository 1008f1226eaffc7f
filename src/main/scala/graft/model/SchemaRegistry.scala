package graft.model

import org.apache.spark.sql.types._

/** Versioned schema registry — the engine's twin of the reference's
  * `stock_metadata(model_version)` (/root/reference/pedsnetdcc/
  * utils.py:281-291), which resolves a SQLAlchemy MetaData per model
  * version and feeds every constraint pass:
  *
  *  - primary keys   (primary_keys.py:19-40)
  *  - foreign keys   (foreign_keys.py:18-44)
  *  - not-null cols  (not_nulls.py:15-36, excluding PK columns)
  *
  * Here the registry is plain data (no service call, no SQLAlchemy):
  * a [[Model]] holds one [[TableDef]] per table with its Spark
  * `StructType`, PK, FKs, NOT NULL columns, and physical layout hints
  * (bucketing/partitioning — the Spark analogue of the reference's
  * index DDL). Consumers ([[graft.operators.Checks]],
  * [[graft.transforms.TransformRunner]]) take a Model instead of
  * hand-passed column lists.
  */
final case class ForeignKey(cols: Seq[String], refTable: String, refCols: Seq[String])

/** Physical layout hint: how the table should be written at scale.
  * Bucketing by the join key co-locates fact↔map joins; date
  * partitioning prunes time-range scans (the Spark analogue of the
  * reference's btree indexes, indexes.py).
  *
  * `yearOf` makes derived partition columns self-describing: a
  * `partitionBy` entry named here is computed as `year(<source date
  * column>)` by [[graft.operators.Layout.write]], so callers hand the
  * writer the CDM table as-is instead of pre-deriving
  * `visit_start_year`-style columns (the reference's
  * partition_measurement.py derives the routing value inside its
  * trigger for the same reason).
  */
final case class LayoutHint(
    bucketBy: Seq[String] = Nil,
    numBuckets: Int = 0,
    partitionBy: Seq[String] = Nil,
    yearOf: Map[String, String] = Map.empty)

final case class TableDef(
    name: String,
    schema: StructType,
    pk: Seq[String] = Nil,
    fks: Seq[ForeignKey] = Nil,
    notNull: Seq[String] = Nil,
    layout: Option[LayoutHint] = None) {
  def columns: Seq[String] = schema.fieldNames.toSeq

  /** NOT NULL columns excluding the PK — the reference's rule
    * (not_nulls.py:33-35: `if not column.nullable and not
    * column.primary_key`).
    */
  def notNullNonPk: Seq[String] = notNull.filterNot(pk.contains)
}

final case class Model(name: String, version: String, tableSeq: Seq[TableDef]) {
  val tables: Map[String, TableDef] = tableSeq.map(t => t.name -> t).toMap

  def table(n: String): TableDef =
    tables.getOrElse(n, sys.error(s"model $name/$version has no table '$n'"))

  /** All PK constraints, keyed by table (primary_keys.py:34-38). */
  def primaryKeys: Map[String, Seq[String]] =
    tableSeq.filter(_.pk.nonEmpty).map(t => t.name -> t.pk).toMap

  /** All FK constraints, keyed by child table (foreign_keys.py:29-43). */
  def foreignKeys: Map[String, Seq[ForeignKey]] =
    tableSeq.filter(_.fks.nonEmpty).map(t => t.name -> t.fks).toMap
}

object PedsnetModel {

  private def field(n: String, t: DataType) = StructField(n, t, nullable = true)
  private def tbl(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (n, t) => field(n, t) })

  private val L = LongType
  private val S = StringType
  private val D = DateType
  private val TS = TimestampType
  private val F = DoubleType

  /** PEDSnet/OMOP CDM tables (the model the reference resolves per
    * version — table/column shapes are the public OMOP CDM /
    * PEDSnet extensions). PKs, FKs and NOT NULLs follow the
    * published CDM DDL; layout hints encode the scale decisions: facts
    * bucket by person_id (co-locates the person join and the id-map
    * join), time-heavy facts partition by year.
    *
    * Coverage mirrors the reference's `ID_MAP_TABLES`
    * (/root/reference/pedsnetdcc/__init__.py:71-93) and `VOCAB_TABLES`
    * (__init__.py:29-41): every table the reference id-maps or treats
    * as vocabulary resolves here, so checks/subsetting/id-mapping can
    * be registry-driven for the whole model, not a 10-table core.
    */
  private val coreTables: Seq[TableDef] = Seq(
    TableDef("person",
      tbl("person_id" -> L, "gender_concept_id" -> L, "year_of_birth" -> L,
        "month_of_birth" -> L, "day_of_birth" -> L, "birth_datetime" -> TS,
        "race_concept_id" -> L, "ethnicity_concept_id" -> L,
        "location_id" -> L, "provider_id" -> L, "care_site_id" -> L,
        "person_source_value" -> S, "site" -> S),
      pk = Seq("person_id"),
      fks = Seq(
        ForeignKey(Seq("location_id"), "location", Seq("location_id")),
        ForeignKey(Seq("care_site_id"), "care_site", Seq("care_site_id")),
        ForeignKey(Seq("provider_id"), "provider", Seq("provider_id"))),
      notNull = Seq("person_id", "gender_concept_id", "year_of_birth",
        "race_concept_id", "ethnicity_concept_id"),
      layout = Some(LayoutHint(bucketBy = Seq("person_id"), numBuckets = 256))),
    TableDef("observation_period",
      tbl("observation_period_id" -> L, "person_id" -> L,
        "observation_period_start_date" -> D,
        "observation_period_end_date" -> D,
        "period_type_concept_id" -> L, "site" -> S),
      pk = Seq("observation_period_id"),
      fks = Seq(ForeignKey(Seq("person_id"), "person", Seq("person_id"))),
      notNull = Seq("observation_period_id", "person_id",
        "observation_period_start_date", "observation_period_end_date",
        "period_type_concept_id"),
      layout = Some(LayoutHint(bucketBy = Seq("person_id"), numBuckets = 256))),
    TableDef("visit_occurrence",
      tbl("visit_occurrence_id" -> L, "person_id" -> L,
        "visit_concept_id" -> L, "visit_start_date" -> D,
        "visit_start_datetime" -> TS, "visit_end_date" -> D,
        "visit_end_datetime" -> TS, "visit_type_concept_id" -> L,
        "provider_id" -> L, "care_site_id" -> L, "site" -> S),
      pk = Seq("visit_occurrence_id"),
      fks = Seq(
        ForeignKey(Seq("person_id"), "person", Seq("person_id")),
        ForeignKey(Seq("provider_id"), "provider", Seq("provider_id")),
        ForeignKey(Seq("care_site_id"), "care_site", Seq("care_site_id"))),
      notNull = Seq("visit_occurrence_id", "person_id", "visit_concept_id",
        "visit_start_date", "visit_type_concept_id"),
      layout = Some(LayoutHint(bucketBy = Seq("person_id"), numBuckets = 256,
        partitionBy = Seq("visit_start_year"),
        yearOf = Map("visit_start_year" -> "visit_start_date")))),
    TableDef("condition_occurrence",
      tbl("condition_occurrence_id" -> L, "person_id" -> L,
        "condition_concept_id" -> L, "condition_start_date" -> D,
        "condition_end_date" -> D, "condition_type_concept_id" -> L,
        "provider_id" -> L, "visit_occurrence_id" -> L, "site" -> S),
      pk = Seq("condition_occurrence_id"),
      fks = Seq(
        ForeignKey(Seq("person_id"), "person", Seq("person_id")),
        ForeignKey(Seq("visit_occurrence_id"), "visit_occurrence",
          Seq("visit_occurrence_id"))),
      notNull = Seq("condition_occurrence_id", "person_id",
        "condition_concept_id", "condition_start_date",
        "condition_type_concept_id"),
      layout = Some(LayoutHint(bucketBy = Seq("person_id"), numBuckets = 256))),
    TableDef("drug_exposure",
      tbl("drug_exposure_id" -> L, "person_id" -> L, "drug_concept_id" -> L,
        "drug_exposure_start_date" -> D, "drug_exposure_end_date" -> D,
        "days_supply" -> L, "drug_type_concept_id" -> L,
        "provider_id" -> L, "visit_occurrence_id" -> L, "site" -> S),
      pk = Seq("drug_exposure_id"),
      fks = Seq(
        ForeignKey(Seq("person_id"), "person", Seq("person_id")),
        ForeignKey(Seq("visit_occurrence_id"), "visit_occurrence",
          Seq("visit_occurrence_id"))),
      notNull = Seq("drug_exposure_id", "person_id", "drug_concept_id",
        "drug_exposure_start_date", "drug_type_concept_id"),
      layout = Some(LayoutHint(bucketBy = Seq("person_id"), numBuckets = 256))),
    TableDef("measurement",
      tbl("measurement_id" -> L, "person_id" -> L, "measurement_concept_id" -> L,
        "measurement_date" -> D, "measurement_datetime" -> TS,
        "measurement_type_concept_id" -> L, "value_as_number" -> F,
        "value_as_concept_id" -> L, "unit_concept_id" -> L,
        "provider_id" -> L, "visit_occurrence_id" -> L, "site" -> S),
      pk = Seq("measurement_id"),
      fks = Seq(
        ForeignKey(Seq("person_id"), "person", Seq("person_id")),
        ForeignKey(Seq("visit_occurrence_id"), "visit_occurrence",
          Seq("visit_occurrence_id"))),
      notNull = Seq("measurement_id", "person_id", "measurement_concept_id",
        "measurement_date", "measurement_type_concept_id"),
      layout = Some(LayoutHint(bucketBy = Seq("person_id"), numBuckets = 256,
        partitionBy = Seq("measurement_year"),
        yearOf = Map("measurement_year" -> "measurement_date")))),
    TableDef("observation",
      tbl("observation_id" -> L, "person_id" -> L, "observation_concept_id" -> L,
        "observation_date" -> D, "observation_type_concept_id" -> L,
        "value_as_number" -> F, "value_as_string" -> S,
        "provider_id" -> L, "visit_occurrence_id" -> L, "site" -> S),
      pk = Seq("observation_id"),
      fks = Seq(
        ForeignKey(Seq("person_id"), "person", Seq("person_id")),
        ForeignKey(Seq("visit_occurrence_id"), "visit_occurrence",
          Seq("visit_occurrence_id"))),
      notNull = Seq("observation_id", "person_id", "observation_concept_id",
        "observation_date", "observation_type_concept_id"),
      layout = Some(LayoutHint(bucketBy = Seq("person_id"), numBuckets = 256))),
    TableDef("fact_relationship",
      tbl("domain_concept_id_1" -> L, "fact_id_1" -> L,
        "domain_concept_id_2" -> L, "fact_id_2" -> L,
        "relationship_concept_id" -> L, "site" -> S),
      notNull = Seq("domain_concept_id_1", "fact_id_1",
        "domain_concept_id_2", "fact_id_2", "relationship_concept_id")),
    TableDef("location",
      tbl("location_id" -> L, "city" -> S, "state" -> S, "zip" -> S,
        "site" -> S),
      pk = Seq("location_id"),
      notNull = Seq("location_id")),
    TableDef("care_site",
      tbl("care_site_id" -> L, "care_site_name" -> S,
        "place_of_service_concept_id" -> L, "location_id" -> L, "site" -> S),
      pk = Seq("care_site_id"),
      fks = Seq(ForeignKey(Seq("location_id"), "location", Seq("location_id"))),
      notNull = Seq("care_site_id")),
    TableDef("provider",
      tbl("provider_id" -> L, "provider_name" -> S, "npi" -> S,
        "care_site_id" -> L, "site" -> S),
      pk = Seq("provider_id"),
      fks = Seq(ForeignKey(Seq("care_site_id"), "care_site", Seq("care_site_id"))),
      notNull = Seq("provider_id")))

  private def personFk = ForeignKey(Seq("person_id"), "person", Seq("person_id"))
  private def visitFk =
    ForeignKey(Seq("visit_occurrence_id"), "visit_occurrence", Seq("visit_occurrence_id"))
  private def personBuckets = Some(LayoutHint(bucketBy = Seq("person_id"), numBuckets = 256))

  /** The rest of the reference's `ID_MAP_TABLES` — era roll-ups, death,
    * procedures/devices, and the PEDSnet extension tables. Column sets
    * follow the public OMOP CDM v5 DDL (eras, death, procedure, device)
    * and the published PEDSnet CDM additions (adt_occurrence,
    * immunization, measurement_organism, visit_payer, specialty,
    * location_history, location_fips, hash_token).
    */
  private val extendedFactTables: Seq[TableDef] = Seq(
    TableDef("procedure_occurrence",
      tbl("procedure_occurrence_id" -> L, "person_id" -> L,
        "procedure_concept_id" -> L, "procedure_date" -> D,
        "procedure_datetime" -> TS, "procedure_type_concept_id" -> L,
        "provider_id" -> L, "visit_occurrence_id" -> L, "site" -> S),
      pk = Seq("procedure_occurrence_id"),
      fks = Seq(personFk, visitFk),
      notNull = Seq("procedure_occurrence_id", "person_id",
        "procedure_concept_id", "procedure_date", "procedure_type_concept_id"),
      layout = personBuckets),
    TableDef("device_exposure",
      tbl("device_exposure_id" -> L, "person_id" -> L, "device_concept_id" -> L,
        "device_exposure_start_date" -> D, "device_exposure_end_date" -> D,
        "device_type_concept_id" -> L, "provider_id" -> L,
        "visit_occurrence_id" -> L, "site" -> S),
      pk = Seq("device_exposure_id"),
      fks = Seq(personFk, visitFk),
      notNull = Seq("device_exposure_id", "person_id", "device_concept_id",
        "device_exposure_start_date", "device_type_concept_id"),
      layout = personBuckets),
    TableDef("death",
      tbl("person_id" -> L, "death_date" -> D, "death_datetime" -> TS,
        "death_type_concept_id" -> L, "cause_concept_id" -> L,
        "cause_source_value" -> S, "site" -> S),
      fks = Seq(personFk),
      notNull = Seq("person_id", "death_date", "death_type_concept_id"),
      layout = personBuckets),
    TableDef("condition_era",
      tbl("condition_era_id" -> L, "person_id" -> L, "condition_concept_id" -> L,
        "condition_era_start_date" -> D, "condition_era_end_date" -> D,
        "condition_occurrence_count" -> L, "site" -> S),
      pk = Seq("condition_era_id"),
      fks = Seq(personFk),
      notNull = Seq("condition_era_id", "person_id", "condition_concept_id",
        "condition_era_start_date"),
      layout = personBuckets),
    TableDef("drug_era",
      tbl("drug_era_id" -> L, "person_id" -> L, "drug_concept_id" -> L,
        "drug_era_start_date" -> D, "drug_era_end_date" -> D,
        "drug_exposure_count" -> L, "gap_days" -> L, "site" -> S),
      pk = Seq("drug_era_id"),
      fks = Seq(personFk),
      notNull = Seq("drug_era_id", "person_id", "drug_concept_id",
        "drug_era_start_date"),
      layout = personBuckets),
    TableDef("dose_era",
      tbl("dose_era_id" -> L, "person_id" -> L, "drug_concept_id" -> L,
        "unit_concept_id" -> L, "dose_value" -> F,
        "dose_era_start_date" -> D, "dose_era_end_date" -> D, "site" -> S),
      pk = Seq("dose_era_id"),
      fks = Seq(personFk),
      notNull = Seq("dose_era_id", "person_id", "drug_concept_id",
        "unit_concept_id", "dose_value", "dose_era_start_date"),
      layout = personBuckets),
    TableDef("adt_occurrence",
      tbl("adt_occurrence_id" -> L, "person_id" -> L, "visit_occurrence_id" -> L,
        "adt_date" -> D, "adt_datetime" -> TS, "adt_type_concept_id" -> L,
        "service_concept_id" -> L, "care_site_id" -> L, "site" -> S),
      pk = Seq("adt_occurrence_id"),
      fks = Seq(personFk, visitFk,
        ForeignKey(Seq("care_site_id"), "care_site", Seq("care_site_id"))),
      notNull = Seq("adt_occurrence_id", "person_id", "visit_occurrence_id",
        "adt_date"),
      layout = personBuckets),
    TableDef("immunization",
      tbl("immunization_id" -> L, "person_id" -> L, "immunization_concept_id" -> L,
        "immunization_date" -> D, "immunization_dose" -> F,
        "imm_type_concept_id" -> L, "provider_id" -> L,
        "visit_occurrence_id" -> L, "site" -> S),
      pk = Seq("immunization_id"),
      fks = Seq(personFk, visitFk),
      notNull = Seq("immunization_id", "person_id", "immunization_concept_id",
        "immunization_date"),
      layout = personBuckets),
    TableDef("measurement_organism",
      tbl("meas_organism_id" -> L, "measurement_id" -> L, "person_id" -> L,
        "organism_concept_id" -> L, "site" -> S),
      pk = Seq("meas_organism_id"),
      fks = Seq(personFk,
        ForeignKey(Seq("measurement_id"), "measurement", Seq("measurement_id"))),
      notNull = Seq("meas_organism_id", "measurement_id", "person_id",
        "organism_concept_id"),
      layout = personBuckets),
    TableDef("visit_payer",
      tbl("visit_payer_id" -> L, "visit_occurrence_id" -> L,
        "plan_class" -> S, "plan_type" -> S, "site" -> S),
      pk = Seq("visit_payer_id"),
      fks = Seq(visitFk),
      notNull = Seq("visit_payer_id", "visit_occurrence_id", "plan_class")),
    TableDef("specialty",
      tbl("specialty_id" -> L, "provider_id" -> L, "specialty_concept_id" -> L,
        "specialty_source_value" -> S, "site" -> S),
      pk = Seq("specialty_id"),
      fks = Seq(ForeignKey(Seq("provider_id"), "provider", Seq("provider_id"))),
      notNull = Seq("specialty_id", "provider_id", "specialty_concept_id")),
    TableDef("location_history",
      tbl("location_history_id" -> L, "location_id" -> L, "entity_id" -> L,
        "domain_id" -> S, "start_date" -> D, "end_date" -> D, "site" -> S),
      pk = Seq("location_history_id"),
      fks = Seq(ForeignKey(Seq("location_id"), "location", Seq("location_id"))),
      notNull = Seq("location_history_id", "location_id", "entity_id",
        "domain_id", "start_date")),
    TableDef("location_fips",
      tbl("location_fips_id" -> L, "location_id" -> L, "fips" -> S, "site" -> S),
      pk = Seq("location_fips_id"),
      fks = Seq(ForeignKey(Seq("location_id"), "location", Seq("location_id"))),
      notNull = Seq("location_fips_id", "location_id", "fips")),
    TableDef("hash_token",
      tbl("person_id" -> L, "token_01" -> S, "token_02" -> S,
        "token_03" -> S, "site" -> S),
      fks = Seq(personFk),
      notNull = Seq("person_id"),
      layout = personBuckets),
    TableDef("cohort_definition",
      tbl("cohort_definition_id" -> L, "cohort_definition_name" -> S,
        "definition_type_concept_id" -> L, "subject_concept_id" -> L,
        "site" -> S),
      pk = Seq("cohort_definition_id"),
      notNull = Seq("cohort_definition_id", "cohort_definition_name")))

  /** The reference's `VOCAB_TABLES` (__init__.py:29-41) — dimension
    * tables shared across sites, never id-mapped. Shapes follow the
    * public OMOP vocabulary DDL.
    */
  private val vocabularyTables: Seq[TableDef] = Seq(
    TableDef("vocabulary",
      tbl("vocabulary_id" -> S, "vocabulary_name" -> S,
        "vocabulary_reference" -> S, "vocabulary_version" -> S,
        "vocabulary_concept_id" -> L),
      pk = Seq("vocabulary_id"),
      notNull = Seq("vocabulary_id", "vocabulary_name")),
    TableDef("concept",
      tbl("concept_id" -> L, "concept_name" -> S, "domain_id" -> S,
        "vocabulary_id" -> S, "concept_class_id" -> S,
        "standard_concept" -> S, "concept_code" -> S,
        "valid_start_date" -> D, "valid_end_date" -> D,
        "invalid_reason" -> S),
      pk = Seq("concept_id"),
      fks = Seq(
        ForeignKey(Seq("domain_id"), "domain", Seq("domain_id")),
        ForeignKey(Seq("vocabulary_id"), "vocabulary", Seq("vocabulary_id")),
        ForeignKey(Seq("concept_class_id"), "concept_class",
          Seq("concept_class_id"))),
      notNull = Seq("concept_id", "concept_name", "domain_id",
        "vocabulary_id", "concept_class_id", "concept_code")),
    TableDef("concept_ancestor",
      tbl("ancestor_concept_id" -> L, "descendant_concept_id" -> L,
        "min_levels_of_separation" -> L, "max_levels_of_separation" -> L),
      pk = Seq("ancestor_concept_id", "descendant_concept_id"),
      fks = Seq(
        ForeignKey(Seq("ancestor_concept_id"), "concept", Seq("concept_id")),
        ForeignKey(Seq("descendant_concept_id"), "concept", Seq("concept_id"))),
      notNull = Seq("ancestor_concept_id", "descendant_concept_id")),
    TableDef("concept_class",
      tbl("concept_class_id" -> S, "concept_class_name" -> S,
        "concept_class_concept_id" -> L),
      pk = Seq("concept_class_id"),
      notNull = Seq("concept_class_id", "concept_class_name")),
    TableDef("concept_relationship",
      tbl("concept_id_1" -> L, "concept_id_2" -> L, "relationship_id" -> S,
        "valid_start_date" -> D, "valid_end_date" -> D, "invalid_reason" -> S),
      pk = Seq("concept_id_1", "concept_id_2", "relationship_id"),
      fks = Seq(
        ForeignKey(Seq("concept_id_1"), "concept", Seq("concept_id")),
        ForeignKey(Seq("concept_id_2"), "concept", Seq("concept_id")),
        ForeignKey(Seq("relationship_id"), "relationship",
          Seq("relationship_id"))),
      notNull = Seq("concept_id_1", "concept_id_2", "relationship_id")),
    TableDef("concept_synonym",
      tbl("concept_id" -> L, "concept_synonym_name" -> S,
        "language_concept_id" -> L),
      fks = Seq(ForeignKey(Seq("concept_id"), "concept", Seq("concept_id"))),
      notNull = Seq("concept_id", "concept_synonym_name")),
    TableDef("domain",
      tbl("domain_id" -> S, "domain_name" -> S, "domain_concept_id" -> L),
      pk = Seq("domain_id"),
      notNull = Seq("domain_id", "domain_name")),
    TableDef("drug_strength",
      tbl("drug_concept_id" -> L, "ingredient_concept_id" -> L,
        "amount_value" -> F, "amount_unit_concept_id" -> L,
        "numerator_value" -> F, "numerator_unit_concept_id" -> L,
        "denominator_value" -> F, "denominator_unit_concept_id" -> L,
        "valid_start_date" -> D, "valid_end_date" -> D),
      pk = Seq("drug_concept_id", "ingredient_concept_id"),
      fks = Seq(
        ForeignKey(Seq("drug_concept_id"), "concept", Seq("concept_id")),
        ForeignKey(Seq("ingredient_concept_id"), "concept", Seq("concept_id"))),
      notNull = Seq("drug_concept_id", "ingredient_concept_id")),
    TableDef("relationship",
      tbl("relationship_id" -> S, "relationship_name" -> S,
        "is_hierarchical" -> S, "defines_ancestry" -> S,
        "reverse_relationship_id" -> S, "relationship_concept_id" -> L),
      pk = Seq("relationship_id"),
      notNull = Seq("relationship_id", "relationship_name")),
    TableDef("source_to_concept_map",
      tbl("source_code" -> S, "source_concept_id" -> L,
        "source_vocabulary_id" -> S, "target_concept_id" -> L,
        "target_vocabulary_id" -> S, "valid_start_date" -> D,
        "valid_end_date" -> D, "invalid_reason" -> S),
      fks = Seq(
        ForeignKey(Seq("target_concept_id"), "concept", Seq("concept_id"))),
      notNull = Seq("source_code", "source_concept_id",
        "source_vocabulary_id", "target_concept_id")))

  /** Tables that receive site→dcc id maps, per the reference
    * (`ID_MAP_TABLES`, __init__.py:71-93); the `consistent` prefix set
    * keeps the same dcc id across data cycles
    * (`CONSISTENT_ID_MAP_TABLES`, __init__.py:64-69).
    */
  val consistentIdMapTables: Seq[String] =
    Seq("care_site", "person", "provider", "visit_occurrence")
  val idMapTables: Seq[String] = consistentIdMapTables ++ Seq(
    "adt_occurrence", "cohort_definition", "condition_era",
    "condition_occurrence", "death", "device_exposure", "dose_era",
    "drug_era", "drug_exposure", "hash_token", "location", "location_fips",
    "location_history", "immunization", "measurement",
    "measurement_organism", "observation", "observation_period",
    "procedure_occurrence", "specialty", "visit_payer")

  /** Names of the vocabulary tables. Mirrors the reference list
    * exactly, including its quirk: cohort_definition appears in BOTH
    * VOCAB_TABLES and ID_MAP_TABLES (__init__.py:40,76).
    */
  val vocabTables: Seq[String] =
    vocabularyTables.map(_.name) :+ "cohort_definition"

  val v33: Model =
    Model("pedsnet", "3.3.0", coreTables ++ extendedFactTables ++ vocabularyTables)

  /** The prior model version, with the real schema diffs a version
    * resolver must handle (stock_metadata(model_version),
    * utils.py:281-291): 2.7 predates the geocoding/linkage additions
    * (location_fips, location_history, hash_token) and stores
    * measurement without the datetime refinement.
    */
  val v27: Model = Model("pedsnet", "2.7.0",
    (coreTables ++ extendedFactTables ++ vocabularyTables)
      .filterNot(t => Set("location_fips", "location_history", "hash_token")
        .contains(t.name))
      .map {
        case t if t.name == "measurement" =>
          t.copy(schema = StructType(
            t.schema.filterNot(_.name == "measurement_datetime")))
        case t => t
      })

  /** Version resolver — the engine's `stock_metadata(model_version)`. */
  val versions: Map[String, Model] =
    Seq(v27, v33).map(m => m.version -> m).toMap
  def forVersion(v: String): Model =
    versions.getOrElse(v, sys.error(
      s"unknown pedsnet model version '$v' (have ${versions.keys.toSeq.sorted.mkString(", ")})"))

  /** Registry for the driver's TPC-H-ish test tables (column sets
    * match the generated parquet exactly) — the same metadata
    * machinery exercised over data an oracle can check.
    */
  val tpch: Model = Model("tpch", "1.0", Seq(
    TableDef("region",
      tbl("r_regionkey" -> L, "r_name" -> S),
      pk = Seq("r_regionkey"),
      notNull = Seq("r_regionkey", "r_name")),
    TableDef("nation",
      tbl("n_nationkey" -> L, "n_name" -> S, "n_regionkey" -> L),
      pk = Seq("n_nationkey"),
      fks = Seq(ForeignKey(Seq("n_regionkey"), "region", Seq("r_regionkey"))),
      notNull = Seq("n_nationkey", "n_name", "n_regionkey")),
    TableDef("customer",
      tbl("c_custkey" -> L, "c_name" -> S, "c_nationkey" -> L,
        "c_acctbal" -> F, "c_mktsegment" -> S),
      pk = Seq("c_custkey"),
      fks = Seq(ForeignKey(Seq("c_nationkey"), "nation", Seq("n_nationkey"))),
      notNull = Seq("c_custkey", "c_name", "c_nationkey"),
      layout = Some(LayoutHint(bucketBy = Seq("c_custkey"), numBuckets = 64))),
    TableDef("supplier",
      tbl("s_suppkey" -> L, "s_name" -> S, "s_nationkey" -> L,
        "s_acctbal" -> F),
      pk = Seq("s_suppkey"),
      fks = Seq(ForeignKey(Seq("s_nationkey"), "nation", Seq("n_nationkey"))),
      notNull = Seq("s_suppkey", "s_name", "s_nationkey")),
    TableDef("part",
      tbl("p_partkey" -> L, "p_name" -> S, "p_brand" -> S, "p_type" -> S,
        "p_size" -> L, "p_retailprice" -> F),
      pk = Seq("p_partkey"),
      notNull = Seq("p_partkey", "p_name")),
    TableDef("orders",
      tbl("o_orderkey" -> L, "o_custkey" -> L, "o_orderstatus" -> S,
        "o_totalprice" -> F, "o_orderdate" -> D, "o_orderpriority" -> S),
      pk = Seq("o_orderkey"),
      fks = Seq(ForeignKey(Seq("o_custkey"), "customer", Seq("c_custkey"))),
      notNull = Seq("o_orderkey", "o_custkey", "o_orderdate"),
      layout = Some(LayoutHint(bucketBy = Seq("o_custkey"), numBuckets = 64))),
    TableDef("lineitem",
      tbl("l_orderkey" -> L, "l_partkey" -> L, "l_suppkey" -> L,
        "l_linenumber" -> L, "l_quantity" -> F, "l_extendedprice" -> F,
        "l_discount" -> F, "l_tax" -> F, "l_returnflag" -> S,
        "l_linestatus" -> S, "l_shipdate" -> D),
      pk = Seq("l_orderkey", "l_linenumber"),
      fks = Seq(
        ForeignKey(Seq("l_orderkey"), "orders", Seq("o_orderkey")),
        ForeignKey(Seq("l_partkey"), "part", Seq("p_partkey")),
        ForeignKey(Seq("l_suppkey"), "supplier", Seq("s_suppkey"))),
      notNull = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"),
      layout = Some(LayoutHint(bucketBy = Seq("l_orderkey"), numBuckets = 64)))))
}
