package graft.fhir

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Resource → relational flatten builders: the notebook's analysis queries
  * as typed DataFrame transformations over the bundle-row shape
  * (ref: 01_dbignite_sample.py:47-112,151-206,232-346,431-459).
  *
  * All of these are Generate(explode) + nested projections — shuffle-free
  * until an explicit join/agg; identifier lookups are higher-order array
  * filters (codegen'd), not UDFs.
  */
object Flatten {

  /** `filter(identifier, x -> x.system == sys)[0].value`
    * (ref: 01_dbignite_sample.py:435). */
  def identifierBySystem(identifier: Column, system: String): Column =
    get(filter(identifier, x => x.getField("system") === system), lit(0))
      .getField("value")

  /** `filter(identifier, x -> x.type.text == t)[0].value`
    * (ref: 01_dbignite_sample.py:451). */
  def identifierByTypeText(identifier: Column, text: String): Column =
    get(filter(identifier, x => x.getField("type").getField("text") === text),
      lit(0)).getField("value")

  /** `filter(identifier, x -> x.type.coding[0].code == c)[0].value`
    * (ref: 01_dbignite_sample.py:453). */
  def identifierByTypeCode(identifier: Column, code: String): Column =
    get(filter(identifier, x =>
      get(x.getField("type").getField("coding"), lit(0)).getField("code")
        === code), lit(0))
      .getField("value")

  val SsnSystem = "http://hl7.org/fhir/sid/us-ssn"

  /** Patient flatten (ref: 01_dbignite_sample.py:47-56,431-453): one row per
    * Patient resource with ids, name parts, demographics, and the
    * SSN/DL/EMPI identifier extracts. */
  def patients(bundles: DataFrame): DataFrame =
    bundles
      .select(col("bundleUUID"), col("timestamp"),
        explode(col("Patient")).as("p"))
      .select(
        col("bundleUUID"),
        col("timestamp"),
        col("p.id").as("patient_id"),
        get(get(col("p.name"), lit(0)).getField("given"), lit(0))
          .as("first_name"),
        get(col("p.name"), lit(0)).getField("family").as("last_name"),
        col("p.gender").as("gender"),
        col("p.birthDate").as("birth_date"),
        identifierBySystem(col("p.identifier"), SsnSystem).as("ssn"),
        identifierByTypeCode(col("p.identifier"), "DL").as("drivers_license"),
        identifierByTypeText(col("p.identifier"), "EMPI").as("empi_id"))

  /** Patient × Condition on bundleUUID (ref: 01_dbignite_sample.py:47-56 and
    * the SQL twin at :232-243). */
  def patientConditions(bundles: DataFrame): DataFrame = {
    val p = bundles
      .select(col("bundleUUID"), explode(col("Patient")).as("p"))
      .select(col("bundleUUID"), col("p.id").as("patient_id"),
        col("p.gender").as("gender"), col("p.birthDate").as("birth_date"))
    val c = bundles
      .select(col("bundleUUID"), explode(col("Condition")).as("c"))
      .select(col("bundleUUID"),
        get(col("c.clinicalStatus.coding"), lit(0)).getField("code")
          .as("clinical_status"),
        get(col("c.code.coding"), lit(0)).getField("code").as("condition_code"),
        col("c.code.text").as("condition_text"),
        col("c.recordedDate").as("recorded_date"))
    p.join(c, "bundleUUID")
  }

  /** Claim flatten (ref: 01_dbignite_sample.py:82-94,255-268). */
  def claims(bundles: DataFrame): DataFrame =
    bundles
      .select(col("bundleUUID"), explode(col("Claim")).as("cl"))
      .select(
        col("bundleUUID"),
        col("cl.id").as("claim_id"),
        col("cl.patient").as("patient_ref"),
        col("cl.provider").as("provider_ref"),
        get(col("cl.type.coding"), lit(0)).getField("code").as("claim_type"),
        col("cl.total.value").as("claim_billed_amount"),
        get(get(col("cl.item"), lit(0))
          .getField("productOrService").getField("coding"), lit(0))
          .getField("code").as("first_item_code"))

  /** Practitioner flatten (ref: 01_dbignite_sample.py:186-193,326-333);
    * includes the reference's brittle fixed-offset UUID extraction from a
    * reference URL plus the robust regexp variant (SURVEY.md §7). */
  def practitioners(bundles: DataFrame): DataFrame =
    bundles
      .select(col("bundleUUID"), explode(col("Practitioner")).as("pr"))
      .select(
        col("bundleUUID"),
        col("pr.id").as("practitioner_id"),
        col("pr.active").as("active"),
        col("pr.gender").as("gender"),
        get(col("pr.name"), lit(0)).getField("family").as("last_name"))

  /** MedicationRequest flatten (ref: 01_dbignite_sample.py:151-160) —
    * requires the bundle to have been read with the
    * medicationCodeableConcept schema override
    * (FhirSchemaModel.withFieldAdded, ref :123-146). */
  def medications(bundles: DataFrame): DataFrame =
    bundles
      .select(col("bundleUUID"), explode(col("MedicationRequest")).as("m"))
      .select(
        col("bundleUUID"),
        col("m.status").as("status"),
        col("m.intent").as("intent"),
        col("m.authoredOn").as("authored_on"),
        col("m.medicationCodeableConcept.text").as("medication_text"),
        get(col("m.medicationCodeableConcept.coding"), lit(0))
          .getField("code").as("medication_code"))

  /** Claim ⋈ Practitioner on the UUID embedded in the provider reference
    * URL (ref: 01_dbignite_sample.py:326-333 — fixed offsets 82,36). */
  def claimProviders(bundles: DataFrame): DataFrame = {
    val cl = claims(bundles)
      .withColumn("provider_uuid", refUuidFixedOffset(col("provider_ref")))
    val pr = practitioners(bundles)
    cl.join(pr, cl("provider_uuid") === pr("practitioner_id"))
      .select(cl("claim_id"), cl("claim_billed_amount"),
        cl("provider_uuid"), pr("active"), pr("gender"), pr("last_name"))
  }

  /** OMOP CDM PERSON projection (ref: the OMOP_PERSON CTAS at
    * 01_dbignite_sample.py:468-484): patient demographics → the CDM person
    * shape, birth date split into parts via date functions over the
    * string-typed FHIR birthDate. */
  def omopPerson(bundles: DataFrame): DataFrame =
    bundles
      .select(col("bundleUUID"), explode(col("Patient")).as("p"))
      .select(
        col("p.id").as("person_id"),
        col("p.gender").as("gender_source_value"),
        year(col("p.birthDate").cast("date")).as("year_of_birth"),
        month(col("p.birthDate").cast("date")).as("month_of_birth"),
        dayofmonth(col("p.birthDate").cast("date")).as("day_of_birth"),
        to_timestamp(col("p.birthDate")).as("birth_datetime"))

  /** Extract a UUID embedded in a reference URL, both ways. */
  def refUuidFixedOffset(ref: Column): Column = substring(ref, 82, 36)
  def refUuidRegexp(ref: Column): Column =
    regexp_extract(ref,
      "([0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12})",
      1)

  /** The ADT patient-event feed (ref: 01_dbignite_sample.py:431-459):
    * per-bundle pairing, no join — each bundle row's MessageHeaders are
    * exploded, then its Patients, so every header pairs with every patient
    * of its own bundle: the pairs of the reference's join on bundleUUID,
    * which is minted once per bundle row. Each bundle is parsed once and
    * the only exchange is the final sort's. Then identifier extracts,
    * event-code decode, latest-first ordering. */
  def adtPatientEvents(bundles: DataFrame): DataFrame =
    bundles
      // outer explodes and a filter on the element positions keep exactly
      // explode's rows: an inner explode lets the optimizer infer a
      // non-empty-array filter and push it below the bundle parse, which
      // would parse every bundle of an unpersisted frame a second time
      .select(col("timestamp"), col("Patient"),
        posexplode_outer(col("MessageHeader")).as(Seq("mh_pos", "mh")))
      .select(col("timestamp"), col("mh_pos"),
        col("mh.eventCoding.code").as("event_code"),
        posexplode_outer(col("Patient")).as(Seq("p_pos", "p")))
      .filter(col("mh_pos").isNotNull && col("p_pos").isNotNull)
      .withColumn("action", AdtActions.getActionColumn(col("event_code")))
      .select(
        identifierBySystem(col("p.identifier"), SsnSystem).as("ssn"),
        identifierByTypeCode(col("p.identifier"), "DL").as("drivers_license"),
        identifierByTypeText(col("p.identifier"), "EMPI").as("empi_id"),
        get(get(col("p.name"), lit(0)).getField("given"), lit(0))
          .as("first_name"),
        get(col("p.name"), lit(0)).getField("family").as("last_name"),
        col("event_code"),
        col("action.action").as("action"),
        col("action.description").as("action_description"),
        col("timestamp"))
      .orderBy(col("ssn").desc, col("timestamp").desc)
}
