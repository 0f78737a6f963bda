package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fhir._

/** The paper's batch pipeline over a Synthea-shaped corpus: one bundle
  * file per patient, read and parsed, projected through the pruning
  * source, flattened, queried with SQL, written as per-resource tables and
  * re-encoded as FHIR. */
final class FhirEtl(spark: SparkSession, dir: File, seed: Long)
    extends Workload {
  import FhirEtl._

  private val bundleDir = new File(dir, "bundles")
  val truth: FhirTruth = FhirGen.write(bundleDir, new Gen(seed), Bundles)
  private val path = bundleDir.getPath

  val opsPerPass = 8

  def pass(h: Harness, out: File): Unit = {
    var bundles: DataFrame = null
    try {
      bundles = h.op("fhir.entry") {
        val b = BundleReader.readFromDirectory(spark, path).entry().persist()
        val sizes = truth.resourceCounts.keys.toSeq.sorted
        val row = b.agg(count(lit(1)), sizes.map(rt =>
          sum(sizeOrZero(rt))): _*)
          .collect()(0)
        (b, row.getLong(0), sizes.zipWithIndex
          .map { case (rt, i) => rt -> row.getLong(i + 1) }.toMap)
      } { case (_, n, counts) =>
        Check.equal("bundle rows", n, truth.bundles.toLong)
        Check.equal("resources per type", counts, truth.resourceCounts)
      }._1

      h.op("fhir.pruned_scan") {
        spark.read.format("graft-fhir").option("resourceTypes", "Patient")
          .load(path)
          .select(explode(col("Patient")).as("p"))
          .select(col("p.id"), col("p.birthDate")).collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
      } { got =>
        Check.equal("patients from the pruned scan", got,
          truth.patients.map { case (id, p) => id -> p.birthDate })
      }

      h.op("fhir.flatten.patients") {
        Flatten.patients(bundles)
          .select("patient_id", "ssn", "empi_id", "drivers_license",
            "gender", "last_name")
          .collect().map(r => r.getString(0) ->
            (r.getString(1), r.getString(2), r.getString(3), r.getString(4),
              r.getString(5))).toMap
      } { got =>
        Check.equal("flattened patients", got, truth.patients.map {
          case (id, p) => id -> (p.ssn, p.empi, p.driversLicense, p.gender,
            p.family)
        })
      }

      h.op("fhir.flatten.omop_person") {
        Flatten.omopPerson(bundles)
          .select("person_id", "year_of_birth", "month_of_birth",
            "day_of_birth").collect()
          .map(r => r.getString(0) -> (r.getInt(1), r.getInt(2), r.getInt(3)))
          .toMap
      } { got =>
        Check.equal("OMOP birth-date parts", got,
          truth.patients.map { case (id, p) => id -> p.birthParts })
      }

      h.op("fhir.sql.conditions") {
        Flatten.patientConditions(bundles)
          .createOrReplaceTempView("perfbench_patient_conditions")
        val perCode = spark.sql(
          """SELECT condition_code, COUNT(DISTINCT patient_id)
            |FROM perfbench_patient_conditions GROUP BY condition_code"""
            .stripMargin)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val covid = spark.sql(
          s"""SELECT COUNT(DISTINCT patient_id)
             |FROM perfbench_patient_conditions
             |WHERE condition_code = '${FhirGen.CovidCode}'""".stripMargin)
          .collect()(0).getLong(0)
        (perCode, covid)
      } { case (perCode, covid) =>
        Check.equal("patients per condition code", perCode,
          truth.patientsPerCondition)
        Check.equal("covid cohort", covid,
          truth.patientsPerCondition.getOrElse(FhirGen.CovidCode, 0L))
      }

      h.op("fhir.sql.claims") {
        Flatten.claims(bundles)
          .withColumn("patient_id", Flatten.refUuidRegexp(col("patient_ref")))
          .createOrReplaceTempView("perfbench_claims")
        spark.sql(
          """SELECT patient_id, COUNT(*), SUM(claim_billed_amount)
            |FROM perfbench_claims GROUP BY patient_id""".stripMargin)
          .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
          .toMap
      } { got =>
        Check.equal("patients with claims", got.keySet, truth.claims.keySet)
        truth.claims.foreach { case (id, (n, cents)) =>
          val (gn, total) = got(id)
          Check.equal(s"claims of $id", gn, n)
          Check(math.abs(total - cents / 100.0) < 1e-6 * math.max(1.0, total),
            s"claim total of $id: got $total, want ${cents / 100.0}")
        }
      }

      h.op("fhir.encode") {
        val encoded = new File(out, "encoded").getPath
        val claims = Flatten.claims(bundles)
          .withColumn("patient_id", Flatten.refUuidRegexp(col("patient_ref")))
        val flat = Flatten.patients(bundles).join(claims, "patient_id")
        FhirBundleWriter.dfToFhir(flat, EncodeMapping).write.text(encoded)
        val back = BundleReader.fromJsonStrings(spark.read.textFile(encoded))
        val ids = Flatten.patients(back).select("patient_id").distinct()
          .collect().map(_.getString(0)).toSet
        val cl = Flatten.claims(back)
          .agg(count(lit(1)), sum("claim_billed_amount")).collect()(0)
        (ids, cl.getLong(0), cl.getDouble(1))
      } { case (ids, n, total) =>
        Check.equal("patient ids after the encode round trip", ids,
          truth.patients.keySet)
        Check.equal("claims after the encode round trip", n,
          truth.claims.values.map(_._1).sum)
        val want = truth.claims.values.map(_._2).sum / 100.0
        Check(math.abs(total - want) < 1e-6 * want,
          s"claim total after the encode round trip: got $total, want $want")
      }

      h.op("fhir.table_write") {
        TableWriter.bulkTableWrite(bundles, Database, columns = TableColumns)
      } { tables =>
        Check.equal("tables written", tables.size, TableColumns.size)
        Check.equal("patient table rows",
          spark.table(s"$Database.patient").count(), truth.bundles.toLong)
        Check.equal("claims in the claim table",
          spark.table(s"$Database.claim")
            .agg(sum(sizeOrZero("Claim")))
            .collect()(0).getLong(0),
          truth.resourceCounts("Claim"))
      }
    } finally if (bundles != null) bundles.unpersist()
  }

  def layerMetrics(t: TraceView): Map[String, Metric] = Map(
    "fhir.parse_s" -> t.selfSeconds("fhir.entry"),
    "fhir.pruned_scan_s" -> t.selfSeconds("fhir.pruned_scan"),
    "fhir.flatten_s" -> t.selfSeconds(
      "fhir.flatten.patients", "fhir.flatten.omop_person"),
    "fhir.analytics_s" -> t.selfSeconds(
      "fhir.sql.conditions", "fhir.sql.claims"),
    "fhir.table_write_s" -> t.selfSeconds("fhir.table_write"),
    "fhir.encode_s" -> t.selfSeconds("fhir.encode"))
}

object FhirEtl {
  /** Entries in an array column, 0 where the bundle has none. */
  def sizeOrZero(c: String) =
    when(col(c).isNull, lit(0L)).otherwise(size(col(c)).cast("long"))

  /** Patient bundles per run: about 1.7 MB of JSON. */
  val Bundles = 48

  val Database = "perfbench_fhir"

  /** The resource types the corpus holds, one table each. */
  val TableColumns: Seq[String] = Seq("Patient", "Practitioner", "Encounter",
    "Claim", "Condition", "MedicationRequest")

  /** Flat patient × claim rows back to FHIR: one bundle per claim. */
  val EncodeMapping: MappingManager = MappingManager(Seq(
    Mapping("patient_id", "Patient.id"),
    Mapping("gender", "Patient.gender"),
    Mapping("birth_date", "Patient.birthDate"),
    Mapping("claim_id", "Claim.id"),
    Mapping("claim_billed_amount", "Claim.total.value")))
}

final case class PatientTruth(
    ssn: String, empi: String, driversLicense: String, gender: String,
    family: String, birthDate: String) {
  def birthParts: (Int, Int, Int) = {
    val Array(y, m, d) = birthDate.split('-').map(_.toInt)
    (y, m, d)
  }
}

/** What the generator wrote, counted as it wrote it. */
final case class FhirTruth(
    bundles: Int,
    resourceCounts: Map[String, Long],
    patients: Map[String, PatientTruth],
    patientsPerCondition: Map[String, Long],
    /** patient id -> (claims, sum of claim totals in cents) */
    claims: Map[String, (Long, Long)])

/** Synthea-shaped patient bundles. Each holds one Patient with the SSN,
  * driver's-license and EMPI identifiers, one or two Practitioners, and
  * per encounter an Encounter, a Claim and Observations, plus Conditions
  * and MedicationRequests. Observation is not in the schema registry, so
  * the parser must skip it; several declared resources also carry fields
  * the registry does not declare. */
object FhirGen {
  val CovidCode = "840539006"
  private val Snomed = "http://snomed.info/sct"
  val ConditionCodes: IndexedSeq[(String, String)] = IndexedSeq(
    CovidCode -> "COVID-19",
    "44054006" -> "Diabetes mellitus type 2",
    "38341003" -> "Hypertension",
    "195662009" -> "Acute viral pharyngitis",
    "10509002" -> "Acute bronchitis",
    "162864005" -> "Body mass index 30+ - obesity",
    "271737000" -> "Anemia",
    "40055000" -> "Chronic sinusitis")
  private val Given = IndexedSeq("Ana", "Ben", "Carla", "Dmitri", "Eve",
    "Farid", "Grace", "Hugo", "Ines", "Jon", "Kemal", "Lena", "Mateo", "Nia")
  private val Family = IndexedSeq("Abbott", "Baker", "Chen", "Diaz", "Evans",
    "Fischer", "Garcia", "Hansen", "Ito", "Jensen", "Kowalski", "Lopez")
  private val Cities = IndexedSeq("Boston", "Worcester", "Springfield",
    "Lowell", "Cambridge", "Quincy")
  private val Observations = IndexedSeq(
    ("8302-2", "Body Height", "cm"), ("29463-7", "Body Weight", "kg"),
    ("39156-5", "Body mass index", "kg/m2"), ("8867-4", "Heart rate", "/min"),
    ("9279-1", "Respiratory rate", "/min"), ("2339-0", "Glucose", "mg/dL"))
  private val Meds = IndexedSeq("313782" -> "Acetaminophen 325 MG",
    "197361" -> "Amlodipine 5 MG", "860975" -> "Metformin 500 MG",
    "308136" -> "Amoxicillin 250 MG")

  private def q(s: String) = "\"" + s + "\""
  private def ref(id: String) = s"""{"reference":"urn:uuid:$id"}"""
  private def coding(system: String, code: String, display: String) =
    s"""{"system":${q(system)},"code":${q(code)},"display":${q(display)}}"""
  private def date(g: Gen, y0: Int, y1: Int) =
    f"${g.between(y0, y1)}%04d-${g.between(1, 12)}%02d-${g.between(1, 28)}%02d"
  private def entry(rt: String, id: String, body: String) =
    s"""{"fullUrl":"urn:uuid:$id","resource":{"resourceType":"$rt","id":"$id",$body},"request":{"method":"POST","url":"$rt"}}"""

  def write(dir: File, g: Gen, n: Int): FhirTruth = {
    val counts = scala.collection.mutable.Map[String, Long]()
      .withDefaultValue(0L)
    graft.fhir.FhirSchemas.defaultResourceMap.keys.foreach(counts(_) = 0L)
    val patients = Map.newBuilder[String, PatientTruth]
    val perCondition = scala.collection.mutable.Map[String, Set[String]]()
      .withDefaultValue(Set.empty)
    val claims = Map.newBuilder[String, (Long, Long)]
    for (b <- 0 until n) {
      val pid = g.uuid()
      val p = PatientTruth(
        ssn = s"999-${g.digits(2)}-${g.digits(4)}",
        empi = s"EMPI${g.digits(8)}",
        driversLicense = s"S99${g.digits(7)}",
        gender = if (g.chance(0.5)) "female" else "male",
        family = g.pick(Family) + g.digits(3),
        birthDate = date(g, 1930, 2015))
      patients += pid -> p
      val entries = scala.collection.mutable.ArrayBuffer[String]()
      entries += entry("Patient", pid,
        s""""meta":{"profile":["http://hl7.org/fhir/us/core/StructureDefinition/us-core-patient"]},""" +
        s""""extension":[{"url":"http://hl7.org/fhir/us/core/StructureDefinition/us-core-race","extension":[{"url":"text","valueString":"White"}]},{"url":"http://synthetichealth.github.io/synthea/disability-adjusted-life-years","valueDecimal":${g.double()}}],""" +
        s""""identifier":[{"system":"https://github.com/synthetichealth/synthea","value":"$pid"},""" +
        s"""{"type":{"text":"EMPI"},"system":"http://example.org/empi","value":"${p.empi}"},""" +
        s"""{"type":{"coding":[${coding("http://terminology.hl7.org/CodeSystem/v2-0203", "SS", "Social Security Number")}],"text":"Social Security Number"},"system":"http://hl7.org/fhir/sid/us-ssn","value":"${p.ssn}"},""" +
        s"""{"type":{"coding":[${coding("http://terminology.hl7.org/CodeSystem/v2-0203", "DL", "Driver's License")}],"text":"Driver's License"},"system":"urn:oid:2.16.840.1.113883.4.3.25","value":"${p.driversLicense}"}],""" +
        s""""name":[{"use":"official","family":"${p.family}","given":["${g.pick(Given)}${g.digits(3)}"],"prefix":["Mx."]}],""" +
        s""""telecom":[{"system":"phone","value":"555-${g.digits(3)}-${g.digits(4)}","use":"home"}],""" +
        s""""gender":"${p.gender}","birthDate":"${p.birthDate}",""" +
        s""""address":[{"line":["${g.digits(3)} Main St"],"city":"${g.pick(Cities)}","state":"MA","postalCode":"0${g.digits(4)}","country":"US"}],""" +
        s""""maritalStatus":{"coding":[${coding("http://terminology.hl7.org/CodeSystem/v3-MaritalStatus", "M", "Married")}],"text":"M"},""" +
        s""""multipleBirthBoolean":false,""" +
        s""""communication":[{"language":{"coding":[${coding("urn:ietf:bcp:47", "en-US", "English")}],"text":"English"}}]""")
      counts("Patient") += 1
      val pracs = Seq.fill(g.between(1, 2))(g.uuid())
      pracs.foreach { pr =>
        entries += entry("Practitioner", pr,
          s""""identifier":[{"system":"http://hl7.org/fhir/sid/us-npi","value":"${g.digits(10)}"}],"active":true,""" +
          s""""name":[{"family":"${g.pick(Family)}${g.digits(2)}","given":["${g.pick(Given)}"],"prefix":["Dr."]}],""" +
          s""""telecom":[{"system":"email","value":"dr${g.digits(5)}@example.com","use":"work"}],"gender":"${if (g.chance(0.5)) "female" else "male"}"""")
        counts("Practitioner") += 1
      }
      var nClaims = 0L
      var cents = 0L
      for (_ <- 0 until g.between(4, 10)) {
        val enc = g.uuid()
        val day = date(g, 2015, 2023)
        entries += entry("Encounter", enc,
          s""""status":"finished","class":{"system":"http://terminology.hl7.org/CodeSystem/v3-ActCode","code":"AMB"},""" +
          s""""type":[{"coding":[${coding(Snomed, "185345009", "Encounter for symptom")}],"text":"Encounter for symptom"}],""" +
          s""""subject":${ref(pid)},"participant":[{"individual":${ref(g.pick(pracs.toIndexedSeq))}}],""" +
          s""""period":{"start":"${day}T09:00:00Z","end":"${day}T09:30:00Z"}""")
        counts("Encounter") += 1
        val c = g.between(500, 250000)
        cents += c
        nClaims += 1
        entries += entry("Claim", g.uuid(),
          s""""status":"active","type":{"coding":[{"system":"http://terminology.hl7.org/CodeSystem/claim-type","code":"professional"}]},"use":"claim",""" +
          s""""patient":${ref(pid)},"billablePeriod":{"start":"${day}T09:00:00Z","end":"${day}T09:30:00Z"},"created":"${day}T09:30:00Z",""" +
          s""""provider":{"reference":"Organization?identifier=https://github.com/synthetichealth/synthea|${g.uuid()}"},""" +
          s""""insurance":[{"sequence":1,"focal":true,"coverage":"Medicaid"}],""" +
          s""""item":[{"sequence":1,"productOrService":{"coding":[${coding(Snomed, "185345009", "Encounter for symptom")}],"text":"Encounter for symptom"},"encounter":[${ref(enc)}]}],""" +
          f""""total":{"value":${c / 100}%d.${c % 100}%02d,"currency":"USD"}""")
        counts("Claim") += 1
        for (_ <- 0 until g.between(2, 5)) {
          val (code, name, unit) = g.pick(Observations)
          entries += s"""{"fullUrl":"urn:uuid:${g.uuid()}","resource":{"resourceType":"Observation","id":"${g.uuid()}","status":"final",""" +
            s""""category":[{"coding":[{"system":"http://terminology.hl7.org/CodeSystem/observation-category","code":"vital-signs"}]}],""" +
            s""""code":{"coding":[${coding("http://loinc.org", code, name)}],"text":"$name"},"subject":${ref(pid)},"encounter":${ref(enc)},""" +
            f""""effectiveDateTime":"${day}T09:10:00Z","valueQuantity":{"value":${g.double() * 100}%.3f,"unit":"$unit","system":"http://unitsofmeasure.org","code":"$unit"}},"request":{"method":"POST","url":"Observation"}}"""
        }
      }
      claims += pid -> (nClaims, cents)
      val codes = Seq.fill(g.between(0, 4))(g.pick(ConditionCodes)).distinct
      codes.foreach { case (code, text) =>
        entries += entry("Condition", g.uuid(),
          s""""clinicalStatus":{"coding":[{"system":"http://terminology.hl7.org/CodeSystem/condition-clinical","code":"active"}]},""" +
          s""""verificationStatus":{"coding":[{"system":"http://terminology.hl7.org/CodeSystem/condition-ver-status","code":"confirmed"}]},""" +
          s""""code":{"coding":[${coding(Snomed, code, text)}],"text":"$text"},"subject":${ref(pid)},""" +
          s""""onsetDateTime":"${date(g, 2015, 2023)}T10:00:00Z","recordedDate":"${date(g, 2015, 2023)}T10:00:00Z"""")
        counts("Condition") += 1
        perCondition(code) += pid
      }
      for (_ <- 0 until g.between(0, 4)) {
        val (code, text) = g.pick(Meds)
        entries += entry("MedicationRequest", g.uuid(),
          s""""status":"active","intent":"order","medicationCodeableConcept":{"coding":[${coding("http://www.nlm.nih.gov/research/umls/rxnorm", code, text)}],"text":"$text"},""" +
          s""""subject":${ref(pid)},"authoredOn":"${date(g, 2015, 2023)}T11:00:00Z","requester":${ref(pracs.head)}""")
        counts("MedicationRequest") += 1
      }
      val ts = s"${date(g, 2023, 2023)}T12:00:00.000Z"
      Fs.write(new File(dir, f"bundle_$b%05d.json"),
        s"""{"resourceType":"Bundle","type":"transaction","timestamp":"$ts","entry":[${entries.mkString(",")}]}""")
    }
    FhirTruth(n, counts.toMap, patients.result(),
      perCondition.map { case (c, ps) => c -> ps.size.toLong }.toMap,
      claims.result())
  }
}
