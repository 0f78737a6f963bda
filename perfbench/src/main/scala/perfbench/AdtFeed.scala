package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fhir.{BundleReader, Flatten}
import graft.streaming.Streams

/** Many small ADT message bundles (MessageHeader + Patient + Encounter)
  * arriving as successive batches. Each batch is read, decoded into
  * patient events and upserted into a patient-state table keyed by EMPI
  * and versioned by the message timestamp; the state is read back at the
  * end of the pass. */
final class AdtFeed(spark: SparkSession, dir: File, seed: Long)
    extends Workload {
  import AdtFeed._

  private val batchDirs =
    (0 until Batches).map(b => new File(dir, f"batch_$b%02d"))
  val truth: AdtTruth = AdtGen.write(batchDirs, new Gen(seed))

  val opsPerPass: Int = 3 * Batches + 1

  private val EventCols = Seq("ssn", "drivers_license", "empi_id",
    "first_name", "last_name", "event_code", "action", "action_description",
    "timestamp")

  def pass(h: Harness, out: File): Unit = {
    val stateDir = new File(out, "state").getPath
    batchDirs.zipWithIndex.foreach { case (batchDir, b) =>
      var bundles: DataFrame = null
      var events: DataFrame = null
      try h.group("adt.batch") {
        bundles = h.op("adt.read") {
          val df = BundleReader.readFromDirectory(spark, batchDir.getPath)
            .entry().persist()
          (df, df.count())
        } { case (_, n) => Check.equal(s"bundles in batch $b", n,
          MessagesPerBatch.toLong)
        }._1

        events = h.op("adt.decode") {
          val df = Flatten.adtPatientEvents(bundles).persist()
          (df, df.count())
        } { case (_, n) =>
          Check.equal(s"events in batch $b", n, MessagesPerBatch.toLong)
          h.note("adt.event_bytes", truth.eventBytes(b).toDouble)
        }._1

        h.op("adt.upsert") {
          Streams.upsertBatch(events, stateDir, Seq("empi_id"), "timestamp")
        } { _ =>
          Check.equal(s"state rows after batch $b",
            Streams.readUpsertState(spark, stateDir).count(),
            truth.patientsSeen(b))
        }
      } finally {
        if (events != null) events.unpersist()
        if (bundles != null) bundles.unpersist()
      }
    }

    h.op("adt.state_read") {
      Streams.readUpsertState(spark, stateDir).select(EventCols.map(col): _*)
        .collect().map(r => EventCols.indices.map(r.getString).toList).toSet
    } { got =>
      Check.equal("state rows", got.size, truth.finalState.size)
      Check.equal("state equals each patient's latest event", got,
        truth.finalState)
    }
  }

  def layerMetrics(t: TraceView): Map[String, Metric] = {
    val batchMs = t.groupTimes("adt.batch").map(_ * 1e3)
    val upsertBytes = t.counterSum("adt.upsert", "written_bytes")
    val eventBytes = t.noteSum("adt.event_bytes")
    Map(
      "adt.read_s" -> t.selfSeconds("adt.read"),
      "adt.decode_s" -> t.selfSeconds("adt.decode"),
      "adt.upsert_s" -> t.selfSeconds("adt.upsert"),
      "adt.state_read_s" -> t.selfSeconds("adt.state_read"),
      "adt.batch_p50_ms" -> Metric(Stats.quantile(batchMs, 0.5), "ms"),
      "adt.batch_p90_ms" -> Metric(Stats.quantile(batchMs, 0.9), "ms"),
      "adt.write_amp" -> Metric(
        if (eventBytes > 0) upsertBytes / eventBytes else 0.0, "ratio"))
  }
}

object AdtFeed {
  val Batches = 2
  val MessagesPerBatch = 40
  val Patients = 150
}

/** Expected values: per batch the state rows after it and the bytes of
  * its decoded events, and the final state as (ssn, drivers_license,
  * empi_id, first_name, last_name, event_code, action, action_description,
  * timestamp) rows. */
final case class AdtTruth(
    patientsSeen: IndexedSeq[Long], eventBytes: IndexedSeq[Long],
    finalState: Set[List[String]])

object AdtGen {
  /** HL7 v2 trigger events and what each means for a patient's state. */
  val Events: IndexedSeq[(String, String, String)] = IndexedSeq(
    ("ADT_A01", "admit", "Admit/visit notification"),
    ("ADT_A02", "transfer", "Transfer a patient"),
    ("ADT_A03", "discharge", "Discharge/end visit"),
    ("ADT_A04", "register", "Register a patient"),
    ("ADT_A05", "preadmit", "Pre-admit a patient"),
    ("ADT_A08", "update", "Update patient information"),
    ("ADT_A09", "track_departure", "Patient departing - tracking"),
    ("ADT_A11", "cancel_admit", "Cancel admit/visit notification"),
    ("ADT_A28", "create_person", "Add person information"),
    ("ADT_A31", "update_person", "Update person information"))

  private val Given = IndexedSeq("Ada", "Bo", "Cyd", "Dee", "Eli", "Fay",
    "Gil", "Hal", "Ivy", "Jo", "Kit", "Lou")
  private val Family = IndexedSeq("Ames", "Byrd", "Cole", "Dunn", "Eads",
    "Ford", "Gale", "Hart", "Irwin", "Judd")

  private final case class P(
      ssn: String, dl: String, empi: String, first: String, var last: String)

  def write(batchDirs: IndexedSeq[File], g: Gen): AdtTruth = {
    import AdtFeed._
    val pool = IndexedSeq.tabulate(Patients) { i =>
      P(f"9${g.digits(2)}-${g.digits(2)}-$i%04d", s"D${g.digits(9)}",
        f"E$i%06d${g.digits(3)}", g.pick(Given), g.pick(Family))
    }
    val latest = scala.collection.mutable.Map[String, List[String]]()
    val seen = IndexedSeq.newBuilder[Long]
    val bytes = IndexedSeq.newBuilder[Long]
    val t0 = java.time.Instant.parse("2024-03-01T08:00:00Z")
    var msg = 0
    batchDirs.foreach { bd =>
      var batchBytes = 0L
      for (m <- 0 until MessagesPerBatch) {
        val p = g.pick(pool)
        val (code, action, description) = g.pick(Events)
        // an update may carry a new family name; the state keeps the latest
        if ((action == "update" || action == "update_person") && g.chance(0.5))
          p.last = g.pick(Family) + "-" + g.pick(Family)
        val ts = t0.plusSeconds(37L * msg + g.int(30)).toString
          .replace("Z", ".000Z")
        val event = List(p.ssn, p.dl, p.empi, p.first, p.last, code, action,
          description, ts)
        latest(p.empi) = event
        batchBytes += event.map(_.length).sum // all ASCII
        val enc = g.uuid()
        val pid = s"pat-${p.empi}"
        Fs.write(new File(bd, f"msg_$m%04d.json"),
          s"""{"resourceType":"Bundle","id":"${g.uuid()}","type":"message","timestamp":"$ts","entry":[""" +
          s"""{"resource":{"resourceType":"MessageHeader","id":"${g.uuid()}","eventCoding":{"system":"http://terminology.hl7.org/CodeSystem/v2-0354","code":"$code","display":"ADT message"},""" +
          s""""source":{"name":"PERFBENCH_FEED","endpoint":"http://example.org/adt"},"focus":[{"reference":"Patient/$pid","type":"Patient"}],"responsible":{"display":"General Hospital"}}},""" +
          s"""{"resource":{"resourceType":"Patient","id":"$pid","identifier":[""" +
          s"""{"type":{"text":"EMPI"},"system":"http://example.org/empi","value":"${p.empi}"},""" +
          s"""{"type":{"text":"Driver's license number","coding":[{"code":"DL","system":"http://terminology.hl7.org/CodeSystem/v2-0203"}]},"system":"urn:oid:2.16.840.1.113883.4.3.25","value":"${p.dl}"},""" +
          s"""{"type":{"text":"SSN"},"system":"http://hl7.org/fhir/sid/us-ssn","value":"${p.ssn}"}],""" +
          s""""name":[{"use":"official","given":["${p.first}"],"family":"${p.last}"}],"gender":"unknown","birthDate":"1970-01-0${1 + g.int(9)}"}},""" +
          s"""{"resource":{"resourceType":"Encounter","id":"$enc","status":"in-progress","class":{"system":"http://terminology.hl7.org/CodeSystem/v3-ActCode","code":"IMP"},"subject":{"reference":"Patient/$pid"}}}]}""")
        msg += 1
      }
      seen += latest.size.toLong
      bytes += batchBytes
    }
    AdtTruth(seen.result(), bytes.result(), latest.values.toSet)
  }
}
