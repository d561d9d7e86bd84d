package lakebench

import java.util.SplittableRandom
import scala.collection.mutable

/** One version of one FHIR resource as the generator produced it. The
  * fields are what the verification needs; [[json]] renders the exact
  * compact text the engine stores in `resource_json`.
  */
final case class Res(rtype: String, id: String, version: Int, status: String,
                     code: String, cents: Long, subject: String,
                     gender: String, day: Int) {
  def url: String = s"$rtype/$id"
  def lastUpdated: String =
    f"${Gen.date(day)}T12:${version / 60 % 60}%02d:${version % 60}%02dZ"
  def json: String = Gen.render(this)
}

/** One bundle entry: a PUT carries the new version, a DELETE only the URL. */
final case class Entry(method: String, res: Res)

/** One Kafka record: a transaction bundle on one partition and offset. */
final case class Bundle(partition: Int, offset: Long, entries: Seq[Entry],
                        malformed: Boolean) {
  def value: String =
    if (malformed) Gen.malformedPrefix + entries.size
    else entries.map(Gen.renderEntry)
      .mkString("""{"resourceType":"Bundle","type":"transaction","entry":[""", ",", "]}")
}

/** Latest-wins state the engine must end in: ops folded in generation
  * order. Each URL lives on one partition and offsets grow with
  * generation order, so this equals the engine's (partition asc, offset
  * desc) dedup within a batch followed by batch-by-batch application,
  * whatever the batch boundaries are. Malformed bundles change nothing.
  */
final class State(partitions: Int) {
  val live = mutable.LinkedHashMap.empty[String, Res]
  // per (type, partition): live ids in a swap-remove array, so Zipf
  // picks are O(1) and deterministic
  private val pools = mutable.HashMap.empty[(String, Int), mutable.ArrayBuffer[String]]
  private val slot = mutable.HashMap.empty[String, Int]

  def apply(b: Bundle): Unit = if (!b.malformed) b.entries.foreach { e =>
    val url = e.res.url
    val key = (e.res.rtype, Gen.partitionOf(url, partitions))
    if (e.method == "PUT") {
      if (!live.contains(url)) {
        val pool = pools.getOrElseUpdate(key, mutable.ArrayBuffer.empty)
        slot(url) = pool.size
        pool += e.res.id
      }
      live(url) = e.res
    } else if (live.remove(url).isDefined) {
      val pool = pools(key)
      val i = slot.remove(url).get
      val last = pool.remove(pool.size - 1)
      if (i < pool.size) { pool(i) = last; slot(s"${e.res.rtype}/$last") = i }
    }
  }

  def pool(rtype: String, partition: Int): collection.IndexedSeq[String] =
    pools.getOrElse((rtype, partition), mutable.ArrayBuffer.empty)

  def liveOf(rtype: String): Iterable[Res] = live.values.filter(_.rtype == rtype)

  /** Bytes of live resource JSON — the denominator of storage amplification. */
  def liveJsonBytes: Long = live.valuesIterator.map(_.json.length.toLong).sum
}

/** Seeded FHIR bundle generator. The same seed and parameters give the
  * same bundles byte for byte; every bundle is folded into [[state]] as
  * it is made, so the expected final state is known without running the
  * engine.
  */
final class Gen(seed: Long, params: Params, typeMixPath: String = "common.type_mix") {
  import Gen._

  private val rnd = new SplittableRandom(seed)
  private val partitions = params.int("common.partitions")
  val state = new State(partitions)
  private val typeMix: Seq[(String, Double)] = params.doubleMap(typeMixPath)
  private val nextOffset = Array.fill(partitions)(0L)
  private var nextPartition = 0

  /** PUT-only bundles of `entries` new resources in all (the backlog
    * shape); the last bundle is cut short to hit the count exactly.
    */
  def backfill(entries: Int, minEntries: Int, maxEntries: Int): Seq[Bundle] = {
    val out = mutable.ArrayBuffer.empty[Bundle]
    var left = entries
    while (left > 0) {
      val p = takePartition()
      val n = math.min(left, minEntries + rnd.nextInt(maxEntries - minEntries + 1))
      left -= n
      out += emit(p, Seq.fill(n)(Entry("PUT", fresh(pickType(), p))))
    }
    out.toSeq
  }

  /** One open-loop tick of live traffic, about `entries` entries. */
  def churnTick(entries: Int, c: ChurnMix): Seq[Bundle] = {
    val out = mutable.ArrayBuffer.empty[Bundle]
    val touched = mutable.ArrayBuffer.empty[(Int, String)] // (partition, url) PUT this tick
    var left = entries
    while (left > 0) {
      val p = takePartition()
      val n = math.min(left, c.minEntries + rnd.nextInt(c.maxEntries - c.minEntries + 1))
      left -= n
      if (rnd.nextDouble() < c.malformedShare) {
        nextOffset(p) += 1
        out += Bundle(p, nextOffset(p) - 1, Seq.fill(n)(Entry("PUT", fresh(pickType(), p))), malformed = true)
      } else {
        val urls = mutable.HashSet.empty[String]
        val es = mutable.ArrayBuffer.empty[Entry]
        var i = 0
        while (i < n) {
          val e = churnEntry(p, c, touched)
          if (e.isDefined && urls.add(e.get.res.url)) es += e.get
          i += 1
        }
        if (es.nonEmpty) {
          val b = emit(p, es.toSeq)
          b.entries.foreach(e => if (e.method == "PUT") touched += ((p, e.res.url)))
          out += b
        }
      }
    }
    out.toSeq
  }

  private def churnEntry(p: Int, c: ChurnMix,
                         touched: mutable.ArrayBuffer[(Int, String)]): Option[Entry] = {
    val u = rnd.nextDouble()
    val here = touched.filter(_._1 == p)
    if (u < c.deleteShare) {
      if (here.nonEmpty && rnd.nextDouble() < c.putThenDeleteShare)
        state.live.get(here(rnd.nextInt(here.size))._2).map(r => Entry("DELETE", r))
      else pickLive(pickType(), p, c.zipfS).map(r => Entry("DELETE", r))
    } else if (u < c.deleteShare + c.newShare) {
      Some(Entry("PUT", fresh(pickType(), p)))
    } else if (u < c.deleteShare + c.newShare + c.repeatShare && here.nonEmpty) {
      state.live.get(here(rnd.nextInt(here.size))._2).map(r => Entry("PUT", update(r)))
    } else pickLive(pickType(), p, c.zipfS).map(r => Entry("PUT", update(r)))
  }

  private def emit(p: Int, entries: Seq[Entry]): Bundle = {
    val b = Bundle(p, nextOffset(p), entries, malformed = false)
    nextOffset(p) += 1
    state(b)
    b
  }

  private def takePartition(): Int = {
    val p = nextPartition
    nextPartition = (nextPartition + 1) % partitions
    p
  }

  private def pickType(): String = {
    var u = rnd.nextDouble() * typeMix.map(_._2).sum
    typeMix.find { case (_, w) => u -= w; u < 0 }.getOrElse(typeMix.last)._1
  }

  /** Zipf-skewed pick among the live ids of `rtype` on partition `p`:
    * rank r is drawn with P(rank < r) = (ln(1+r)/ln(1+n))^(1/s), which
    * is log-uniform at s = 1, so a few ids take most updates.
    */
  private def pickLive(rtype: String, p: Int, s: Double): Option[Res] = {
    val pool = state.pool(rtype, p)
    if (pool.isEmpty) None
    else {
      val r = (math.exp(math.pow(rnd.nextDouble(), s) * math.log(pool.size + 1.0)) - 1).toInt
      state.live.get(s"$rtype/${pool(math.min(r, pool.size - 1))}")
    }
  }

  private def update(r: Res): Res =
    r.copy(version = r.version + 1, status = pick(statuses(r.rtype)),
      cents = 100 + rnd.nextLong(20000), day = r.day + 1 + rnd.nextInt(30))

  /** A new resource whose URL hashes to partition `p` (random hex ids,
    * like the hashed ids of real feeds).
    */
  private def fresh(rtype: String, p: Int): Res = {
    var id = hexId()
    while (partitionOf(s"$rtype/$id") != p || state.live.contains(s"$rtype/$id")) id = hexId()
    val subject = {
      val pats = state.pool("Patient", rnd.nextInt(partitions))
      if (pats.isEmpty) hexId() else pats(rnd.nextInt(pats.size))
    }
    Res(rtype, id, 1, pick(statuses(rtype)), pick(codes(rtype))._1,
      100 + rnd.nextLong(20000), subject, pick(genders), rnd.nextInt(3000))
  }

  private def hexId(): String = f"${rnd.nextLong()}%016x"
  private def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.size))

  private def partitionOf(url: String): Int = Gen.partitionOf(url, partitions)
}

/** Traffic shares for [[Gen.churnTick]]. */
final case class ChurnMix(minEntries: Int, maxEntries: Int, deleteShare: Double,
                          putThenDeleteShare: Double, newShare: Double,
                          repeatShare: Double, zipfS: Double, malformedShare: Double)

object Gen {
  val malformedPrefix = """{"resourceType":"Bundle","type":"transaction","entry":[{"resource":{"resourceType":"Obs"""

  /** Partition of a URL: the key-to-partition rule of the feed. */
  def partitionOf(url: String, partitions: Int): Int =
    (url.hashCode & Int.MaxValue) % partitions

  def date(day: Int): String = java.time.LocalDate.ofEpochDay(18000L + day).toString

  val genders: IndexedSeq[String] = Vector("female", "male", "other", "unknown")

  val statuses: Map[String, IndexedSeq[String]] = Map(
    "Observation" -> Vector("final", "amended", "preliminary"),
    "Encounter" -> Vector("finished", "in-progress", "planned"),
    "Condition" -> Vector("active", "resolved", "inactive"),
    "Procedure" -> Vector("completed", "in-progress"),
    "MedicationStatement" -> Vector("active", "completed", "stopped"),
    "Flag" -> Vector("active", "inactive"),
    "Patient" -> Vector("true", "false")).withDefaultValue(Vector("active"))

  /** (code, display, unit) per type; Observation codes are LOINC with UCUM units. */
  val codes: Map[String, IndexedSeq[(String, String, String)]] = Map(
    "Observation" -> Vector(
      ("8867-4", "Heart rate", "/min"), ("8310-5", "Body temperature", "Cel"),
      ("29463-7", "Body weight", "kg"), ("8302-2", "Body height", "cm"),
      ("2339-0", "Glucose", "mg/dL"), ("718-7", "Hemoglobin", "g/dL"),
      ("8480-6", "Systolic blood pressure", "mm[Hg]"),
      ("8462-4", "Diastolic blood pressure", "mm[Hg]"),
      ("2093-3", "Cholesterol", "mg/dL"), ("4548-4", "Hemoglobin A1c", "%"),
      ("2160-0", "Creatinine", "mg/dL"), ("6690-2", "Leukocytes", "10*3/uL"),
      ("777-3", "Platelets", "10*3/uL"), ("2951-2", "Sodium", "mmol/L"),
      ("2823-3", "Potassium", "mmol/L"), ("59408-5", "Oxygen saturation", "%")),
    "Condition" -> Vector(("I10", "Essential hypertension", ""),
      ("E11.9", "Type 2 diabetes mellitus", ""), ("J45.909", "Asthma", ""),
      ("C50.9", "Malignant neoplasm of breast", ""), ("N18.3", "Chronic kidney disease", "")),
    "Procedure" -> Vector(("80146002", "Appendectomy", ""),
      ("73761001", "Colonoscopy", ""), ("387713003", "Surgical procedure", "")),
    "Encounter" -> Vector(("AMB", "ambulatory", ""), ("IMP", "inpatient encounter", ""),
      ("EMER", "emergency", "")),
    "MedicationStatement" -> Vector(("860975", "Metformin 500 MG", ""),
      ("197361", "Amlodipine 5 MG", ""), ("314076", "Lisinopril 10 MG", "")),
    "Flag" -> Vector(("fall-risk", "Fall risk", ""), ("allergy", "Allergy alert", "")),
    "Patient" -> Vector(("M", "Married", ""), ("S", "Never Married", "")))
    .withDefaultValue(Vector(("x", "x", "")))

  /** Decimal text exactly as the engine's JSON round trip prints it. */
  def decimal(cents: Long): String = (cents / 100.0).toString

  def renderEntry(e: Entry): String =
    if (e.method == "DELETE")
      s"""{"request":{"method":"DELETE","url":"${e.res.url}"}}"""
    else
      s"""{"fullUrl":"urn:uuid:${e.res.id}","resource":${e.res.json},""" +
        s""""request":{"method":"PUT","url":"${e.res.url}"}}"""

  def render(r: Res): String = {
    val (code, display, unit) =
      codes(r.rtype).find(_._1 == r.code).getOrElse((r.code, r.code, ""))
    val head = s"""{"resourceType":"${r.rtype}","id":"${r.id}",""" +
      s""""meta":{"versionId":"${r.version}","lastUpdated":"${r.lastUpdated}",""" +
      s""""profile":["http://example.org/fhir/StructureDefinition/${r.rtype}"]},"""
    // extensions carry value types the typed schema does not model
    // (valueBoolean, valueCoding at top level): they survive only in
    // resource_json
    val ext = s""""extension":[{"url":"http://example.org/fhir/source-system","valueCoding":""" +
      s"""{"system":"http://example.org/systems","code":"ehr-${r.version % 7}"}},""" +
      s"""{"url":"http://example.org/fhir/reviewed","valueBoolean":${r.version % 2 == 0}}],"""
    val subj = s""""subject":{"reference":"Patient/${r.subject}"}"""
    val when = Gen.date(r.day)
    val body = r.rtype match {
      case "Patient" =>
        s""""identifier":[{"system":"urn:oid:1.2.36.146.595.217.0.1","value":"MRN-${r.id.take(8)}"}],""" +
          s""""active":${r.status},"name":[{"use":"official","family":"Fam${r.id.take(4)}",""" +
          s""""given":["Giv${r.id.slice(4, 8)}"]}],"gender":"${r.gender}","birthDate":"$when",""" +
          s""""address":[{"city":"City${r.cents % 97}","postalCode":"${10000 + r.cents}","country":"DE"}],""" +
          s""""maritalStatus":{"coding":[{"system":"http://terminology.hl7.org/CodeSystem/v3-MaritalStatus","code":"$code","display":"$display"}]}"""
      case "Observation" =>
        s""""status":"${r.status}","category":[{"coding":[{"system":""" +
          s""""http://terminology.hl7.org/CodeSystem/observation-category","code":"vital-signs"}]}],""" +
          s""""code":{"coding":[{"system":"http://loinc.org","code":"$code","display":"$display"}],"text":"$display"},""" +
          s"""$subj,"encounter":{"reference":"Encounter/${r.id.reverse}"},""" +
          s""""effectiveDateTime":"${when}T08:30:00Z","issued":"${when}T09:00:00Z",""" +
          s""""valueQuantity":{"value":${decimal(r.cents)},"unit":"$unit","system":"http://unitsofmeasure.org","code":"$unit"},""" +
          s""""interpretation":[{"coding":[{"system":""" +
          s""""http://terminology.hl7.org/CodeSystem/v3-ObservationInterpretation","code":"${if (r.cents % 3 == 0) "H" else "N"}"}]}]"""
      case "Encounter" =>
        s""""status":"${r.status}","class":{"system":"http://terminology.hl7.org/CodeSystem/v3-ActCode",""" +
          s""""code":"$code","display":"$display"},$subj,"period":{"start":"${when}T08:00:00Z","end":"${when}T17:00:00Z"}"""
      case "Condition" =>
        s""""clinicalStatus":{"coding":[{"system":"http://terminology.hl7.org/CodeSystem/condition-clinical",""" +
          s""""code":"${r.status}"}]},"code":{"coding":[{"system":"http://hl7.org/fhir/sid/icd-10",""" +
          s""""code":"$code","display":"$display"}]},$subj,"onsetDateTime":"${when}T00:00:00Z","recordedDate":"$when""""
      case "Procedure" =>
        s""""status":"${r.status}","code":{"coding":[{"system":"http://snomed.info/sct","code":"$code",""" +
          s""""display":"$display"}]},$subj,"performedDateTime":"${when}T10:00:00Z""""
      case "MedicationStatement" =>
        s""""status":"${r.status}","medicationCodeableConcept":{"coding":[{"system":""" +
          s""""http://www.nlm.nih.gov/research/umls/rxnorm","code":"$code","display":"$display"}]},""" +
          s"""$subj,"effectiveDateTime":"${when}T00:00:00Z","dosage":[{"text":"${1 + r.cents % 3} per day"}]"""
      case _ =>
        s""""status":"${r.status}","code":{"coding":[{"system":"http://example.org/flags","code":"$code",""" +
          s""""display":"$display"}]},$subj,"period":{"start":"${when}T00:00:00Z"}"""
    }
    head + ext + body + "}"
  }

  /** JSON string literal of `s` (the generator emits no control chars). */
  def quote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** One FileBundleSource journal line for a bundle. */
  def journalLine(b: Bundle, topic: String = "fhir.msg"): String =
    s"""{"topic":"$topic","partition":${b.partition},"offset":${b.offset},"bundle":${quote(b.value)}}"""
}
