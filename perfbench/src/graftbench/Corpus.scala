package graftbench

import java.sql.Timestamp
import java.time.Instant

import scala.util.Random

import graft.schema._
import graft.sets.SourceDef

/** What the benchmark knows about one record, taken from the generator's
  * own output and never from the engine: the basis of every expected
  * answer.
  */
final case class Rec(
    id: String,
    updatedMs: Long,
    headerMs: Long,
    deleted: Boolean,
    openAire: Boolean,
    langs: Set[String],
    sources: Set[String],
    directBaseUrl: String)

object Rec {
  def of(s: Study): Rec = {
    val deleted = s._metadata.status == RecordStatus.Deleted
    val updated = s._metadata.updated.getTime
    val header =
      if (deleted && s._metadata.deleted != null) s._metadata.deleted.getTime
      else updated
    Rec(
      s._aggregator_identifier, updated, header, deleted,
      s.identifiers.exists(i => Study.OpenAireIdAgencies.contains(i.agency)),
      s.study_titles.map(_.lang).filter(_ != null).toSet,
      s._provenance.filter(_.direct).flatMap(p => Corpus.sourceOf.get(p.base_url)).toSet,
      s._direct_base_url)
  }
}

/** Expected answers over one corpus state. */
final class Truth(val byId: Map[String, Rec]) {

  /** Every id in keyset order (Spark compares strings as UTF-8 bytes;
    * the generated ids are ASCII, so String order is the same).
    */
  lazy val sortedIds: Vector[String] = byId.keys.toVector.sorted

  def visible(prefix: String, r: Rec): Boolean =
    r.updatedMs < Corpus.Now.getTime && (prefix != "oai_datacite" || r.openAire)

  /** Ids a list verb must return, in order, for a format, an optional
    * set spec and an inclusive datestamp window.
    */
  def listIds(
      prefix: String,
      set: Option[String] = None,
      fromMs: Long = Long.MinValue,
      untilMs: Long = Long.MaxValue): Vector[String] =
    sortedIds.filter { id =>
      val r = byId(id)
      visible(prefix, r) && r.updatedMs >= fromMs && r.updatedMs <= untilMs &&
        set.forall(s => Truth.inSet(r, s))
    }

  /** Formats ListMetadataFormats?identifier must name for a record. */
  def formatsOf(id: String): Option[Seq[String]] =
    byId.get(id).map(r =>
      Seq("oai_dc", "oai_ddi25") ++ (if (r.openAire) Seq("oai_datacite") else Nil))

  lazy val earliestDatestamp: String =
    Corpus.iso(byId.valuesIterator.map(_.headerMs).min)

  /** setSpecs ListSets must list, in order: languages, OpenAIRE, sources. */
  lazy val setSpecs: Seq[String] =
    byId.valuesIterator.flatMap(_.langs).toSet.toSeq.sorted.map("language:" + _) ++
      Seq("openaire_data", "source") ++ Corpus.Sources.map("source:" + _.source)

  /** Expected /metrics gauges: the scrape's name{labels} → value map. */
  lazy val gauges: Map[String, Long] = {
    val recs = byId.values.toSeq
    val byPublisher = recs.filter(_.directBaseUrl != null).groupBy(_.directBaseUrl)
    Map(
      "records_total" -> recs.size.toLong,
      "records_total_without_deleted" -> recs.count(!_.deleted).toLong,
      "publishers_total" -> byPublisher.size.toLong) ++
      byPublisher.flatMap { case (url, rs) =>
        Seq(
          s"""publisher_records{publisher="$url"}""" -> rs.size.toLong,
          s"""publisher_records_without_deleted{publisher="$url"}""" ->
            rs.count(!_.deleted).toLong)
      }
  }
}

object Truth {
  def inSet(r: Rec, spec: String): Boolean = spec.split(":", 2) match {
    case Array("language", l)    => r.langs.contains(l)
    case Array("openaire_data")  => r.openAire
    case Array("source", s)      => r.sources.contains(s)
    case Array("source")         => r.sources.nonEmpty
    case _                       => false
  }
}

/** One seeded change batch for `TxTable.mergeInto`: upserts (updates,
  * inserts and soft deletes) plus hard-delete tombstones.
  */
final case class Batch(upserts: Seq[Study], tombstones: Seq[Study])

/** Seeded synthetic `Study` corpus. Same seed, same studies. Fan-out:
  * multi-language titles, 1-3 provenance hops, about 1/7 soft-deleted,
  * 12 source archives with skewed sizes, half the records without an
  * OpenAIRE identifier.
  */
object Corpus {

  def ts(s: String): Timestamp = Timestamp.from(Instant.parse(s))
  def iso(ms: Long): String = Instant.ofEpochMilli(ms).toString.replace(".000Z", "Z")

  /** The repository clock: after every generated datestamp. */
  val Now: Timestamp = ts("2025-01-01T00:00:00Z")
  private val BaseFrom = ts("2015-01-01T00:00:00Z").getTime
  /** Base-corpus datestamps fall before this; ingest batches after it. */
  val IngestFrom: Long = ts("2024-01-01T00:00:00Z").getTime

  val Langs: Seq[String] = Seq("en", "fi", "de", "fr", "sv", "nl", "es", "it", "da", "no")

  val Sources: Seq[SourceDef] = (0 until 12).map(i =>
    SourceDef(f"https://oai.archive$i%02d.example.org/v0/oai", f"ARCH$i%02d",
      f"Archive $i%02d", Some(f"Studies harvested from archive $i%02d")))

  val sourceOf: Map[String, String] = Sources.map(d => d.url -> d.source).toMap

  private val SourceWeights: Seq[Double] =
    Sources.indices.map(k => 1.0 / math.pow(k + 1, 0.8))

  private val Words: Vector[String] = (
    "survey panel household income election attitude health education labour " +
    "migration youth ageing welfare housing crime trust media climate energy " +
    "mobility family religion values voting inequality employment gender " +
    "wellbeing consumption leisure culture language region municipality " +
    "cohort wave sample interview questionnaire register longitudinal " +
    "cross-sectional national european social political economic public").split(" ").toVector

  private def pick[A](rng: Random, xs: Seq[A]): A = xs(rng.nextInt(xs.size))

  private def weighted(rng: Random, ws: Seq[Double]): Int = {
    var x = rng.nextDouble() * ws.sum
    var i = 0
    while (i < ws.size - 1 && x >= ws(i)) { x -= ws(i); i += 1 }
    i
  }

  private def words(rng: Random, n: Int): String =
    Seq.fill(n)(pick(rng, Words)).mkString(" ")

  private def la(rng: Random, n: Int, lang: String): LangAttr =
    LangAttr(words(rng, n), lang)

  /** Whole seconds: `until` has second granularity. */
  private def stamp(rng: Random, fromMs: Long, toMs: Long): Long =
    (fromMs + (rng.nextDouble() * (toMs - fromMs)).toLong) / 1000 * 1000

  def newId(rng: Random): String = f"cdc-${rng.nextLong() & 0xffffffffffffL}%012x"

  /** One study. `updatedMs` is its datestamp; a deleted study keeps its
    * identity and provenance but is served header-only.
    */
  def study(rng: Random, id: String, number: Int, updatedMs: Long, deleted: Boolean): Study = {
    val titleLangs = rng.shuffle(Langs).take(1 + rng.nextInt(3)) match {
      case ls if rng.nextInt(4) > 0 && !ls.contains("en") => "en" +: ls.tail
      case ls => ls
    }
    val src = Sources(weighted(rng, SourceWeights))
    val hops = 1 + rng.nextInt(3)
    val provenance = (0 until hops).map { h =>
      Provenance(
        harvest_date = iso(updatedMs - h * 86400000L),
        altered = rng.nextBoolean(),
        base_url = if (h == 0) src.url else f"https://upstream$h.example.org/oai/${rng.nextInt(40)}%02d",
        identifier = s"oai:${src.source.toLowerCase}:$number/$h",
        datestamp = iso(updatedMs - h * 3600000L),
        direct = h == 0,
        metadata_namespace = "ddi:codebook:2_5")
    }
    val createdMs = math.max(BaseFrom, updatedMs - rng.nextInt(400) * 86400000L)
    val openAire = rng.nextBoolean()
    val identifiers =
      (if (openAire) Seq(LangAttr(f"10.${1000 + rng.nextInt(9000)}/$number", "en",
        agency = pick(rng, Seq("DOI", "Handle", "URN"))))
       else Nil) :+ LangAttr(s"${src.source}-$number", "en", agency = pick(rng, Seq("Local", "Other")))
    val year = 2000 + rng.nextInt(24)
    def vocab(field: String) =
      Seq(LangAttr(words(rng, 2), "en", system_name = s"DDI $field",
        uri = s"urn:ddi:vocab:$field", description = words(rng, 3)))
    Study(
      study_number = s"SN$number",
      _aggregator_identifier = id,
      _direct_base_url = src.url,
      _metadata = RecordMeta(
        status = if (deleted) RecordStatus.Deleted
                 else if (createdMs == updatedMs) RecordStatus.Created else RecordStatus.Updated,
        created = new Timestamp(createdMs),
        updated = new Timestamp(updatedMs),
        deleted = if (deleted) new Timestamp(updatedMs) else null),
      _provenance = provenance,
      identifiers = identifiers,
      study_titles = titleLangs.map(l => la(rng, 6 + rng.nextInt(6), l)),
      parallel_study_titles = if (rng.nextBoolean()) Seq(la(rng, 5, pick(rng, Langs))) else Nil,
      document_titles = Seq(la(rng, 6, titleLangs.head)),
      principal_investigators = Seq.fill(1 + rng.nextInt(3))(
        LangAttr(words(rng, 2), "en", organization = words(rng, 3))),
      publishers = Seq.fill(1 + rng.nextInt(2))(la(rng, 3, pick(rng, titleLangs))),
      distributors = Seq.fill(rng.nextInt(3))(la(rng, 3, pick(rng, titleLangs))),
      abstracts = titleLangs.take(2).map(l => la(rng, 40 + rng.nextInt(40), l)),
      keywords = Seq.fill(2 + rng.nextInt(5))(LangAttr(pick(rng, Words), "en",
        description = if (rng.nextBoolean()) words(rng, 2) else null,
        system_name = "ELSST", uri = s"urn:elsst:${rng.nextInt(5000)}")),
      classifications = Seq.fill(1 + rng.nextInt(3))(LangAttr(words(rng, 2), "en",
        system_name = "CESSDA Topic Classification")),
      publication_years = Seq(LangAttr(s"$year", "en",
        distribution_date = if (rng.nextBoolean()) f"$year-${1 + rng.nextInt(12)}%02d-01" else null)),
      publication_dates = Seq(LangAttr(f"$year-01-01", "en")),
      distribution_dates = Seq(LangAttr(words(rng, 2), "en", distribution_date = f"$year-06-30")),
      document_uris = Seq(LangAttr(s"https://doc.example.org/$number", "en")),
      study_uris = Seq(LangAttr(s"https://study.example.org/$number", "en")),
      study_area_countries = Seq.fill(1 + rng.nextInt(2))(LangAttr(words(rng, 1), "en",
        description = pick(rng, Seq("FI", "DE", "FR", "SE", "NL", "ES", "IT", "DK", "NO", "GB")))),
      geographic_coverages = Seq(la(rng, 2, "en")),
      data_collection_copyrights = Seq(la(rng, 4, "en")),
      copyrights = Seq(la(rng, 4, "en")),
      data_access = Seq(la(rng, 8, "en")),
      data_access_descriptions = Seq(LangAttr(words(rng, 10), "en", element_version = "1.0")),
      citation_requirements = Seq(la(rng, 10, "en")),
      deposit_requirements = Seq(la(rng, 6, "en")),
      time_methods = vocab("TimeMethod"),
      sampling_procedures = vocab("SamplingProcedure"),
      collection_modes = vocab("ModeOfCollection"),
      analysis_units = vocab("AnalysisUnit"),
      research_instruments = vocab("TypeOfInstrument"),
      instruments = Seq(la(rng, 3, "en")),
      universes = Seq(la(rng, 6, "en")),
      file_names = Seq.fill(1 + rng.nextInt(2))(LangAttr(s"data_${rng.nextInt(999)}.csv", "en")),
      data_kinds = Seq(la(rng, 2, "en")),
      collection_periods = Seq(
        LangAttr(s"$year-01-01", "en", event = "start"),
        LangAttr(s"$year-12-31", "en", event = "end")),
      related_publications = Seq.fill(rng.nextInt(3))(LangAttr(words(rng, 5), "en",
        identifier = s"10.${rng.nextInt(9999)}/rp${rng.nextInt(99999)}",
        identifier_agency = pick(rng, Seq("DOI", "ISBN", "Unknown")))),
      grant_numbers = Seq.fill(rng.nextInt(3))(
        if (rng.nextBoolean()) LangAttr(s"info:eu-repo/grantAgreement/EC/H2020/${rng.nextInt(999999)}", "en", agency = "EC")
        else LangAttr(s"grant-${rng.nextInt(99999)}", "en", agency = "Other")),
      funding_agencies = Seq.fill(rng.nextInt(2))(la(rng, 3, "en")))
  }

  /** The base corpus: `n` studies with datestamps before [[IngestFrom]]. */
  def generate(seed: Long, n: Int): Vector[Study] = {
    val rng = new Random(seed)
    val ids = scala.collection.mutable.LinkedHashSet.empty[String]
    while (ids.size < n) ids += newId(rng)
    ids.toVector.zipWithIndex.map { case (id, i) =>
      study(rng, id, i, stamp(rng, BaseFrom, IngestFrom), rng.nextInt(7) == 0)
    }
  }

  def truthOf(studies: Iterable[Study]): Truth =
    new Truth(studies.iterator.map(s => s._aggregator_identifier -> Rec.of(s)).toMap)

  /** Batch `k` against the state `live`: about 60% updates of live
    * records, 20% inserts, 15% soft deletes and 5% tombstones. Batch
    * datestamps rise with `k` and stay before [[Now]].
    */
  def batch(seed: Long, k: Int, size: Int, live: Map[String, Study], numberBase: Int): Batch = {
    val rng = new Random(seed * 1000003L + k)
    val slot = (Now.getTime - IngestFrom) / 4096
    val lo = IngestFrom + k.toLong * slot
    val keys = live.keys.toVector.sorted
    val chosen = scala.collection.mutable.LinkedHashSet.empty[String]
    val up = Seq.newBuilder[Study]
    val del = Seq.newBuilder[Study]
    var i = 0
    while (i < size) {
      val roll = rng.nextInt(100)
      val when = stamp(rng, lo, lo + slot)
      if (roll < 20) {
        val id = newId(rng)
        if (!live.contains(id) && chosen.add(id))
          up += study(rng, id, numberBase + i, when, deleted = false)
      } else {
        val id = keys(rng.nextInt(keys.size))
        if (chosen.add(id)) {
          val old = live(id)
          if (roll < 80) up += study(rng, id, numberBase + i, when, deleted = false)
            .copy(_provenance = old._provenance, _direct_base_url = old._direct_base_url)
          else if (roll < 95) up += old.copy(_metadata = old._metadata.copy(
            status = RecordStatus.Deleted, updated = new Timestamp(when),
            deleted = new Timestamp(when)))
          else del += old
        }
      }
      i += 1
    }
    Batch(up.result(), del.result())
  }

  /** `live` after `b` commits. */
  def apply(live: Map[String, Study], b: Batch): Map[String, Study] =
    live ++ b.upserts.map(s => s._aggregator_identifier -> s) --
      b.tombstones.map(_._aggregator_identifier)
}
