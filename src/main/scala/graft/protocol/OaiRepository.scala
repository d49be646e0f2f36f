package graft.protocol

import java.sql.Timestamp
import java.time.{Instant, LocalDate, ZoneOffset}

import graft.formats.{FormatColumns, MetadataFormat, MetadataFormats}
import graft.query._
import graft.render.OaiXml
import graft.sets.SetFamily
import org.apache.spark.sql.{DataFrame, Row}

import scala.xml.{Elem, NodeSeq}

/** Repository configuration (reference: serve.py:74-87 + kuha controller
  * settings; Identify content per tests/test_serve.py:210-214,1489-1493).
  */
final case class OaiConfig(
    baseUrl: String = "http://localhost:6003/v0/oai",
    repositoryName: String = "CDC Aggregator",
    adminEmail: String = "admin@example.org",
    deletedRecord: String = "transient", // transient | persistent
    listSize: Int = 500,
    // per-metadata-format page-size overrides, as the reference's
    // --oai-pmh-list-size-oai-{dc,ddi25,datacite} flags
    // (metadataformats.py:514-519,615-620,696-708); fall back to listSize
    listSizeByPrefix: Map[String, Int] = Map.empty,
    stylesheet: Option[String] = None) {

  def listSizeFor(metadataPrefix: String): Int =
    listSizeByPrefix.getOrElse(metadataPrefix, listSize)
}

/** The OAI-PMH verb surface over a Spark-backed study corpus — the engine
  * analogue of the reference's Tornado handlers (SURVEY.md §3). Protocol
  * plumbing is driver-side; every data touch goes through a
  * [[HarvestStore]] ([[StudyStore]] over one frame, or [[TxStudyStore]]
  * for snapshot-pinned harvests off a TxTable) as one declarative
  * Spark plan.
  */
/** Transport context for one request — what Tornado hands the reference's
  * log_request (metrics.py:224-246): the caller's User-Agent and the HTTP
  * status the transport will emit (OAI errors are in-band, so status is
  * 200 unless the transport itself failed).
  */
final case class RequestContext(
    userAgent: Option[String] = None,
    httpStatus: Int = 200)

final class OaiRepository(
    store: HarvestStore,
    sets: Seq[SetFamily],
    config: OaiConfig = OaiConfig(),
    now: () => Timestamp = () => new Timestamp(System.currentTimeMillis()),
    metrics: Option[graft.metrics.RequestMetrics] = None,
    nanoTime: () => Long = () => System.nanoTime()) {

  private def respond(
      verb: Option[String],
      attrs: Map[String, String],
      body: NodeSeq): String =
    OaiXml.envelope(verb, attrs, config.baseUrl, now(), body, config.stylesheet)

  /** Route a request; OAI errors are in-band XML, never exceptions to the
    * caller (tests/test_serve.py:204-206). When a [[RequestMetrics]] is
    * wired, every request is counted with the reference's log_request
    * semantics: success/failure split at HTTP 300, durations observed
    * only for successful non-OAI-error responses (metrics.py:224-246).
    */
  def handle(
      params: Map[String, String],
      ctx: RequestContext = RequestContext()): String = {
    val t0 = nanoTime()
    var oaiError = false
    // the reference's log_request runs for EVERY request — a crashed
    // verb (engine failure → transport 500) must still count as failed
    var status = ctx.httpStatus
    try {
      val response =
        try dispatch(params)
        catch {
          case OaiError(code, msg) =>
            oaiError = true
            respond(params.get("verb"), Map.empty, OaiXml.error(code, msg))
        }
      response
    } catch {
      case e: Throwable =>
        status = 500
        throw e
    } finally {
      metrics.foreach(_.record(
        params.get("verb"), params.get("metadataPrefix"), ctx.userAgent,
        status, oaiError, (nanoTime() - t0) / 1e6))
    }
  }

  private def dispatch(params: Map[String, String]): String = {
    val verb = params.get("verb")
    verb match {
      case Some("Identify")            => identify()
      case Some("ListMetadataFormats") =>
        listMetadataFormats(params.get("identifier"))
      case Some("ListSets")            => listSets()
      case Some("GetRecord") =>
        getRecord(
          params.getOrElse("identifier", throw OaiError("badArgument", "identifier required")),
          params.getOrElse("metadataPrefix", throw OaiError("badArgument", "metadataPrefix required")))
      case Some(v @ ("ListRecords" | "ListIdentifiers")) =>
        list(v, params)
      case Some(other) => throw OaiError("badVerb", s"unknown verb '$other'")
      case None        => throw OaiError("badVerb", "verb argument is required")
    }
  }

  def identify(): String = {
    // earliest datestamp computed from the corpus (min header datestamp,
    // incl. deletion times); epoch fallback for an empty store
    val earliest = Collect.rows(store.studies
      .agg(org.apache.spark.sql.functions.min(FormatColumns.headerDatestamp)))
      .headOption.map(_.getTimestamp(0)).filter(_ != null)
      .map(OaiXml.isoDate).getOrElse("1970-01-01T00:00:00Z")
    respond(Some("Identify"), Map.empty,
      <Identify>
        <repositoryName>{config.repositoryName}</repositoryName>
        <baseURL>{config.baseUrl}</baseURL>
        <protocolVersion>2.0</protocolVersion>
        <adminEmail>{config.adminEmail}</adminEmail>
        <earliestDatestamp>{earliest}</earliestDatestamp>
        <deletedRecord>{config.deletedRecord}</deletedRecord>
        <granularity>YYYY-MM-DDThh:mm:ssZ</granularity>
      </Identify>)
  }

  /** With an identifier, only the formats able to disseminate THAT record
    * are listed (each format's validity filter applied to the record);
    * unknown id → idDoesNotExist. Without one, all registered formats.
    */
  def listMetadataFormats(identifier: Option[String] = None): String = {
    val formats = identifier match {
      case None => MetadataFormats.all
      case Some(id) =>
        // one single-row scan deriving every format's validity at once
        val valid = store
          .queryFlags(FilterDsl.byIdentifier(id),
            MetadataFormats.all.map(f => f.prefix -> f.validFilter))
          .getOrElse(throw OaiError("idDoesNotExist", id))
        MetadataFormats.all.filter(f => valid.contains(f.prefix))
    }
    respond(Some("ListMetadataFormats"),
      identifier.map("identifier" -> _).toMap,
      <ListMetadataFormats>
        {formats.map(f =>
          <metadataFormat>
            <metadataPrefix>{f.prefix}</metadataPrefix>
            <schema>{f.schemaLocation}</schema>
            <metadataNamespace>{f.metadataNamespace}</metadataNamespace>
          </metadataFormat>)}
      </ListMetadataFormats>)
  }

  /** ListSets = per-family enumeration: YAML families list config, the
    * language family runs the Q3 distinct (tests/test_serve.py:1198-1227).
    */
  def listSets(): String =
    respond(Some("ListSets"), Map.empty,
      <ListSets>
        {sets.flatMap(_.enumerate(store.studies)).map(s =>
          <set>
            <setSpec>{s.spec}</setSpec>
            <setName>{s.name}</setName>
            {s.description.toSeq.map(d => <setDescription>{d}</setDescription>)}
          </set>)}
      </ListSets>)

  private def format(prefix: String): MetadataFormat =
    MetadataFormats.byPrefix(prefix).getOrElse(
      throw OaiError("cannotDisseminateFormat", s"unknown metadataPrefix '$prefix'"))

  /** GetRecord (SURVEY.md §3.1): point filter, per-format projection +
    * derivation, single-row collect, render. datacite's validity filter
    * makes id-less records idDoesNotExist (metadataformats.py:733-739).
    */
  def getRecord(identifier: String, metadataPrefix: String): String = {
    val fmt = format(metadataPrefix)
    val fields =
      (fmt.recordFields ++ FormatColumns.headerFields ++ sets.flatMap(_.fields)).distinct
    val filter = And(FilterDsl.byIdentifier(identifier), fmt.validFilter)
    val row = Collect.rows(store.studies
      .filter(filter.toColumn)
      .select(fields.map(org.apache.spark.sql.functions.col): _*)
      .transform(df => FormatColumns.withHeader(df, sets))
      .transform(fmt.derive)
      .limit(1)).headOption
      .getOrElse(throw OaiError("idDoesNotExist", identifier))
    respond(Some("GetRecord"),
      Map("identifier" -> identifier, "metadataPrefix" -> metadataPrefix),
      <GetRecord>{renderRecord(row, fmt, full = true)}</GetRecord>)
  }

  /** ListRecords / ListIdentifiers (SURVEY.md §3.2): conjunctive filter
    * (datestamp window + set filter + format validity), keyset-paged with
    * resumption tokens: page, then count only when the first page is full.
    */
  def list(verb: String, params: Map[String, String]): String = {
    val token = params.get("resumptionToken").map(ResumptionToken.decode)
    // OAI-PMH §3.5: resumptionToken is an EXCLUSIVE argument — the token
    // carries its originating request state, so a bare-token page-2
    // request continues the same list. Explicit args that contradict the
    // token are a badArgument; matching ones are tolerated.
    val eff: Map[String, String] = token match {
      case Some(t) =>
        t.args.foreach { case (k, v) =>
          params.get(k).filter(_ != v).foreach(pv =>
            throw OaiError("badArgument",
              s"$k='$pv' conflicts with the resumptionToken's '$v'"))
        }
        params ++ t.args
      case None => params
    }
    val prefix = eff.getOrElse("metadataPrefix",
      throw OaiError("badArgument", "metadataPrefix required"))
    val fmt = format(prefix)
    // OAI-PMH 2.0 §3.3.1: from and until MUST share one granularity —
    // a date-only from with a full-datetime until is a badArgument
    (eff.get("from"), eff.get("until")) match {
      case (Some(f), Some(u)) if (f.length == 10) != (u.length == 10) =>
        throw OaiError("badArgument",
          s"from/until granularity mismatch: '$f' vs '$u'")
      case _ => ()
    }
    val from = eff.get("from").map(parseDate)
    val until = eff.get("until").map(parseUntil)
    val setFilter: Filter = eff.get("set") match {
      case None => True
      case Some(spec) =>
        val (p, value) = spec.span(_ != ':')
        val family = sets.find(_.prefix == p).getOrElse(
          throw OaiError("badArgument", s"unknown set '$spec'"))
        family.filterFor(if (value.isEmpty) None else Some(value.drop(1)))
    }
    val filter = And(
      FilterDsl.harvestWindow(now(), from, until),
      setFilter,
      fmt.validFilter)
    val fingerprint = ResumptionToken.fingerprint(
      verb, prefix, eff.getOrElse("set", ""),
      eff.getOrElse("from", ""), eff.getOrElse("until", ""))
    val fields =
      (fmt.recordFields ++ FormatColumns.headerFields ++ sets.flatMap(_.fields)).distinct

    val harvestArgs = Seq("metadataPrefix", "set", "from", "until")
      .flatMap(k => eff.get(k).map(k -> _)).toMap
    val page = store.queryPage(
      filter, fields, config.listSizeFor(prefix), token, fingerprint,
      df => fmt.derive(FormatColumns.withHeader(df, sets)),
      tokenArgs = harvestArgs)
    if (page.rows.isEmpty && token.isEmpty)
      throw OaiError("noRecordsMatch", "no records match the request")

    val headersOnly = verb == "ListIdentifiers"
    val items = page.rows.map(r =>
      if (headersOnly) headerOf(r) else renderRecord(r, fmt, full = true))
    val tokenElem: NodeSeq = page.token match {
      case Some(t) =>
        <resumptionToken completeListSize={page.completeListSize.toString}
                         cursor={t.cursor.toString}>{t.encode}</resumptionToken>
      case None if token.isDefined =>
        // terminal empty token closes the list (templates/agg_list_records.xml:20)
        <resumptionToken completeListSize={page.completeListSize.toString}/>
      case None => NodeSeq.Empty
    }
    // echo what the CLIENT sent (a bare-token request echoes the token,
    // not the reconstructed harvest args)
    val attrs = Seq("metadataPrefix", "set", "from", "until", "resumptionToken")
      .flatMap(k => params.get(k).map(k -> _)).toMap
    val body: Elem =
      if (headersOnly) <ListIdentifiers>{items}{tokenElem}</ListIdentifiers>
      else <ListRecords>{items}{tokenElem}</ListRecords>
    respond(Some(verb), attrs, body)
  }

  private def headerOf(r: Row): Elem =
    OaiXml.header(
      r.getAs[String]("oai_identifier"),
      r.getAs[Timestamp]("oai_datestamp"),
      Option(r.getAs[scala.collection.Seq[String]]("oai_sets")).getOrElse(Nil),
      r.getAs[Boolean]("oai_deleted"))

  private def renderRecord(r: Row, fmt: MetadataFormat, full: Boolean): Elem = {
    val deleted = r.getAs[Boolean]("oai_deleted")
    val metadata =
      if (deleted) None
      else fmt.prefix match {
        case "oai_dc"       => Some(OaiXml.oaiDcMetadata(r))
        case "oai_ddi25"    => Some(OaiXml.oaiDdiMetadata(r))
        case "oai_datacite" => Some(OaiXml.oaiDataciteMetadata(r))
        case _              => None
      }
    val about =
      if (deleted) NodeSeq.Empty
      else OaiXml.provenance(Option(r.getAs[scala.collection.Seq[Row]]("_provenance")).getOrElse(Nil))
    OaiXml.record(headerOf(r), metadata, about, deleted)
  }

  /** A date-only argument is a UTC day, like every datestamp the
    * repository renders ([[OaiXml]] `IsoFmt`), never the JVM's zone.
    */
  private def parseDate(s: String): Timestamp =
    parseStamp(s, _.atStartOfDay(ZoneOffset.UTC).toInstant)

  /** A date-granularity `until` bounds the WHOLE day (OAI-PMH §3.3.1 —
    * `until=2024-01-15` with the repository's second granularity means
    * `<= 2024-01-15T23:59:59Z`, not midnight-exclusive).
    */
  private def parseUntil(s: String): Timestamp =
    parseStamp(s, _.atTime(23, 59, 59).toInstant(ZoneOffset.UTC))

  private def parseStamp(s: String, day: LocalDate => Instant): Timestamp =
    try Timestamp.from(
      if (s.length == 10) day(LocalDate.parse(s)) else Instant.parse(s))
    catch {
      case _: Exception => throw OaiError("badArgument", s"bad date '$s'")
    }
}
